"""Expected outputs, computed with DuckDB from the generated input tables.

The SQL comes from the project's own oracle twins in
`__spark_entry__.oracle_sql()`, so the benchmark checks the program
against the same closed-form definitions its correctness gates use.
"""

from __future__ import annotations

import zlib

import duckdb

import __spark_entry__ as entry

from gen import TABLES

# shacl_table's node shapes → the queries_shacl gate whose oracle twin
# counts that shape's violations
TABLE_GATES = {
    "CustOrders": "shacl_min_count",
    "CustNation": "shacl_class",
    "BalType": "shacl_datatype",
    "Balance": "shacl_min_inclusive",
    "NamePattern": "shacl_pattern",
    "LineCmp": "shacl_less_than",
    "OrShape": "shacl_logical_or",
    "CustRegion": "shacl_path_sequence",
    "SparqlShape": "shacl_sparql",
}

# Pipeline violations: every unlinkable lives-in surface (o % 11 = 0)
# stays a literal object, and the locatedIn property shape reports it
# twice (sh:nodeKind sh:IRI and sh:class ex:Nation), once per distinct
# (canonical subject, surface) candidate triple.
_KG_VIOLATIONS = f"""{entry._KG_CTE}
    SELECT 2 * count(*) FROM (
      SELECT DISTINCT canon.subj, 'XYZZY_' || (o % 3)
      FROM osurf JOIN canon ON canon.k = osurf.k
      WHERE o % 11 = 0)
"""


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def kg_expected(data_dir: str) -> dict:
    """Emitted triple count, violation count and the per-predicate
    `_manifest/partitions.json` content (rows, sum of crc32(s 0x01 o))."""
    con = _connect(data_dir)
    try:
        rows = con.execute(entry.oracle_sql()["kg_validated_triples"]).fetchall()
        violations = con.execute(_KG_VIOLATIONS).fetchone()[0]
    finally:
        con.close()
    parts: dict[str, dict] = {}
    for s, p, o in rows:
        acc = parts.setdefault(p, {"rows": 0, "content_fingerprint": 0})
        acc["rows"] += 1
        acc["content_fingerprint"] += zlib.crc32(f"{s}\x01{o}".encode())
    return {"emitted": len(rows), "violations": violations, "partitions": parts}


def table_expected(data_dir: str) -> dict[str, int]:
    """Violation count per shacl_table node shape."""
    oracles = entry.oracle_sql()
    con = _connect(data_dir)
    try:
        return {
            shape: con.execute(f"SELECT count(*) FROM ({oracles[gate]}\n)").fetchone()[0]
            for shape, gate in TABLE_GATES.items()
        }
    finally:
        con.close()
