"""Output checks, evaluated in DuckDB independently of Spark.

Every check reduces a set of N-Quads lines to a digest: the line count and
an order-independent hash (the sum of DuckDB's 64-bit ``hash`` of every
line). The engine's output and the oracle's expectation must have equal
digests. A duplicated, missing or altered line changes the digest.
"""

from __future__ import annotations

from typing import Tuple

import duckdb

from pyrml_spark import testdata_rml as T
from pyrml_spark.kg import entry

Digest = Tuple[int, int]

_NQ_LINE = ("s || ' ' || p || ' ' || o || coalesce(' ' || g, '') || ' .'")


def _digest(con: duckdb.DuckDBPyConnection, lines_sql: str) -> Digest:
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash(line)), 0) "
                   f"FROM ({lines_sql})").fetchone()
    return int(n), int(h)


def digest_text(con, glob: str) -> Digest:
    """Digest of the non-empty lines of the text files matching ``glob``."""
    return _digest(con, f"""
        SELECT line FROM (
          SELECT unnest(string_split(content, chr(10))) AS line
          FROM read_text('{glob}')) WHERE line <> ''""")


def digest_quads(con, quads_sql: str) -> Digest:
    """Digest of an (s, p, o, g) relation, rendered as N-Quads lines."""
    return _digest(con, f"SELECT {_NQ_LINE} AS line FROM ({quads_sql})")


def digest_rows(con, rows) -> Digest:
    """Digest of client-side result rows (tuples of terms)."""
    lines = ["\t".join("" if v is None else str(v) for v in r) for r in rows]
    con.execute("CREATE OR REPLACE TEMP TABLE _rows (line VARCHAR)")
    if lines:
        con.executemany("INSERT INTO _rows VALUES (?)", [[x] for x in lines])
    return _digest(con, "SELECT line FROM _rows")


def connect(tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")   # checks run between timed operations
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


# ---------------------------------------------------------------------------
# rml_convert: the engine's own oracle SQL (pyrml_spark/testdata_rml.py) for
# the parquet maps, the generator's lines for the CSV / JSON / XML maps
# ---------------------------------------------------------------------------

# (mapping text, oracle SQL) of the parquet part of the document: template,
# reference, constant, class and datatype terms; a referencing object map
# with rr:joinCondition; GREL function maps; the multi-valued split
PARQUET_PARTS = (
    (T._CUSTOMER_MAP, T.ORACLE_CUSTOMER_TERMS),
    (T._ORDERS_JOIN_MAP, T.ORACLE_ORDERS_JOIN),
    (T._FUNCTION_MAP, T.ORACLE_FUNCTION),
    (T._SPLIT_MAP, T.ORACLE_SPLIT),
)


def rml_mapping_text(extra_maps: str) -> str:
    return T._PRELUDE + "".join(m for m, _ in PARQUET_PARTS) + extra_maps


def rml_expected(con, tables: dict, extra_lines: str) -> Digest:
    """Digest of the whole document's output: the set union of the oracle
    SQL over ``tables`` and the lines in the file ``extra_lines``."""
    for name, path in tables.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    union = " UNION ".join(f"({sql})" for _, sql in PARQUET_PARTS)
    return _digest(con, f"""
        SELECT DISTINCT line FROM (
          SELECT {_NQ_LINE} AS line FROM ({union})
          UNION ALL
          SELECT unnest(string_split(content, chr(10)))
          FROM read_text('{extra_lines}')) WHERE line <> ''""")


# ---------------------------------------------------------------------------
# kg_serve: the pipeline oracle of pyrml_spark/kg/entry.py, re-rooted on the
# generated documents instead of its own md5 corpus
# ---------------------------------------------------------------------------

def kg_triples_sql(documents: str) -> str:
    """entry's oracle CTEs from ``mentions`` on, over the spans of the
    generated ``documents`` parquet file."""
    tail = entry._GEN_PREFIX[entry._GEN_PREFIX.index("mentions AS ("):]
    flat = f"""WITH flat AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS span_idx, spans[i].kind AS kind,
         spans[i].text AS text, spans[i].media_ref AS media_ref,
         spans[i]."offset" AS "offset"
  FROM (SELECT doc_id, spans, generate_subscripts(spans, 1) AS i
        FROM read_parquet('{documents}'))),
"""
    return flat + tail + entry._TRIPLES_CTES + """
SELECT DISTINCT s, p, o, g FROM (
  SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
)"""


def kg_expected(con, documents: str) -> Digest:
    return digest_quads(con, kg_triples_sql(documents))


def kg_actual(con, triples_dir: str) -> Digest:
    return digest_quads(con, f"SELECT s, p, o, g FROM read_parquet("
                             f"'{triples_dir}/**/*.parquet')")
