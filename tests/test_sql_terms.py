"""Term maps compile to Spark SQL text: the quoting helpers, the scan floor
the compiler applies, and the py4j round-trip budget of one compile."""

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyrml_spark import testdata_rml as TD
from pyrml_spark.compiler import RMLCompiler
from pyrml_spark.parse_mapping import parse_mapping
from pyrml_spark.scan import parallelize_scan
from pyrml_spark.terms import CompileCtx, source_col, sql_ident, sql_lit

ESCAPED = "spark.sql.parser.escapedStringLiterals"

# fragments the two parser modes (or SQL itself) read specially, mixed
# with arbitrary unicode
_tricky = st.sampled_from(list("\\'\"\n\t\r{}`%$;-/*")
                          + ["\\u0041", "''", "\\'", "--", "/*"])
_texts = st.lists(
    st.lists(st.one_of(_tricky, st.characters(codec="utf-8")),
             max_size=24).map("".join),
    min_size=1, max_size=8)


@settings(max_examples=20, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(values=_texts)
def test_sql_lit_round_trips_under_both_parser_settings(spark, values):
    try:
        for escaped in ("false", "true"):
            spark.conf.set(ESCAPED, escaped)
            row = spark.range(1).select(
                *[F.expr(sql_lit(v)).alias(f"c{i}")
                  for i, v in enumerate(values)]).collect()[0]
            assert list(row) == values, escaped
    finally:
        spark.conf.unset(ESCAPED)


def test_sql_ident_quotes_backtick_and_dot(spark):
    name = "we`ird.name"
    df = spark.createDataFrame([("v1", 7)], [name, "n"])
    assert df.selectExpr(sql_ident(name)).collect()[0][0] == "v1"
    ctx = CompileCtx(columns=df.columns)
    assert df.select(F.expr(source_col(ctx, "WE`IRD.NAME"))).collect()[0][0] \
        == "v1"


def _write_parquet(path, n=2000):
    pq.write_table(pa.table({"k": list(range(n)),
                             "v": [f"value {i}" for i in range(n)]}), path)
    return os.path.getsize(path)


def test_scan_floor_follows_max_partition_bytes(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    n_bytes = _write_parquet(path)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert target > 1

    def floored() -> bool:
        df = parallelize_scan(spark, spark.read.parquet(path), path)
        return "RoundRobinPartitioning" in \
            df._jdf.queryExecution().executedPlan().toString()

    # default 128 MB splits: one split < target, so the floor repartitions
    assert floored()
    try:
        # splits of n_bytes / target bytes: the scan reaches the target alone
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(n_bytes // target))
        assert not floored()
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       f"{n_bytes // (target - 1) + 1}b")
        assert floored()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


# ---------------------------------------------------------------------------
# an 8-map document shaped like the rml_convert benchmark: parquet, CSV,
# JSON and XML sources; template, reference, constant, class and datatype
# terms; an rr:joinCondition; GREL functions and the multi-valued split
# ---------------------------------------------------------------------------

def _small_map(kind, source):
    ls = {
        "csv": f'[ rml:source "{source}" ; rml:referenceFormulation ql:CSV ]',
        "json": (f'[ rml:source "{source}" ; rml:referenceFormulation '
                 'ql:JSONPath ; rml:iterator "$.records[*]" ]'),
        "xml": (f'[ rml:source "{source}" ; rml:referenceFormulation '
                'ql:XPath ; rml:iterator "/records/rec" ]'),
    }[kind]
    return f"""
<#{kind.upper()}> rml:logicalSource {ls} ;
  rr:subjectMap [ rr:template "http://ex.com/{kind}/item/{{id}}" ;
                  rr:class ex:{kind.capitalize()}Item ] ;
  rr:predicateObjectMap [ rr:predicate ex:label ;
    rr:objectMap [ rml:reference "label" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:category ;
    rr:objectMap [ rr:template "http://ex.com/category/{{cat}}" ;
                   rr:termType rr:IRI ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:qty ;
    rr:objectMap [ rml:reference "qty" ; rr:datatype xsd:integer ] ] .
"""


@pytest.fixture(scope="module")
def convert_doc(tmp_path_factory):
    d = tmp_path_factory.mktemp("rml_convert_doc")
    n = 60
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([i % 25 for i in range(n)], pa.int32()),
        "c_acctbal": [i * 10.25 - 99 for i in range(n)],
        "c_mktsegment": ["BUILDING", "MACHINERY", "HOUSEHOLD"] * (n // 3),
    }), str(d / "customer.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(3 * n), pa.int64()),
        "o_custkey": pa.array([i % n for i in range(3 * n)], pa.int64()),
    }), str(d / "orders.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n // 3), pa.int64()),
        "text": [f"doc {i} alpha beta" for i in range(n // 3)],
    }), str(d / "documents.parquet"))
    recs = [(i, f"item {i}", ["a", "b", "c"][i % 3], i * 7) for i in range(30)]
    with open(d / "items.csv", "w", encoding="utf-8") as f:
        f.write("id,label,cat,qty\n")
        f.writelines(f"{a},{b},{c},{q}\n" for a, b, c, q in recs)
    with open(d / "items.json", "w", encoding="utf-8") as f:
        json.dump({"records": [{"id": a, "label": b, "cat": c, "qty": q}
                               for a, b, c, q in recs]}, f)
    with open(d / "items.xml", "w", encoding="utf-8") as f:
        f.write("<records>\n")
        f.writelines(f'<rec id="{a}"><label>{b}</label><cat>{c}</cat>'
                     f"<qty>{q}</qty></rec>\n" for a, b, c, q in recs)
        f.write("</records>\n")
    text = (TD._PRELUDE + TD._CUSTOMER_MAP + TD._ORDERS_JOIN_MAP
            + TD._FUNCTION_MAP + TD._SPLIT_MAP
            + "".join(_small_map(k, str(d / f"items.{k}"))
                      for k in ("csv", "json", "xml")))
    return str(d), text


def _plan(spark, doc):
    d, text = doc
    return parse_mapping(text, template_vars={"sf": d})


def test_convert_doc_shape(spark, convert_doc):
    plan = _plan(spark, convert_doc)
    assert len(plan.triples_maps) == 8
    kinds = {ls.kind for tm in plan.triples_maps for ls in tm.sources}
    assert kinds == {"parquet", "csv", "json", "xml"}
    out = RMLCompiler(spark, plan).compile()
    # 60 customers × 4 + 180 orders × 2 + 60 × 2 functions + 20 docs × 4
    # tokens + 3 × 30 items × 4
    assert out.count() == 240 + 360 + 120 + 80 + 360


def test_compile_round_trip_budget(spark, convert_doc):
    """Building the plan is a handful of py4j calls per branch, not one
    per expression node: a return to per-node Column building (≈8,000
    round trips for this document) fails here."""
    from pyspark.sql.utils import is_remote

    if is_remote():
        pytest.skip("counts classic py4j round trips")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    plan = _plan(spark, convert_doc)
    client.send_command = counting
    try:
        RMLCompiler(spark, plan).compile()
    finally:
        del client.send_command
    assert 0 < calls[0] <= 1500, calls[0]


def test_broadcast_parent_scan_is_not_floored(spark, convert_doc):
    """The broadcast build side is collected to the driver whole; a scan
    floor under it would only add a shuffle stage."""
    d, _ = convert_doc
    plan = parse_mapping(TD._PRELUDE + TD._ORDERS_JOIN_MAP,
                         template_vars={"sf": d})
    df = RMLCompiler(spark, plan).compile()
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    starts = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert starts, "\n".join(lines)
    for i in starts:
        depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        sub = []
        for ln in lines[i + 1:]:
            if len(ln) - len(ln.lstrip(" :+-")) <= depth:
                break
            sub.append(ln)
        assert not any(re.search("RoundRobinPartitioning", ln)
                       for ln in sub), "\n".join(lines)
    # the orders branch itself keeps its floor
    assert any("RoundRobinPartitioning" in ln for ln in lines)


def test_function_over_eval_template_materializes_in_order(spark, tmp_path):
    """A function map whose parameter is a template with an %eval% call:
    the eval's raw column must exist before the function's own is built
    on it (two dependency levels)."""
    src = tmp_path / "words.csv"
    src.write_text("ID,WORD\n1,HeLLo\n2,World\n", encoding="utf-8")
    text = TD._PRELUDE + f"""
<#W> rml:logicalSource [ rml:source "{src}" ;
                         rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/w/{{ID}}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:shout ;
    rr:objectMap [ fnml:functionValue [
      rr:predicateObjectMap [ rr:predicate fno:executes ;
        rr:objectMap [ rr:constant grel:toUpperCase ] ] ;
      rr:predicateObjectMap [ rr:predicate grel:valueParameter ;
        rr:objectMap [ rr:template "%eval:toLowerCase('{{WORD}}')%-x" ;
                       rr:termType rr:Literal ] ]
    ] ] ] .
"""
    out = RMLCompiler(spark, parse_mapping(text)).compile()
    assert sorted(r["o"] for r in out.collect()) == ['"HELLO-X"', '"WORLD-X"']
