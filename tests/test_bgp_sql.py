"""SPARQL serving over the triples table: each BGP runs as one SQL
statement (kg/query.py), a constant DESCRIBE is one pushed filter, and
seeded property-path reach (kg/sparql.py)."""

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyrml_spark.kg.query import kg_query
from pyrml_spark.kg.sparql import _term_lexical, sparql_describe, sparql_select
from pyrml_spark.terms import sql_lit

ESCAPED = "spark.sql.parser.escapedStringLiterals"
P = "<http://e/p>"
Q = "<http://e/q>"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------ round trips


def test_bgp_round_trip_budget(spark):
    """Building one 4-pattern BGP is a handful of py4j calls, not one per
    DataFrame call per pattern (≈370 when each pattern was a chain of
    filter/select/join calls)."""
    from pyspark.sql.utils import is_remote

    if is_remote():
        pytest.skip("counts classic py4j round trips")
    t = spark.createDataFrame(
        [("<a>", P, "<b>"), ("<b>", Q, "<c>"), ("<c>", P, "<d>"),
         ("<d>", Q, "<e>")], ["s", "p", "o"])
    # warm: the first statement of a session resolves py4j classes once
    kg_query(t, [("?a", P, "?b")])
    patterns = [("?a", P, "?b"), ("?b", Q, "?c"), ("?c", P, "?d"),
                ("?d", Q, "?e")]
    # a scan filter (one pattern's variables) and a post filter (two)
    filters = ["a LIKE '<%'", "a <> e"]
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        df = kg_query(t, patterns, filters=filters)
    finally:
        del client.send_command
    assert 0 < calls[0] <= 40, calls[0]
    assert _rows(df) == [("<a>", "<b>", "<c>", "<d>", "<e>")]


# ------------------------------------------------------- SQL-text safety

# characters SQL, the two parser modes, or str.format read specially
_tricky = st.sampled_from(["'", "\\", '"', "`", "\n", "{", "}", "{t}", "--",
                           "/*", "x", "xx", "a"])
_bodies = st.lists(st.lists(_tricky, max_size=8).map("".join),
                   min_size=1, max_size=3, unique=True)


def _sparql_string(body: str) -> str:
    """``body`` as a SPARQL string literal (also the engine's encoding)."""
    return '"' + (body.replace("\\", "\\\\").replace('"', '\\"')
                  .replace("\n", "\\n")) + '"'


def _iri(body: str) -> str:
    return "<http://e/" + body + ">"


@settings(max_examples=4, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(bodies=_bodies)
@example(bodies=["{t}", "x{2}'\\", 'a"--/*`'])
def test_tricky_constants_match_python_filter(spark, bodies):
    rows = []
    for i, b in enumerate(bodies):
        rows += [(f"<s{i}>", P, _sparql_string(b)), (f"<s{i}>", Q, _iri(b))]
    rows.append(("<decoy>", P, _sparql_string(bodies[0] + "z")))
    t = spark.createDataFrame(rows, ["s", "p", "o"])
    data = [tuple(r) for r in t.collect()]
    lit, iri = _sparql_string(bodies[-1]), _iri(bodies[-1])

    with_p = [r for r in data if r[1] == P]
    by_s_q = {r[0]: r[2] for r in data if r[1] == Q}
    expected = {
        # BGP constants in the object position of both patterns
        "const": sorted({(r[0],) for r in with_p if r[2] == lit
                         and by_s_q.get(r[0]) == iri}),
        # a scan filter with the constant spliced into SQL text
        "scan": sorted({(r[0], r[2]) for r in with_p if r[2] == lit}),
        # a post filter over both patterns' variables
        "post": sorted({(r[0],) for r in with_p
                        if r[2] + by_s_q.get(r[0], "") == lit + iri}),
        "regex": sorted({(r[0],) for r in with_p
                         if re.search("x{2}", _term_lexical(r[2]))}),
    }
    queries = {
        "const": lambda: kg_query(t, [("?s", P, lit), ("?s", Q, iri)]),
        "scan": lambda: kg_query(t, [("?s", P, "?o")],
                                 filters=[f"o = {sql_lit(lit)}"]),
        "post": lambda: kg_query(
            t, [("?s", P, "?o"), ("?s", Q, "?i")], select=["s"],
            filters=[f"concat(o, i) = {sql_lit(lit + iri)}"]),
        "regex": lambda: kg_query(t, [("?s", P, "?o")], select=["s"],
                                  filters=["o RLIKE 'x{2}'"]),
    }
    sparql = {
        "const": f"SELECT DISTINCT ?s WHERE {{ ?s <http://e/p> {lit} }}",
        "scan": "SELECT DISTINCT ?s ?o WHERE { ?s <http://e/p> ?o "
                f"FILTER(?o = {lit}) }}",
        "regex": "SELECT DISTINCT ?s WHERE { ?s <http://e/p> ?o "
                 'FILTER(REGEX(?o, "x{2}")) }',
    }
    expected_sparql = dict(expected, const=sorted(
        {(r[0],) for r in with_p if r[2] == lit}))
    try:
        for escaped in ("false", "true"):
            spark.conf.set(ESCAPED, escaped)
            for name, run in queries.items():
                assert _rows(run()) == expected[name], (escaped, name)
            for name, text in sparql.items():
                assert _rows(sparql_select(t, text)) == \
                    expected_sparql[name], (escaped, name, text)
    finally:
        spark.conf.unset(ESCAPED)


# ------------------------------------------------------------- DESCRIBE


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    """A small triples table read back from parquet, as served."""
    rows = [(f"<http://e/r{i % 7}>", [P, Q][i % 2], f"<http://e/o{i}>")
            for i in range(40)]
    path = str(tmp_path_factory.mktemp("describe") / "t")
    spark.createDataFrame(rows, ["s", "p", "o"]).write.parquet(path)
    return spark.read.parquet(path)


def test_constant_describe_is_one_pushed_filter(sink, capsys):
    out = sparql_describe(
        sink, "DESCRIBE <http://e/r1> <http://e/r3>")
    out.explain(mode="formatted")
    plan = capsys.readouterr().out
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*\bIn\(s,", plan), plan
    data = [tuple(r) for r in sink.collect()]
    assert _rows(out) == sorted(
        r for r in data if r[0] in ("<http://e/r1>", "<http://e/r3>"))


def test_describe_repeated_constants_return_each_triple_once(sink):
    out = sparql_describe(
        sink, "DESCRIBE <http://e/r2> <http://e/r2> <http://e/r5> "
        "<http://e/r2>")
    data = [tuple(r) for r in sink.collect()]
    expected = sorted(r for r in data
                      if r[0] in ("<http://e/r2>", "<http://e/r5>"))
    assert len(expected) == len(set(expected)) > 0
    assert _rows(out) == expected


def test_describe_constant_and_variable(sink):
    """A DESCRIBE naming a variable keeps its constants in the resource
    set next to the variable's solutions."""
    out = sparql_describe(
        sink, "DESCRIBE <http://e/r0> ?x WHERE "
        "{ ?x <http://e/q> <http://e/o3> }")
    data = [tuple(r) for r in sink.collect()]
    xs = {r[0] for r in data if r[1] == Q and r[2] == "<http://e/o3>"}
    assert xs == {"<http://e/r3>"}
    assert _rows(out) == sorted(
        r for r in data if r[0] in xs | {"<http://e/r0>"})


# ---------------------------------------------------- seeded path reach


def test_seeded_reach_through_a_cycle(spark):
    """The seed reaches itself: each reached node is returned once."""
    nxt = "<http://c/next>"
    t = spark.createDataFrame(
        [("<http://c/a>", nxt, "<http://c/b>"),
         ("<http://c/b>", nxt, "<http://c/a>"),
         ("<http://c/b>", nxt, "<http://c/c>"),
         ("<http://c/c>", nxt, "<http://c/b>")], ["s", "p", "o"])
    every = [("<http://c/a>",), ("<http://c/b>",), ("<http://c/c>",)]
    for op in "+*":
        out = sparql_select(
            t, f"SELECT ?x WHERE {{ <http://c/a> <http://c/next>{op} ?x }}")
        assert _rows(out) == every, op
        out = sparql_select(
            t, f"SELECT ?x WHERE {{ ?x <http://c/next>{op} <http://c/c> }}")
        assert _rows(out) == every, op
