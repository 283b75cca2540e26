"""%eval:fun(args)% inline template expressions (T14)."""

import pytest
from pyspark.sql import functions as F

from pyrml_spark.template_expr import EvalParseError, parse_eval
from pyrml_spark.functions.registry import default_registry
from pyrml_spark.terms import CompileCtx, compile_template_raw, with_raws


def test_parse_eval_ast():
    ast = parse_eval("concat('{A}', *, 'x', 42, nested(1.5, True))")
    assert ast[0] == "call" and ast[1] == "concat"
    kinds = [a[0] for a in ast[2]]
    assert kinds == ["str", "row", "str", "num", "call"]
    nested = ast[2][4]
    assert nested[1] == "nested"
    assert nested[2] == [("num", 1.5), ("const", True)]


def test_parse_eval_rejects_garbage():
    with pytest.raises(EvalParseError):
        parse_eval("fun(")
    with pytest.raises(EvalParseError):
        parse_eval("fun(1) trailing")


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [("Alice Jones", "HELLO"), ("Bob", "WoRlD")], ["NAME", "WORD"]
    )


def _eval_template(df, template, iri_mode=False):
    ctx = CompileCtx(columns=df.columns, functions=default_registry())
    sql = compile_template_raw(ctx, template, iri_mode)
    return [
        r["v"]
        for r in with_raws(ctx, df).select(F.expr(sql).alias("v")).collect()
    ]


def test_eval_in_template_builtin_short_name(df):
    got = _eval_template(df, "id-%eval:toLowerCase('{WORD}')%-end")
    assert got == ["id-hello-end", "id-world-end"]


def test_eval_with_constant_and_placeholder_args(df):
    got = _eval_template(df, "%eval:string_split('{NAME}', ' ')%")
    # array result cast to string (single-part template)
    assert got[0] in ("[Alice, Jones]", "['Alice', 'Jones']")


def test_eval_with_custom_registered_python_function(spark, df):
    reg = default_registry()
    reg.register_python("my_reverse", lambda s: s[::-1])
    ctx = CompileCtx(columns=df.columns, functions=reg)
    sql = compile_template_raw(ctx, "x-%eval:my_reverse('{WORD}')%", False)
    got = [
        r["v"]
        for r in with_raws(ctx, df).select(F.expr(sql).alias("v")).collect()
    ]
    assert got == ["x-OLLEH", "x-DlRoW"]


def test_eval_md5(df):
    got = _eval_template(df, "%eval:string_md5('{WORD}')%")
    import hashlib

    assert got[0] == hashlib.md5(b"HELLO").hexdigest()
