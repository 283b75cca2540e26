"""Property test: the JVM-side percent-encoder must match
``urllib.parse.quote(v, safe='')`` exactly — the reference %-encodes every
template placeholder that way (pyrml_api.py:443), so any divergence changes
emitted subject IRIs. `terms.url_encode` builds on Spark's form-encoding
``url_encode`` SQL function and patches its three known divergences (space→'+',
kept '*', encoded '~'); this fuzz pins that the patch list is complete
across arbitrary unicode."""

import urllib.parse

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyrml_spark.terms import url_encode

# mix targeted tricky characters with arbitrary unicode
_tricky = st.sampled_from(list(" +*~%/?#[]@!$&'()=:;,.<>\"\\^`{|}\u00e9\u4e2d"))
_texts = st.lists(
    st.text(alphabet=st.one_of(_tricky, st.characters(codec="utf-8")),
            max_size=24),
    min_size=1, max_size=24)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(vals=_texts)
def test_url_encode_matches_python_quote(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = [r["e"] for r in
           df.select(F.expr(url_encode("v")).alias("e")).collect()]
    exp = [urllib.parse.quote(v, safe="") for v in vals]
    assert got == exp
