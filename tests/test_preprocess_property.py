"""Property test: the Spark preprocessing chain must agree with its
pure-Python twin (the reference semantics, pdf_reader.py:390-403) on
arbitrary text, and be idempotent. The PDF sizing pass measures text
with the Python twin, so over full Unicode the two must agree on
length."""

import string

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.functions.text import (
    preprocess_str,
    preprocess_text,
)

# include the reference's interesting characters: newlines, literal
# backslash-u escapes, mixed case, punctuation
ALPHABET = string.ascii_letters + string.digits + " \n\\u" + "(){}.,"
TEXTS = st.text(alphabet=ALPHABET, max_size=200)
# full Unicode without surrogates (a lone surrogate is not valid UTF-8,
# so it cannot reach Spark), mixed with the characters above
UNICODE_TEXTS = st.text(
    alphabet=st.one_of(st.sampled_from(ALPHABET), st.characters(exclude_categories=("Cs",))),
    max_size=200,
)


def _spark_lengths(spark, texts: list[str]) -> list[int]:
    # an Arrow local relation keeps the input order through a projection
    df = spark.createDataFrame(pd.DataFrame({"text": texts}), "text string")
    return df.select(F.length(preprocess_text("text")).alias("n")).toPandas()["n"].tolist()


@pytest.mark.slow
@settings(max_examples=30, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=30))
def test_spark_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r.i: r.p for r in df.select("i", preprocess_text("text").alias("p")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == preprocess_str(t), repr(t)


@pytest.mark.slow
@settings(max_examples=30, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=30))
def test_preprocess_idempotent_modulo_escapes(spark, texts):
    # after one pass there are no newlines left; a second pass can only
    # strip newly-adjacent literal \uXXXX sequences — on escape-free
    # text the chain is exactly idempotent
    clean = [t for t in texts if "\\u" not in preprocess_str(t)]
    if not clean:
        return
    df = spark.createDataFrame([(i, t) for i, t in enumerate(clean)], "i long, text string")
    once = df.select("i", preprocess_text("text").alias("p"))
    twice = once.select("i", preprocess_text("p").alias("p"))
    assert {r.i: r.p for r in once.collect()} == {r.i: r.p for r in twice.collect()}


def test_python_twin_matches_spark_length_on_every_bmp_code_point(spark):
    """Every non-surrogate BMP code point, alone, upper-cased, and
    inside an escape-like run: equal lengths on both engines. The
    strings themselves may differ (see ``preprocess_str``)."""
    chars = [chr(c) for c in range(0x10000) if not 0xD800 <= c <= 0xDFFF]
    texts = chars + [c.upper() + "\\u00" + c + "\n\n" + c for c in chars[::7]]
    want = [len(preprocess_str(t)) for t in texts]
    got = _spark_lengths(spark, texts)
    bad = [(hex(ord(t[0])), g, w) for t, g, w in zip(texts, got, want) if g != w]
    assert not bad, bad[:10]


@settings(max_examples=30, deadline=None)
@given(st.lists(UNICODE_TEXTS, min_size=1, max_size=30))
def test_python_twin_matches_spark_length_on_full_unicode(spark, texts):
    assert _spark_lengths(spark, texts) == [len(preprocess_str(t)) for t in texts]
