"""Tokenizer parity: pure Python == Spark SQL expr == pandas UDF == DuckDB.

Golden cases from FIXTURES.md §5 (reference semantics
IndexService.java:159-166, 610-616)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from information_retrieval_spark.corpus import FIXTURE_DOCS
from information_retrieval_spark.functions.tokenize import (
    spark_tokenize_col,
    tokenize_pandas_udf,
)
from information_retrieval_spark.normalize import (
    duckdb_tokens_expr,
    keep,
    normalize,
    tokenize,
)


@pytest.mark.parametrize("token,expected", [
    ("PiNeApPlE", "pineapple"),           # lowercase fold
    ("'already'", "already"),             # \W stripped
    ("unusuallylongwordaddedintentionally", "unusuallylongwordaddedintentionally"),
    ("a1b2", "a1b2"),                     # short code kept
    ("queries", "query"),                 # stemmer ies->y
    ("classes", "class"),                 # stemmer sses->ss
    ("joins", "join"),                    # plural strip
    ("pineapples", "pineapple"),
    ("this", "this"),                     # -is untouched
    ("corpus", "corpus"),                 # -us untouched
])
def test_normalize_golden(token, expected):
    term = normalize(token)
    assert term == expected
    assert keep(term)


@pytest.mark.parametrize("token", ["deadbeef1234cafebabe", "!!!", "", "++--"])
def test_normalize_dropped(token):
    term = normalize(token)
    assert not keep(term)


def test_positions_count_kept_terms_only():
    # rejected tokens do not consume positions (IndexService.java:221-225)
    toks = tokenize("alpha deadbeef1234cafebabe beta !!! gamma")
    assert toks == ["alpha", "beta", "gamma"]


def _spark_tokens(spark, texts, col):
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    return [r["toks"] for r in df.select(col.alias("toks")).collect()]


def test_parity_spark_sql_vs_python(spark):
    texts = list(FIXTURE_DOCS.values()) + [
        "  Mixed CASE   tokens\twith\nnewlines 'quoted' a1b2 deadbeef1234cafebabe",
        "", "   ", "queries classes joins pineapples this",
    ]
    got = _spark_tokens(spark, texts, spark_tokenize_col("content"))
    assert got == [tokenize(t) for t in texts]


def test_parity_pandas_udf_vs_python(spark):
    texts = list(FIXTURE_DOCS.values()) + [
        "  Mixed CASE   tokens\twith\nnewlines 'quoted' a1b2 deadbeef1234cafebabe",
        "", "   ", "queries classes joins pineapples this",
    ]
    got = _spark_tokens(spark, texts, tokenize_pandas_udf()(F.col("content")))
    assert got == [tokenize(t) for t in texts]


def test_parity_duckdb_vs_python():
    texts = list(FIXTURE_DOCS.values()) + [
        "  Mixed CASE   tokens 'quoted' a1b2 deadbeef1234cafebabe",
        "queries classes joins pineapples this",
    ]
    con = duckdb.connect()
    expr = duckdb_tokens_expr("t")
    for text in texts:
        got = con.execute(f"select {expr} from (select ? as t)", [text]).fetchone()[0]
        assert got == tokenize(text), text


# Non-ASCII whitespace: Java's \s is the ASCII class [ \t\n\x0b\f\r] only.
# U+00A0 (nbsp) and U+2028 (line sep) are TOKEN characters to the reference
# (they get \W-stripped inside a token, they never split); \x0b splits.
_WS_TEXTS = [
    "alpha\u00a0beta gamma",   # nbsp joins: one token 'alphabeta' (nbsp \\W-stripped)
    "one\u2028two three",      # U+2028 joins
    "a\x0bb c",                # vertical tab splits (Java \\s has \\x0b)
    " lead trail ",
    "mix ed\x0btokens\tok",
]


def test_whitespace_class_python_oracle():
    assert tokenize("alpha\u00a0beta gamma") == ["alphabeta", "gamma"]
    assert tokenize("a\x0bb c") == ["a", "b", "c"]


@pytest.mark.parametrize("path_col", [
    lambda: spark_tokenize_col("content"),
    lambda: tokenize_pandas_udf()(F.col("content")),
])
def test_whitespace_class_parity_spark(spark, path_col):
    got = _spark_tokens(spark, _WS_TEXTS, path_col())
    assert got == [tokenize(t) for t in _WS_TEXTS]


def test_whitespace_class_parity_duckdb():
    con = duckdb.connect()
    expr = duckdb_tokens_expr("t")
    for text in _WS_TEXTS:
        got = con.execute(f"select {expr} from (select ? as t)", [text]).fetchone()[0]
        assert got == tokenize(text), repr(text)


def test_whitespace_class_parity_arrow_kernel():
    # the SPIMI kernel's per-batch inversion (build._invert_arrow_batch),
    # the tokenize + invert step every index write goes through
    import numpy as np
    import pyarrow as pa

    from information_retrieval_spark.build import _invert_arrow_batch
    from information_retrieval_spark.codec import vb_decode

    rb = pa.RecordBatch.from_arrays(
        [pa.array(list(range(len(_WS_TEXTS))), type=pa.int64()),
         pa.array(_WS_TEXTS, type=pa.string())],
        names=["docID", "content"])
    term_uniq, term_code, docs, tfs, _, pos_data, pos_off, _ = \
        _invert_arrow_batch(rb)
    got = {}
    for g in range(len(term_code)):
        blob = pos_data[pos_off[g]: pos_off[g + 1]].tobytes()
        positions = np.cumsum(vb_decode(blob).astype(np.int64))
        assert len(positions) == tfs[g]
        for p in positions:
            got.setdefault(int(docs[g]), {})[int(p)] = term_uniq[term_code[g]]
    rebuilt = {d: [terms[p] for p in sorted(terms)] for d, terms in got.items()}
    expected = {i: tokenize(t) for i, t in enumerate(_WS_TEXTS) if tokenize(t)}
    assert rebuilt == expected
