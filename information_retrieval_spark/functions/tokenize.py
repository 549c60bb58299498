"""Tokenizer column functions.

Two interchangeable implementations of the reference tokenizer pipeline
(IndexService.java:596-618 — whitespace split, normalize, admission
filter; positions index KEPT terms only):

- `tokenize_pandas_udf()` — Arrow-batched pandas UDF: batch-level
  vectorization with a unique-token normalize-then-map so the regex
  work runs once per distinct raw token per batch, never per row (the
  index build's Arrow SPIMI kernel shares `_normalize_unique`).
- `spark_tokenize_col()` — pure Spark SQL higher-order-function
  expression (normalize.spark_tokens_expr): runs JVM-side inside
  whole-stage codegen with zero Python in the loop.

Both provably agree with the pure-Python `normalize.tokenize` oracle
(tests/test_normalize.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..normalize import (
    IRREGULAR_LEMMAS,
    MAX_UNFILTERED_LEN,
    STEM_GUARD_CHARS,
    STEM_RULES,
    WS_CLASS,
    spark_tokens_expr,
)


def spark_tokenize_col(col: str = "content") -> Column:
    return F.expr(spark_tokens_expr(col))


def _normalize_unique(uniq: pd.Series) -> pd.Series:
    """Vectorized normalize over a Series of distinct raw tokens.

    Returns the kept normalized term, or None for dropped tokens.
    Mirrors normalize.normalize + normalize.keep exactly — the stemmer
    chain is rendered from the same STEM_RULES table.

    Lowercasing runs in pandas (Python unicode case mapping, matching
    the pure-Python oracle exactly); every regex after the strip
    operates on `[a-z0-9_]*` ASCII strings and runs in Arrow's RE2
    (C++) — measured ~5x faster than Python `re` on the rule chain,
    and provably identical there: the SAME patterns already run under
    RE2 in the DuckDB oracle dialect, and the cross-path parity is
    pinned by tests/test_normalize.py.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    # null tokens normalize like "" (-> dropped -> None in the output):
    # without the fill, every downstream Arrow mask carries nulls and
    # mask.to_numpy() yields an object array that cannot index numpy
    # arrays (callers currently pre-fill, but the function contract
    # should not depend on that)
    low = uniq.str.lower().fillna("")
    arr = pa.array(low.to_numpy(dtype=object), type=pa.string())
    st_arr = pc.replace_substring_regex(arr, pattern="[^a-z0-9_]",
                                        replacement="")
    # irregular lexicon first, as an EXCLUSIVE branch (normalize.stem):
    # a lexicon hit takes its lemma and never enters the rule chain
    lex_mask = pc.is_in(st_arr, value_set=pa.array(list(IRREGULAR_LEMMAS),
                                                   type=pa.string()))
    # last-char guard (normalize.STEM_GUARD_CHARS): the stem chain is a
    # provable no-op unless the token ends in s/g/d — run the 18 regexes
    # on that minority only
    chain_mask = pc.and_(
        pc.match_substring_regex(st_arr, f"[{STEM_GUARD_CHARS}]$"),
        pc.invert(lex_mask))
    st = st_arr.to_numpy(zero_copy_only=False).astype(object)
    chain_np = chain_mask.to_numpy(zero_copy_only=False)
    if chain_np.any():
        sub = pc.filter(st_arr, chain_mask)
        for pat, rep in STEM_RULES:
            sub = pc.replace_substring_regex(sub, pattern=pat, replacement=rep)
        st[chain_np] = np.asarray(sub.to_pylist(), dtype=object)
    lex_np = lex_mask.to_numpy(zero_copy_only=False)
    if lex_np.any():
        st[lex_np] = [IRREGULAR_LEMMAS[t] for t in st[lex_np]]
    res = pa.array(st, type=pa.string())
    kept = pc.and_(
        pc.not_equal(res, ""),
        pc.or_(pc.less(pc.utf8_length(res), MAX_UNFILTERED_LEN),
               pc.invert(pc.match_substring_regex(res, "[0-9]"))))
    st[~kept.to_numpy(zero_copy_only=False)] = None
    return pd.Series(st, index=uniq.index, dtype=object)


def tokenize_pandas_udf():
    @F.pandas_udf("array<string>")
    def _tokenize(content: pd.Series) -> pd.Series:
        if content.empty:
            return pd.Series([], dtype=object)
        # Java \s class (ASCII), not Python str.split's Unicode whitespace;
        # boundary-empty tokens normalize to None and are filtered below
        split = content.fillna("").str.split(WS_CLASS, regex=True)
        lengths = split.map(len).to_numpy(dtype=np.int64)
        flat = np.empty(int(lengths.sum()), dtype=object)
        i = 0
        for toks in split:  # per-document list concat (not per-token work)
            flat[i : i + len(toks)] = toks
            i += len(toks)
        if flat.size:
            uniq = pd.Series(pd.unique(flat))
            mapping = dict(zip(uniq, _normalize_unique(uniq)))
            normed = np.array([mapping[t] for t in flat], dtype=object)
            kept_mask = normed != None  # noqa: E711  (vectorized object compare)
        else:
            normed = flat
            kept_mask = np.zeros(0, dtype=bool)
        # regroup kept terms per document
        doc_of_token = np.repeat(np.arange(len(lengths)), lengths)
        kept_counts = np.bincount(doc_of_token[kept_mask], minlength=len(lengths))
        kept_flat = normed[kept_mask]
        out = []
        j = 0
        for n in kept_counts:
            n = int(n)
            out.append(list(kept_flat[j : j + n]))
            j += n
        return pd.Series(out, dtype=object, index=content.index)

    return _tokenize
