"""Trigram-indexed substring / regex search over a document corpus.

The "grep every repository" capability of a source-code search engine
(the Google Code Search design: Cox, "Regular Expression Matching with
a Trigram Index", 2012; same shape as Zoekt's shard files), re-expressed
Spark-first:

  build:  text -> all character 3-grams -> DISTINCT (gram, doc_id)
          postings.  One map + one distinct shuffle, linear in corpus
          bytes; written bucket-/sort-friendly so `gram IN (...)`
          predicates prune parquet row groups at query time.
  query:  a literal (or the required literals extracted from a regex)
          becomes an AND over its trigrams.  Candidates = docs whose
          posting rows cover EVERY query gram; only candidates are then
          verified against the raw text.  At 10^12 files the verify
          touches a vanishing fraction of the corpus — the scan is
          driven from the postings side, never the text side.

Reference parity note: the reference engine indexes stemmed word terms
only (IndexBody.java, Indexer.java) — raw-substring grep is a
north-star addition for BASELINE.json's source-code corpus, where
`foo_bar(` style queries cannot survive a word tokenizer.

Everything is exact-deterministic (no hashing), so the DuckDB oracle —
a full-scan `position(needle IN text)` / `regexp_matches` — reproduces
the result set bit-for-bit; the trigram index only changes WHAT IS
SCANNED, never the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .io import materialize_once

TRIGRAM_N = 3
# AND-ing more than this many grams stops paying: each extra gram is
# another postings probe, while candidate selectivity flattens fast.
# Zoekt uses the 2 rarest; we keep enough to survive skewed grams.
MAX_QUERY_GRAMS = 8

_GRAMS_EXPR = (
    "CASE WHEN length({text}) < 3 THEN array() "
    "ELSE transform(sequence(1, length({text}) - 2), "
    "i -> substring({text}, i, 3)) END"
)


def trigram_postings(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     postings_path: str | None = None) -> DataFrame:
    """DISTINCT (gram, id) character-trigram postings for the corpus.

    Map-side explode + one distinct shuffle — linear in corpus bytes,
    the canonical build shape at any scale.  With `postings_path` the
    relation is materialized ONCE (idempotent on the `_SUCCESS`
    marker), sorted by gram inside each file so query-time
    `gram IN (...)` filters prune parquet row groups; every query then
    probes the persisted index instead of re-deriving it — the 10^12
    file deployment mode.
    """
    grams = F.expr(_GRAMS_EXPR.format(text=text_col))
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(grams).alias("gram"))
          .distinct())
    if postings_path is not None:
        return materialize_once(sh.sortWithinPartitions("gram"), postings_path)
    return sh


def _gram_set(literal: str) -> list[str]:
    """Sorted distinct trigrams of a literal (deterministic probe set)."""
    return sorted({literal[i:i + TRIGRAM_N]
                   for i in range(len(literal) - TRIGRAM_N + 1)})


def _pick_grams(postings: DataFrame, grams: list[str],
                max_grams: int) -> list[str]:
    """Cap a large probe set to the `max_grams` RAREST grams.

    Any subset of the query's trigrams is sound (candidates become a
    superset; verification restores exactness) — rarest-first maximizes
    pruning per probe, the Zoekt heuristic.  The df lookup is one tiny
    aggregate over ≤len(grams) index keys; skipped entirely when the
    probe set already fits the cap.
    """
    if len(grams) <= max_grams:
        return grams
    rows = (postings.filter(F.col("gram").isin(grams))
            .groupBy("gram").count().collect())
    df_by_gram = {r["gram"]: r["count"] for r in rows}
    ranked = sorted(grams, key=lambda g: (df_by_gram.get(g, 0), g))
    return ranked[:max_grams]


def _candidates(postings: DataFrame, grams: list[str]) -> DataFrame:
    """(id) of docs whose postings cover EVERY gram in `grams`.

    `gram IN (...)` pushes to the postings scan (row-group pruned on a
    persisted index); the cover test is one partial-aggregated groupBy
    over only the matching posting rows — never a per-gram join chain.
    """
    k = len(grams)
    return (postings.filter(F.col("gram").isin(grams))
            .groupBy("id")
            .agg(F.count_distinct("gram").alias("__g"))
            .filter(F.col("__g") == k)
            .select("id"))


def grep_literal(df: DataFrame, needle: str, id_col: str = "doc_id",
                 text_col: str = "text",
                 postings: DataFrame | None = None,
                 max_grams: int = MAX_QUERY_GRAMS) -> DataFrame:
    """Exact substring search: (id, n_hits) for every doc containing
    `needle`, n_hits = non-overlapping occurrence count.

    Candidates come from the trigram index; only candidates are joined
    back to the text for the `instr` verify + occurrence count, so the
    raw-text scan is proportional to matches, not corpus size.  Needles
    shorter than 3 chars have no trigrams — those fall back to a full
    verify scan (documented cost; a real deployment refuses or
    dictionary-expands such queries).
    """
    if not needle:
        raise ValueError("empty needle")
    occurrences = ((F.length(text_col)
                    - F.length(F.replace(F.col(text_col), F.lit(needle))))
                   / len(needle)).cast("long")
    verified = (df.filter(F.instr(F.col(text_col), needle) > 0)
                .select(F.col(id_col).alias("id"),
                        occurrences.alias("n_hits")))
    if len(needle) < TRIGRAM_N:
        return verified  # full-scan fallback
    if postings is None:
        postings = trigram_postings(df, id_col, text_col)
    grams = _pick_grams(postings, _gram_set(needle), max_grams)
    cand = _candidates(postings, grams)
    return (df.join(cand.withColumnRenamed("id", id_col), id_col)
            .filter(F.instr(F.col(text_col), needle) > 0)
            .select(F.col(id_col).alias("id"), occurrences.alias("n_hits")))


# ---------------------------------------------------------------------------
# regex -> required literals (conservative)
# ---------------------------------------------------------------------------

_META = set("\\[](){}|*+?.^$")


def required_literals(pattern: str) -> list[str]:
    """Literal runs every match of `pattern` MUST contain — the Cox
    trigram-query extraction, kept deliberately conservative: only
    top-level (outside any group/class/alternation) runs of plain
    characters count, and a run's last char is dropped when a
    quantifier makes it optional/repeated.  Returns [] when nothing
    ≥3 chars survives — the caller falls back to a full verify scan.

    Sound by construction: weakening the required set only grows the
    candidate superset; the regex verify restores exactness.
    """
    runs: list[str] = []
    cur: list[str] = []
    depth = 0          # ( ) nesting
    in_class = False   # [ ] character class
    top_level_alt = False
    i = 0

    def flush(drop_last: bool = False) -> None:
        nonlocal cur
        if drop_last and cur:
            cur.pop()
        if cur:
            runs.append("".join(cur))
        cur = []

    while i < len(pattern):
        c = pattern[i]
        if in_class:
            if c == "\\":
                i += 1
            elif c == "]":
                in_class = False
            i += 1
            continue
        if c == "\\":
            # escaped char: literal only for non-alnum escapes like \(;
            # \d \w \s etc. are classes -> break the run
            nxt = pattern[i + 1] if i + 1 < len(pattern) else ""
            if nxt and not nxt.isalnum():
                if depth == 0:
                    cur.append(nxt)
            else:
                flush()
            i += 2
            continue
        if c == "[":
            flush()
            in_class = True
        elif c == "(":
            flush()
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|":
            if depth == 0:
                top_level_alt = True
            flush()
        elif c in "*?{":
            # previous atom is optional/repeated -> not required
            flush(drop_last=True)
            if c == "{":
                while i < len(pattern) and pattern[i] != "}":
                    i += 1
        elif c == "+":
            # previous atom occurs >=1 times: still required, but the
            # run cannot extend PAST it contiguously
            flush()
        elif c in ".^$":
            flush()
        elif depth == 0:
            cur.append(c)
        i += 1
    flush()
    if top_level_alt:
        # a top-level alternation means NO literal is unconditionally
        # required (either branch may match)
        return []
    return [r for r in runs if len(r) >= TRIGRAM_N]


def grep_regex(df: DataFrame, pattern: str, id_col: str = "doc_id",
               text_col: str = "text",
               postings: DataFrame | None = None,
               max_grams: int = MAX_QUERY_GRAMS) -> DataFrame:
    """Regex search: (id, n_hits) for docs matching `pattern`, n_hits =
    non-overlapping match count.  Patterns must stay in the
    Java-regex ∩ RE2 common subset (classes, groups, alternation,
    quantifiers; no lookaround/backrefs) — the portability contract the
    oracle relies on.

    The trigram index prunes via `required_literals`; a pattern with no
    required literal ≥3 chars degrades to the documented full verify
    scan (exactly the Cox fallback).
    """
    verified_cols = [F.col(id_col).alias("id"),
                     F.regexp_count(F.col(text_col), F.lit(pattern))
                     .cast("long").alias("n_hits")]
    lits = required_literals(pattern)
    if postings is None and lits:
        postings = trigram_postings(df, id_col, text_col)
    scope = df
    if lits:
        grams: list[str] = []
        for lit in lits:
            grams.extend(_gram_set(lit))
        grams = _pick_grams(postings, sorted(set(grams)), max_grams)
        cand = _candidates(postings, grams)
        scope = df.join(cand.withColumnRenamed("id", id_col), id_col)
    return (scope.filter(F.regexp_like(F.col(text_col), F.lit(pattern)))
            .select(*verified_cols))
