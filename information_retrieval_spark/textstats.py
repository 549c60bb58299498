"""Text-analysis operators: language-ID, quality scoring, token counts,
document fingerprinting.

All pure Spark SQL builtins (vectorized, whole-stage codegen); every
constant is fixed so the DuckDB oracle can reproduce results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import plan_policy
from .normalize import spark_tokens_expr

# marker-word profiles for the n-gram/stopword language heuristic
LANG_PROFILES = {
    "en": ["the", "a", "and", "of", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
}

STOPWORDS = ["the", "a", "and", "for", "of", "to", "in", "is"]


def _toks(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("__toks", F.expr(spark_tokens_expr(text_col)))


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_ws_tokens, n_terms, n_distinct_terms, n_chars).

    n_ws_tokens is the raw whitespace token count (a BPE-ish proxy for
    token budget); n_terms counts kept normalized terms.
    """
    toks = _toks(df, text_col)
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    return toks.select(
        F.col(id_col).alias("id"),
        ws.alias("n_ws_tokens"),
        F.size("__toks").alias("n_terms"),
        F.size(F.array_distinct("__toks")).alias("n_distinct_terms"),
        F.length(text_col).alias("n_chars"),
    )


def _lang_score_exprs() -> list:
    """Per-profile hit-ratio Columns over `__toks` (shared by
    language_id and the fused curation_report)."""
    n = F.greatest(F.size("__toks"), F.lit(1))
    return [(lang, F.size(F.filter(
        F.col("__toks"), lambda t: t.isin(words))) / n)
        for lang, words in LANG_PROFILES.items()]


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, pred_lang): argmax over marker-word profile hit ratios;
    'unknown' when no profile scores > 0. Ties break on profile order
    en < de < fr (deterministic)."""
    toks = _toks(df, text_col)
    score_cols = [s.alias(f"s_{lang}") for lang, s in _lang_score_exprs()]
    out = toks.select(F.col(id_col).alias("id"), *score_cols)
    m = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_PROFILES])
    pred2 = F.lit("unknown")
    for lang in reversed(list(LANG_PROFILES)):
        pred2 = F.when((F.col(f"s_{lang}") == m) & (m > 0), F.lit(lang)).otherwise(pred2)
    return out.select("id", pred2.alias("pred_lang"))


def _quality_expr(text_col: str):
    """The quality Column over (`text_col`, `__toks`) — shared by
    quality_scores and the fused curation_report."""
    n_terms = F.size("__toks")
    n_chars = F.greatest(F.length(text_col), F.lit(1))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9_\s]", ""))
    stop_hits = F.size(F.filter(F.col("__toks"), lambda t: t.isin(STOPWORDS)))
    stop_ratio = stop_hits / F.greatest(n_terms, F.lit(1))
    q = (0.4 * F.least(F.lit(1.0), n_terms / F.lit(50.0))
         + 0.3 * (1.0 - punct / n_chars)
         + 0.3 * F.least(F.lit(1.0), 5.0 * stop_ratio))
    return F.round(q, 6)


def quality_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, quality): 0.4·min(1, n_terms/50) + 0.3·(1-punct_ratio)
    + 0.3·min(1, 5·stopword_ratio), rounded to 6 dp."""
    toks = _toks(df, text_col)
    return toks.select(F.col(id_col).alias("id"),
                       _quality_expr(text_col).alias("quality"))


def repetition_scores(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, dup_line_frac, dup_ngram_frac): within-document repetition —
    the Gopher-style quality filters (Rae et al. 2021 §A1.1) that catch
    boilerplate/spam a stopword-ratio score misses:

    - dup_line_frac:  1 - distinct/total over non-blank lines;
    - dup_ngram_frac: 1 - distinct/total over kept-term `n`-grams
      (docs with < n kept terms have no n-grams -> 0.0).

    Both rounded to 6 dp (cross-engine grain). Pure SQL builtins over
    one tokenize pass — at 100 TB this is a map-only scan, no shuffle.
    """
    toks = _toks(df, text_col)
    dup_lines, dup_grams = _repetition_exprs(text_col, n)
    return toks.select(
        F.col(id_col).alias("id"),
        dup_lines.alias("dup_line_frac"),
        dup_grams.alias("dup_ngram_frac"))


def _repetition_exprs(text_col: str, n: int = 3):
    """(dup_line_frac, dup_ngram_frac) Columns over (`text_col`,
    `__toks`) — shared by repetition_scores and curation_report."""
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    dup_lines = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)) / n_lines).otherwise(0.0)
    # greatest(...,0): keeps the sequence bounds non-negative for docs
    # with < n terms (the guarding WHEN makes the value unused there,
    # but a negative bound would make sequence() descend)
    grams = F.expr(
        f"transform(sequence(0, greatest(size(__toks) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(__toks, i + 1, {n})))")
    n_grams = F.size("__toks") - F.lit(n - 1)
    dup_grams = F.when(
        n_grams > 0,
        1.0 - F.size(F.array_distinct(grams)) / n_grams).otherwise(0.0)
    return F.round(dup_lines, 6), F.round(dup_grams, 6)


def unigram_logprob_scores(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """(id, mean_logprob, n_terms): corpus-relative quality signal —
    the mean natural-log unigram probability of the doc's kept terms
    under the corpus's OWN MLE unigram model (p(t) = cf_t / total
    kept-term count). The standard cheap "how typical is this
    document" importance signal a curation pipeline thresholds on
    (very low = rare-token noise, very high = generic boilerplate);
    complements the surface-feature `quality_scores`. Docs with zero
    kept terms are absent (doc_len semantics). mean_logprob is rounded
    to 6 dp (the cross-engine-stable grain for double aggregation,
    same as the BM25 gate).

    Scale shape (100 TB): one explode -> per-(doc, term) counts (the
    combiner collapses token instances to doc-distinct terms before
    the shuffle) -> the (term, cf) relation derives from the SAME
    counts and joins back on term (sort-merge at 10^12-doc vocab) ->
    one per-doc aggregation. The 1-row total broadcasts. No UDF, no
    driver state.
    """
    toks = _toks(df, text_col)
    tfd = (toks.select(F.col(id_col).alias("id"),
                       F.explode("__toks").alias("term"))
           .groupBy("id", "term").agg(F.count(F.lit(1)).alias("c")))
    cf = tfd.groupBy("term").agg(F.sum("c").alias("cf"))
    tot = cf.agg(F.sum("cf").cast("double").alias("T"))
    return (tfd.join(cf, "term").crossJoin(F.broadcast(tot))
            .groupBy("id")
            .agg(F.round(F.sum(F.col("c") * F.log(F.col("cf") / F.col("T")))
                         / F.sum("c"), 6).alias("mean_logprob"),
                 F.sum("c").cast("long").alias("n_terms")))


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 5) -> DataFrame:
    """(id, fingerprint): winnowing-style fingerprint = min sha256 over
    n-term shingles (falls back to the whole-term-stream hash for docs
    shorter than n terms). Engine-portable (sha256 hex min)."""
    toks = _toks(df, text_col)
    shingles = F.expr(
        f"transform(sequence(0, greatest(size(__toks) - {n}, 0)), "
        f"i -> sha2(concat_ws(' ', slice(__toks, i + 1, {n})), 256))")
    return toks.select(
        F.col(id_col).alias("id"),
        F.array_min(shingles).alias("fingerprint"),
    )

def ngram_counts(df: DataFrame, n: int = 2, k: int | None = None,
                 text_col: str = "text") -> DataFrame:
    """Corpus-level n-gram counts over the normalized token stream:
    (ngram, n) for every run of `n` consecutive kept terms, optionally
    cut to the exact top-k by (count desc, ngram asc) — the n-gram LM /
    common-phrase statistics a training-data pipeline reports per crawl
    snapshot.

    All JVM expressions (sequence/transform/slice/array_join over the
    shared tokenizer column — the doc_fingerprints shingle shape), one
    explode, ONE groupBy with map-side partial aggregation; the
    optional cut compiles to TakeOrderedAndProject (per-partition
    top-k heaps, never a full sort shuffle), so at 100 TB the job is
    one corpus scan + one exchange of distinct-ngram partials. The
    (count desc, ngram asc) order makes the cut deterministic and
    engine-portable. Docs shorter than n terms contribute nothing
    (CASE guard: `sequence(1, size-n+1)` would go DESCENDING there)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = _toks(df, text_col)
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> array_join(slice(__toks, i, {n}), ' ')) "
        f"ELSE array() END")
    counts = (toks.select(F.explode(grams).alias("ngram"))
              .groupBy("ngram").agg(F.count(F.lit(1)).alias("n")))
    if k is not None:
        counts = counts.orderBy(F.desc("n"), F.asc("ngram")).limit(int(k))
    return counts


def pmi_bigrams(df: DataFrame, k: int | None = 20, min_count: int = 5,
                text_col: str = "text") -> DataFrame:
    """(ngram, n_xy, pmi): adjacent-pair collocations scored by
    pointwise mutual information — the classic collocation statistic
    (Church & Hanks 1990): pmi = ln(p(x,y) / (p(x)·p(y))) with
    p(x,y) = n_xy/N_bigrams and p(x) = c_x/N_unigrams, computed over
    the same normalized token stream as ngram_counts. `min_count`
    drops hapax pairs (PMI's known rare-pair bias); the optional cut
    is exact top-k by (pmi desc, ngram asc) with pmi ROUNDED to 6 dp
    first — the engine-portable hard-cut discipline.

    Scale shape (100 TB): two corpus scans (unigram agg + bigram agg,
    both map-side combined; a fused tagged-union single-scan variant
    was A/B-measured SLOWER on a cached input — AQE exchange reuse
    already computes each repeated aggregate subtree once at runtime,
    so fusion only widens the exchange — and is worth revisiting only
    when the input is an uncached storage scan), then
    vocabulary-sized joins only: bigram counts join unigram counts on
    each side (AQE picks broadcast when the vocabulary fits) and the
    two totals ride in as 1-row broadcast cross joins — no driver
    collect, one lazy DAG. The PMI expression keeps one literal
    operand order (n_xy·N_uni·N_uni / (N_big·c_x·c_y)) so the rounded
    score is reproducible across engines."""
    toks = _toks(df, text_col)
    uni = (toks.select(F.explode("__toks").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    grams = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(element_at(__toks, i) AS x, "
        "element_at(__toks, i + 1) AS y)) "
        "ELSE array() END")
    big = (toks.select(F.explode(grams).alias("g"))
           .select(F.col("g.x").alias("x"), F.col("g.y").alias("y"))
           .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy")))
    n_uni = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    n_big = big.agg(F.sum("n_xy").cast("double").alias("n_big"))
    ux = uni.select(F.col("t").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("t").alias("y"), F.col("c").alias("c_y"))
    scored = (big.filter(F.col("n_xy") >= F.lit(int(min_count)))
              .join(ux, "x").join(uy, "y")
              .crossJoin(F.broadcast(n_uni))
              .crossJoin(F.broadcast(n_big))
              .select(F.concat_ws(" ", "x", "y").alias("ngram"),
                      "n_xy",
                      F.round(F.log(
                          (F.col("n_xy").cast("double")
                           * F.col("n_uni") * F.col("n_uni"))
                          / (F.col("n_big") * F.col("c_x") * F.col("c_y"))),
                          6).alias("pmi")))
    if k is not None:
        scored = scored.orderBy(F.desc("pmi"), F.asc("ngram")).limit(int(k))
    return scored


# PII patterns shared by pii_stats / redact_pii and their oracles.
# Shape-based (the C4 / RefinedWeb curation convention): the email
# pattern is the usual local@domain.tld form, the IPv4 pattern is four
# 1-3 digit runs joined by dots between word boundaries — it
# deliberately matches out-of-range shapes like 999.1.1.1 (redacting a
# non-routable lookalike costs nothing; missing a real address leaks).
# Both patterns avoid lookaround and backreferences so Java regex
# (Spark), RE2 (DuckDB) and Python `re` agree match-for-match.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_stats(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, n_email, n_ipv4): per-document counts of PII-shaped spans —
    the detection half of the standard pre-training redaction step
    (no reference counterpart; north-star pipeline addition).

    Scale shape (100 TB): two `regexp_extract_all` + `size` expressions
    in one projection — map-only, whole-stage codegen, no shuffle, no
    UDF; the corpus is scanned exactly once and only (id, text) is
    read. NULL text counts as empty (coalesce), so the output is total
    over the input and the counts are never NULL."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(id_col).alias("id"),
        *[F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0)))
          .cast("long").alias(f"n_{name}")
          for name, p in PII_PATTERNS.items()])


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", email_token: str = "<EMAIL>",
               ipv4_token: str = "<IPV4>") -> DataFrame:
    """(id, text_redacted): every PII-shaped span replaced by its
    placeholder token — the redaction half of the curation step.

    Emails are replaced BEFORE IPv4s (fixed, documented order shared
    with the oracle); the replacement tokens contain no digits or '@',
    so the second pass cannot re-match inside the first pass's output.
    NULL text redacts to NULL (the input's nullability is preserved,
    unlike pii_stats' coalesced counts).

    Scale shape (100 TB): two chained `regexp_replace` calls in one
    map-only projection — same single-scan/no-shuffle/no-UDF contract
    as pii_stats."""
    red = F.regexp_replace(F.col(text_col),
                           PII_PATTERNS["email"], email_token)
    red = F.regexp_replace(red, PII_PATTERNS["ipv4"], ipv4_token)
    return df.select(F.col(id_col).alias("id"),
                     red.alias("text_redacted"))


# GPT-2-style pre-tokenizer ("BPE-ish") pattern: contraction suffixes,
# optionally-space-prefixed letter runs / digit runs / punctuation runs,
# then whitespace runs. Simplified from the GPT-2 original in three
# deliberate, engine-portability-driven ways: no `(?!\S)` lookahead
# (RE2 has none), explicit ASCII classes instead of \p{L}/\p{N}/\s
# (identical semantics in Java regex, RE2 and Python `re` — Python's
# \s is otherwise Unicode-wide), non-capturing group only (keeps
# `re.findall` and group-0 extraction aligned). All three engines use
# leftmost-first alternation, so piece boundaries agree exactly.
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0b\f\r]+"
    r"|[ \t\n\x0b\f\r]+")

_WS_RUN_PATTERN = r"[ \t\n\x0b\f\r]+"


def bpe_piece_counts(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, n_pieces, n_nonspace_pieces): document length under a
    GPT-2-style pre-tokenizer regex — the standard first pass of a BPE
    tokenizer, and the LLM-token-budget estimate a training pipeline
    reports next to whitespace counts (a BPE vocab only ever merges
    WITHIN pre-tokenizer pieces, so n_nonspace_pieces lower-bounds and
    tracks the real token count). n_pieces counts every match
    including whitespace runs; n_nonspace_pieces drops the
    pure-whitespace matches — counted by FILTERING the actual match
    array, not by re-extracting whitespace runs standalone (a single
    space before a word is consumed by the ` ?[A-Za-z]+` piece, so a
    standalone whitespace scan would overcount). NULL text counts as
    empty.

    Scale shape (100 TB): one `regexp_extract_all` + an array filter
    in one map-only projection — same single-scan / no-shuffle /
    no-UDF contract as pii_stats."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    pieces = F.regexp_extract_all(t, F.lit(BPE_PRETOKEN_PATTERN), F.lit(0))
    nonspace = F.filter(
        pieces, lambda x: ~x.rlike(f"^{_WS_RUN_PATTERN}$"))
    return df.select(F.col(id_col).alias("id"),
                     F.size(pieces).cast("long").alias("n_pieces"),
                     F.size(nonspace).cast("long")
                     .alias("n_nonspace_pieces"))


def chunk_documents(df: DataFrame, window: int = 128, stride: int = 96,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, chunk_id, start_tok, n_tokens, chunk_text): fixed
    token-window document chunking with overlap — the context-window
    preparation step of an LLM training pipeline (every pretraining
    corpus is cut into model-context pieces before packing; overlap
    `window - stride` preserves cross-boundary n-grams).

    Tokens are whitespace tokens (the same relation token_counts'
    n_ws_tokens measures); chunk i starts at token i*stride and takes
    up to `window` tokens, for every start < n_tokens — the simple
    deterministic rule every engine can reproduce (the final chunks
    may be short; a doc with 0 tokens emits none). chunk_text rejoins
    with single spaces, so downstream tokenization is reproducible
    regardless of the source document's whitespace shape.

    Scale shape (100 TB): one map-only projection — split, a
    `sequence` of starts, explode, `slice` + `array_join`; no shuffle,
    no UDF, linear output in corpus tokens times the overlap factor.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")),
                            _WS_RUN_PATTERN),
                    lambda x: x != "")
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))) \
        .otherwise(F.array().cast("array<int>"))
    ex = (df.select(F.col(id_col).alias("id"), toks.alias("__toks"),
                    F.posexplode(starts).alias("chunk_id", "start_tok")))
    piece = F.slice(F.col("__toks"), F.col("start_tok") + 1, window)
    return ex.select(
        "id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"))


def _opt_fence(col):
    """Value-identity optimizer fence: `when(rand() != -1, col)` always
    yields `col` unchanged (rand() lies in [0, 1), so the predicate is a
    tautology), but the expression is non-deterministic, so Catalyst
    will neither inline it into downstream expressions (CollapseProject)
    nor push caller predicates below it (PushPredicateThroughNonJoin).
    The shape matters: Spark 4's optimizer DOES fold ordering
    comparisons against rand()'s value interval (`rand() >= -1` is
    simplified to true and the fence silently disappears); the
    inequality form survives.

    Why it exists: curation_report's decision columns reference each
    heavy signal (tokenize chain, regex quality, n-gram repetition)
    many times. A caller's `.filter("kept")` — the standard gate-then-
    process composition — substitutes the aliases into the filter
    condition, duplicating each signal expression ~a dozen times; the
    resulting condition tree is too large for whole-stage-codegen
    subexpression elimination and falls back to interpreted, per-copy
    evaluation (measured 73 s vs 1.3 s for the honest one-pass scan at
    sf0.1). The fence pins each signal to exactly one evaluation per
    row while leaving every value bit-identical."""
    return F.when(F.rand(7) != F.lit(-1.0), col)


def curation_report(df: DataFrame, lang: str = "en",
                    min_tokens: int = 30, min_quality: float = 0.5,
                    max_dup_line: float = 0.2, max_dup_ngram: float = 0.3,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, kept, reason, pred_lang, n_ws_tokens, quality,
    dup_line_frac, dup_ngram_frac): the composed C4/Gopher-style
    curation decision — language gate, length gate, surface-quality
    gate, repetition gate — with the FIRST failing rule as the reject
    reason ('ok' when kept). The per-rule reason column is what makes
    a pipeline debuggable at scale: rejection-rate-by-reason is the
    dashboard every curation run watches.

    All four signals are computed in ONE fused projection over a
    single tokenize pass — not a join of the four standalone
    operators. At 100 TB that is the difference between one map-only
    scan and four scans plus three id-keyed exchanges; the standalone
    operators share their expression builders with this report, so
    the semantics are pinned identical.
    """
    toks = _toks(df, text_col)
    score_cols = [_opt_fence(s).alias(f"__s_{lg}")
                  for lg, s in _lang_score_exprs()]
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                         lambda t: t != ""))
    dup_l, dup_g = _repetition_exprs(text_col)
    # every signal rides the fence: computed once per row in THIS
    # projection, never re-inlined into the decision chain or a caller's
    # pushed-down filter (see _opt_fence)
    base = toks.select(
        F.col(id_col).alias("id"), *score_cols,
        _opt_fence(ws.cast("long")).alias("n_ws_tokens"),
        _opt_fence(_quality_expr(text_col)).alias("quality"),
        _opt_fence(dup_l).alias("dup_line_frac"),
        _opt_fence(dup_g).alias("dup_ngram_frac"))
    m = F.greatest(*[F.col(f"__s_{lg}") for lg in LANG_PROFILES])
    pred = F.lit("unknown")
    for lg in reversed(list(LANG_PROFILES)):
        pred = F.when((F.col(f"__s_{lg}") == m) & (m > 0),
                      F.lit(lg)).otherwise(pred)
    reason = (
        F.when(pred != lang, F.lit("language"))
        .when(F.col("n_ws_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("quality") < min_quality, F.lit("low_quality"))
        .when((F.col("dup_line_frac") > max_dup_line)
              | (F.col("dup_ngram_frac") > max_dup_ngram),
              F.lit("repetition"))
        .otherwise(F.lit("ok")))
    return base.select(
        "id", (reason == "ok").alias("kept"), reason.alias("reason"),
        pred.alias("pred_lang"), "n_ws_tokens", "quality",
        "dup_line_frac", "dup_ngram_frac")


def lm_bigram_logprob_scores(df: DataFrame, ref_rate: float = 0.5,
                             lam: float = 0.9, seed: str = "lmref",
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """(id, mean_logprob, n_bigrams): CCNet-style language-model
    quality filter — every doc scored by the mean ln-probability of
    its ordered kept-term bigrams under a bigram LM trained on a
    deterministic REFERENCE SPLIT of the corpus (hash_sample semantics:
    u(seed, id) < ref_rate). Low scores flag noise/boilerplate the
    unigram signal misses (scrambled word salad has typical unigrams
    but improbable transitions); the reference split stands in for
    CCNet's "clean" LM corpus and is itself scored too (as CCNet does).

    Model, pinned exactly (the oracle replays it bit-for-bit):
      p(v|u) = lam * c2(u,v)/c1(u)  +  (1-lam) * (c1(v)+1)/(T+V+1)
    with c1/c2 = reference unigram/adjacent-bigram counts, T = total
    reference tokens, V = reference vocabulary size; unseen u drops the
    first term, unseen v rides the add-one floor, so p > 0 always.
    (c1(u) in the denominator counts ALL instances of u — a filter's
    deficient-mass shortcut, documented, not a generative model.)
    mean_logprob rounds to 6 dp (the module's cross-engine double
    grain). Docs with < 2 kept terms are absent (no bigrams).

    Scale shape (100 TB): bigram extraction is a map-only array
    transform (no position self-join); per-(id,u,v) counts combine
    map-side before the shuffle; the model relations are
    vocabulary-sized (c1) and bigram-vocabulary-sized (c2), joined
    sort-merge on their keys; T/V broadcast as one row. No UDF."""
    from .sampling import uniform_expr
    if not (0.0 < float(ref_rate) <= 1.0):
        raise ValueError(f"ref_rate must be in (0, 1], got {ref_rate}")
    if not (0.0 < float(lam) < 1.0):
        raise ValueError(f"lam must be in (0, 1), got {lam}")
    toks = _toks(df, text_col).select(F.col(id_col).alias("id"), "__toks")
    pair_expr = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(__toks[i - 1] AS u, __toks[i] AS v)) "
        "ELSE array() END")
    bg = (toks.select("id", F.explode(pair_expr).alias("p"))
          .groupBy("id", F.col("p.u").alias("u"), F.col("p.v").alias("v"))
          .agg(F.count(F.lit(1)).alias("m")))
    ref = toks.filter(F.expr(uniform_expr("id", seed)) < float(ref_rate))
    # c1 feeds THREE consumers (the u-join, the v-join and the T/V
    # totals); uncached, each re-tokenizes the reference corpus — at
    # 100 TB that is three redundant scans. The relation is
    # vocabulary-sized (Heaps' law), so caching it is the right trade;
    # the hold is call-scoped (plan_policy.hold).
    c1 = plan_policy.hold(
        ref.select(F.explode("__toks").alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("c1")), "lm.unigrams")
    c2 = (ref.select(F.explode(pair_expr).alias("p"))
          .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
          .agg(F.count(F.lit(1)).alias("c2")))
    # __-prefixed: Spark's default case-insensitive resolution would
    # otherwise collide a plain "V" with the bigram column "v"
    stats = c1.agg(F.sum("c1").cast("double").alias("__T"),
                   F.count(F.lit(1)).cast("double").alias("__V"))
    c1u = c1.select(F.col("term").alias("u"), F.col("c1").alias("c1u"))
    c1v = c1.select(F.col("term").alias("v"), F.col("c1").alias("c1v"))
    p = (F.lit(float(lam))
         * F.coalesce(F.col("c2") / F.col("c1u"), F.lit(0.0))
         + F.lit(1.0 - float(lam))
         * ((F.coalesce(F.col("c1v"), F.lit(0)) + 1)
            / (F.col("__T") + F.col("__V") + 1)))
    return (bg.join(c2, ["u", "v"], "left")
            .join(c1u, "u", "left").join(c1v, "v", "left")
            .crossJoin(F.broadcast(stats))
            .groupBy("id")
            .agg(F.round(F.sum(F.col("m") * F.log(p)) / F.sum("m"), 6)
                 .alias("mean_logprob"),
                 F.sum("m").cast("long").alias("n_bigrams")))
