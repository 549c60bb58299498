"""Token normalization — the semantic heart of the engine.

Reference semantics (IndexService.java:159-166, 596-618):
  normalize(token) = stem(lower(token).replaceAll("\\W", ""))  -> null if empty
  keep(term)       = term is not null AND (len(term) < 12 OR term has no digit)
  tokens           = whitespace-split of the document text, line by line
  positions        = 0-based counter over KEPT terms only (IndexService.java:221-225)

The reference stems with Stanford CoreNLP ``Morphology`` (an English
lemmatizer — WordNet-morphy-style detachment rules + lexicon). Bit-exact
reimplementation of CoreNLP is out of scope; per SURVEY.md §1.5 this
engine substitutes a deterministic Porter-lite rule chain whose rules
are expressible in ALL THREE dialects (no regex backreferences — DuckDB
is RE2), so the exact same normalization runs in three places and
provably agrees:

  1. pure Python (`normalize`)              — the pytest oracle
  2. Spark SQL expression (`spark_tokens_expr`) — JVM-side codegen fast path
  3. DuckDB SQL (`duckdb_tokens_expr`)      — the driver correctness oracle

The single rule table is STEM_RULES below (applied in order, each a
whole-suffix anchored rewrite; a later rule sees the earlier rules'
output, and the chain runs ONCE — no refixpointing, which is what keeps
the reference's own example `searchings -> searching` intact:
QueryProcessor.java:192 strips only the plural, and so does this chain,
because the -ing rules run BEFORE the plural rules and `searchings`
does not end in `ing`). Where stripping -ing/-ed is ambiguous between
`+ing` and `e+ing` (morphy tries both against a lexicon), the chain
restores `e` exactly when the orthography implies it: soft g (`rg`/
`dg`), word-final `v` (English words don't end in bare v), and a
CVC tail (`writ+e`, `updat+e`) — Porter's 1b fix-ups minus the measure
test, which trades `visiting -> visite`-class overfires for the
`updating -> update`-class lemmas CoreNLP produces.

`\\W` in Java default mode is [^a-zA-Z0-9_]; we lowercase first so the
strip class is written [^a-z0-9_].

Whitespace class: the reference splits with Java ``\\s+`` which is the
ASCII class [ \\t\\n\\x0b\\f\\r] (NOT Unicode whitespace — U+00A0 and
U+2028 are token characters to the reference). Every tokenizer path
pins that exact class: Spark SQL ``split(col, '\\s+')`` is Java regex
(already ASCII), the Arrow kernel uses ``pc.ascii_split_whitespace``
(same class), and the pandas / pure-Python / DuckDB paths spell the
class out explicitly (Python ``re`` and RE2 ``\\s`` differ from Java's:
Python's is Unicode-aware on str, RE2's lacks \\x0b). Parity across all
paths on non-ASCII whitespace is pinned by
tests/test_normalize.py::test_whitespace_class_parity.
"""

from __future__ import annotations

import re
from typing import Optional

# --- pure Python -----------------------------------------------------------

# Java \s class, exactly (see module docstring) — NOT Python's Unicode \s
WS_CLASS = r"[ \t\n\x0b\f\r]+"
_WS = re.compile(WS_CLASS)
_NONWORD = re.compile(r"[^a-z0-9_]")
_DIGIT = re.compile(r"[0-9]")

MAX_UNFILTERED_LEN = 12  # IndexService.java:612 — drop len>=12 tokens with a digit

# The Porter-lite rule table — ONE definition, rendered into all three
# dialects. Patterns use no backreferences (RE2-safe); replacements use
# Python group syntax (\1), converted to $1 for Spark. Order matters:
# -ing/-ed rules first (so `searchings` is only de-pluralized), most
# specific first within a class.
# consonants undoubled before -ing/-ed. Excluded: l/s/z (fall/miss/buzz
# keep their doubles, as in Porter 1b) and d (the `add/added` base class
# beats the `nod/nodded` class once the plain-strip rules run)
_UNDOUBLE = "bgmnprtv"
STEM_RULES = (
    # --- -ing / -ed (verb inflections) ---
    # soft g (merging->merge, judged->judge) and consonant+s
    # (parsed->parse, collapsed->collapse, sensed->sense: English bases
    # ending Cs always carry an e — and without the restore, the later
    # plural rule would double-strip `parsed` down to `par`)
    [(r"(rs|ns|ps|ls|rg|dg)(ing|ed)$", r"\1e")]
    + [(c + c + r"(ing|ed)$", c) for c in _UNDOUBLE]  # running->run, dropped->drop
    + [
        (r"v(ing|ed)$", r"ve"),              # retrieved->retrieve, giving->give
        (r"([a-z0-9_][a-z0-9_])ied$", r"\1y"),  # studied->study (died stays)
        # consonant+l tail -> restore e (shuffle/enable/handle/sample
        # class: English words don't end in Cl); l/r excluded from the
        # leading class so call/controll fall through to the plain strip
        (r"([bcdfgkpstz]l)(ing|ed)$", r"\1e"),
        # CVC tail -> restore e (writ+e, updat+e, stor+e, compil+e);
        # w/x/y excluded as in Porter's *o; h excluded (searching must
        # NOT become searche); tail vowel e excluded — `-eC(ed|ing)` is
        # dominated by unstressed -en/-er/-et verbs (open/filter/target)
        # where restoring e is wrong
        (r"([^aeiou][aiou][bcdfgjklmnpqrstz])(ing|ed)$", r"\1e"),
        (r"^([aeiou][bcdfgjklmnpqrstz])(ing|ed)$", r"\1e"),  # using->use, aged->age
        # plain strips: stem must contain a vowel (sing/string/bring keep
        # theirs); -ed additionally requires a non-e/i stem tail so
        # seed/agreed/died survive
        (r"^([a-z0-9_]*[aeiou][a-z0-9_]*)ing$", r"\1"),
        (r"^([a-z0-9_]*[aeiou][a-z0-9_]*[^ei])ed$", r"\1"),
    ]
    # --- plural / -s inflections (the original S-stemmer core) ---
    + [
        (r"sses$", r"ss"),                   # classes->class
        # es after the productive sibilants only — bare `s` excluded so
        # uses/databases/parses keep their e via the final s-strip rule
        (r"(ch|sh|[xz])es$", r"\1"),         # searches->search, indexes->index
        (r"(.)ies$", r"\1y"),                # queries->query ("ies" alone untouched)
        (r"([^sui])s$", r"\1"),              # joins->join ("ss"/"us"/"is" untouched)
    ]
)

_COMPILED_RULES = [(re.compile(p), r) for p, r in STEM_RULES]

# Irregular-form lexicon — the CoreNLP ``Morphology`` behavior no suffix
# rule can produce (the reference's lemmatizer carries a WordNet exception
# list; IndexService.java:5, 159-166). Checked BEFORE the rule chain as
# an exclusive branch in every dialect: a lexicon hit returns its lemma
# directly, never re-entering the regex chain. Only surface forms that
# are UNAMBIGUOUSLY an inflection are listed (``saw``/``left``/``found``
# are also base nouns/verbs and excluded — CoreNLP disambiguates with a
# POS tag this engine does not have). ``buses`` stays deliberately
# un-lexiconed: treating it here would be inconsistent with the measured
# Cs-restore heuristic that keeps uses/databases/parses correct, and the
# divergence is pinned in tests/test_stemmer_divergence.py.
IRREGULAR_LEMMAS = {
    # plural nouns
    "mice": "mouse", "children": "child", "feet": "foot",
    "geese": "goose", "teeth": "tooth", "men": "man", "women": "woman",
    # verb past / participle forms
    "went": "go", "gone": "go", "ran": "run", "wrote": "write",
    "written": "write", "built": "build", "did": "do", "done": "do",
    "made": "make", "taken": "take", "came": "come",
}

# Every rule's pattern ends in `s$`, `(ing|ed)$` or `ies$` — i.e. the
# last character of any rewritable token is s, g or d. The guard is a
# pure fast-path (provably a no-op on other tokens) and every dialect
# applies the SAME guard, so parity is preserved while the 18-regex
# chain only runs on the minority of suffix-candidate tokens.
STEM_GUARD_CHARS = "sgd"


def stem(word: str) -> str:
    """Deterministic Porter-lite stemmer (see module docstring):
    irregular lexicon first (exclusive), then the guarded rule chain."""
    lemma = IRREGULAR_LEMMAS.get(word)
    if lemma is not None:
        return lemma
    if word[-1:] not in STEM_GUARD_CHARS:
        return word
    for pat, rep in _COMPILED_RULES:
        word = pat.sub(rep, word)
    return word


def normalize(token: str) -> Optional[str]:
    """lower -> strip non-word -> stem; None for non-words.

    Mirrors IndexService.java:164-166 (with the substituted stemmer).
    """
    cleaned = _NONWORD.sub("", token.lower())
    if not cleaned:
        return None
    return stem(cleaned)


def keep(term: Optional[str]) -> bool:
    """Admission filter, IndexService.java:610-616: keep short tokens and
    long pure-alpha words; drop len>=12 tokens containing a digit."""
    if term is None:
        return False
    return len(term) < MAX_UNFILTERED_LEN or _DIGIT.search(term) is None


def tokenize(text: str) -> list:
    """Whitespace-split -> normalize -> filter. Position of a term is its
    index in the returned list (kept terms only, IndexService.java:221-225)."""
    out = []
    for raw in _WS.split(text):
        if not raw:
            continue
        term = normalize(raw)
        if keep(term):
            out.append(term)
    return out


# --- SQL expression builders ----------------------------------------------
# Both dialects implement exactly the pipeline above, generated from the
# SAME STEM_RULES table. Spark's form uses higher-order functions
# (transform/filter) so the tokenizer runs fully JVM-side inside
# whole-stage codegen; DuckDB's uses list lambdas.

def _render_stem_chain(base: str, dialect: str) -> str:
    """Nest the STEM_RULES regexp_replace chain around `base`."""
    expr = base
    for pat, rep in STEM_RULES:
        if dialect == "spark":
            rep_sql = rep.replace("\\1", "$1")
            expr = f"regexp_replace({expr}, '{pat}', '{rep_sql}')"
        else:  # duckdb: RE2, \1 group syntax, backslash literal in ''
            expr = f"regexp_replace({expr}, '{pat}', '{rep}')"
    return expr


def _guard_list() -> str:
    return ", ".join(f"'{c}'" for c in STEM_GUARD_CHARS)


def _lexicon_whens() -> str:
    """The IRREGULAR_LEMMAS branch as `WHEN t = '..' THEN '..'` arms,
    sorted for deterministic SQL text (both dialects share it)."""
    return " ".join(f"WHEN t = '{w}' THEN '{lemma}'"
                    for w, lemma in sorted(IRREGULAR_LEMMAS.items()))


def spark_tokens_expr(col: str = "content") -> str:
    """Spark SQL expression: string column -> array<string> of kept terms.
    Two-level transform: the inner one strips/lowercases once per token,
    the outer applies the stem chain only behind the last-char guard."""
    base = "regexp_replace(lower(t), '[^a-z0-9_]', '')"
    chain = _render_stem_chain("t", "spark")
    guarded = (f"CASE {_lexicon_whens()} "
               f"WHEN right(t, 1) IN ({_guard_list()}) "
               f"THEN {chain} ELSE t END")
    return (
        f"filter(transform(transform(split({col}, '\\\\s+'), t -> {base}), "
        f"t -> {guarded}), "
        f"t -> t != '' AND (length(t) < {MAX_UNFILTERED_LEN} OR t NOT RLIKE '[0-9]'))"
    )


def duckdb_tokens_expr(col: str = "text") -> str:
    """DuckDB SQL expression: string column -> list<varchar> of kept terms."""
    base = "regexp_replace(lower(t), '[^a-z0-9_]', '', 'g')"
    chain = _render_stem_chain("t", "duckdb")
    # right(t, 1) spelled as t[-1] (DuckDB string slicing)
    guarded = (f"CASE {_lexicon_whens()} "
               f"WHEN t[-1] IN ({_guard_list()}) "
               f"THEN {chain} ELSE t END")
    # RE2's \s lacks \x0b (vertical tab); spell out Java's class
    return (
        f"list_filter(list_transform(list_transform("
        f"regexp_split_to_array({col}, '[ \\t\\n\\x0b\\f\\r]+'), t -> {base}), "
        f"t -> {guarded}), "
        f"t -> t != '' AND (length(t) < {MAX_UNFILTERED_LEN} OR NOT regexp_matches(t, '[0-9]')))"
    )
