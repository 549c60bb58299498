"""Seeded input generator for the perfbench workloads.

Everything here depends only on numpy and the seed, never on the
package under test, so a change to the engine cannot change the inputs
it is measured on. Two corpus shapes:

- `code_corpus`: source-code-like documents for the `index` workload.
  Words come from a synthetic vocabulary
  drawn with Zipf frequencies, so every term's document frequency is
  known before the engine sees the corpus and queries can be drawn from
  head, mid and tail frequency bands. Phrases and near co-occurrences
  are planted for the phrase and positional queries, and long
  digit-bearing tokens (which the tokenizer must drop) and punctuation
  are mixed in.
- `prose_corpus`: shorter English-like documents for `curate`, with a
  seeded share of planted near-duplicates, shared boilerplate spans,
  non-English, too-short and repetitive documents.

Vocabulary words are consonant-vowel syllables ending in a, o or u, so
the engine's stemmer leaves them unchanged and a generated word is
exactly one index term.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

GEN_VERSION = 3

# corpus shape; every value here changes the generated inputs, so
# changing one must bump GEN_VERSION (it is part of the cache key)
CODE_DOC_TOKENS = 160
CODE_VOCAB = 20000
CODE_ZIPF_S = 1.05
PROSE_DOC_TOKENS = 120
MIN_SYL, MAX_SYL = 2, 4
LINE_WIDTH = 12

_CONS = np.array(list("bdfgklmnprtvz"))
_VOW = np.array(list("aeiou"))
_FINAL = np.array(list("aou"))
_NOISE = ["=", "{", "}", "();", "//", "->", "+=", "v2", "i++", "[0]"]
STOPWORDS = ["the", "a", "and", "for", "of", "to", "in", "is"]
GERMAN = ["der", "die", "und", "das", "ist"]


def vocabulary(rng: np.random.Generator, n: int) -> list:
    """`n` distinct lowercase words of 2-4 CV syllables, final vowel
    a/o/u (no stemmer rule or irregular lemma applies to them), shortest
    first: a word's Zipf rank sets its length, as in natural text, so
    corpus bytes per token do not drift with the seed."""
    out, seen = [], set()
    while len(out) < n:
        m = 2 * (n - len(out)) + 16
        syl = rng.integers(MIN_SYL, MAX_SYL + 1, size=m)
        cons = _CONS[rng.integers(0, len(_CONS), size=(m, MAX_SYL))]
        vow = _VOW[rng.integers(0, len(_VOW), size=(m, MAX_SYL))]
        fin = _FINAL[rng.integers(0, len(_FINAL), size=m)]
        for i in range(m):
            k = syl[i]
            w = "".join(cons[i, j] + (vow[i, j] if j < k - 1 else fin[i])
                        for j in range(k))
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return sorted(out, key=len)  # stable: random order within a length


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class CodeCorpus:
    """Index-workload input. `docs` rows are (repo, path, commit, lang,
    content); every path's last component is unique, so a document's
    name identifies it."""
    docs: list
    bands: dict                      # "head"/"mid"/"tail" -> [term]
    phrases: list                    # [(w1, w2, w3)] planted adjacently
    pairs: list                      # [(w1, w2, gap)] planted within gap
    prefixes: list                   # 3-letter prefixes for joker queries

    @property
    def input_bytes(self) -> int:
        return sum(len(d[4].encode()) for d in self.docs)


def code_corpus(seed: int, n_docs: int, first_doc: int = 0, stream: int = 0,
                repo: str = "repo") -> CodeCorpus:
    """`n_docs` documents of about `CODE_DOC_TOKENS` tokens. `stream` selects an
    independent document stream over the SAME vocabulary and planted
    phrases (the new batches appended to a live index); `first_doc` and
    `repo` keep (repo, path) keys of different streams apart."""
    vrng = np.random.default_rng([seed, 1])
    vocab = CODE_VOCAB
    words = np.array(vocabulary(vrng, vocab), dtype=object)
    rng = np.random.default_rng([seed, 2, stream])
    lens = rng.integers(int(CODE_DOC_TOKENS * 0.75),
                        int(CODE_DOC_TOKENS * 1.25) + 1, size=n_docs)
    starts = np.concatenate([[0], np.cumsum(lens)])
    total = int(starts[-1])
    ids = np.searchsorted(_zipf_cdf(vocab, CODE_ZIPF_S), rng.random(total))
    ids = np.minimum(ids, vocab - 1)

    # planted phrases (adjacent) and near co-occurrences, over mid ranks;
    # drawn from the vocabulary stream so every document stream agrees
    prng = np.random.default_rng([seed, 3])
    mid_ranks = prng.choice(np.arange(300, 3000), size=8 * 3 + 8 * 2,
                            replace=False)
    phrases = [tuple(int(r) for r in mid_ranks[3 * i:3 * i + 3])
               for i in range(8)]
    pr = mid_ranks[24:]
    pairs = [(int(pr[2 * i]), int(pr[2 * i + 1]), int(prng.integers(2, 5)))
             for i in range(8)]
    for ph in phrases:
        hit = np.flatnonzero(rng.random(n_docs) < 0.01)
        for d in hit:
            p = starts[d] + rng.integers(0, lens[d] - 3)
            ids[p:p + 3] = ph
    for a, b, gap in pairs:
        hit = np.flatnonzero(rng.random(n_docs) < 0.01)
        for d in hit:
            p = starts[d] + rng.integers(0, lens[d] - gap - 1)
            ids[p] = a
            ids[p + rng.integers(1, gap + 1)] = b

    # surface noise: punctuation-only tokens (dropped), long digit-bearing
    # ids (>= 12 chars, dropped), capitalised and decorated words (same term)
    toks = words[ids]
    u = rng.random(total)
    noise = u < 0.05
    toks[noise] = np.array(_NOISE, dtype=object)[
        rng.integers(0, len(_NOISE), size=int(noise.sum()))]
    hexes = (u >= 0.05) & (u < 0.07)
    toks[hexes] = ["0x%012x" % v for v in
                   rng.integers(0, 1 << 48, size=int(hexes.sum()))]
    caps = (u >= 0.07) & (u < 0.09)
    toks[caps] = [t.capitalize() for t in toks[caps]]
    deco = (u >= 0.09) & (u < 0.11)
    toks[deco] = [t + "(" for t in toks[deco]]
    ids[noise | hexes] = -1

    docs = []
    for d in range(n_docs):
        n = first_doc + d
        docs.append((f"{repo}{n % 97:02d}", f"src/m{n % 13}/f{n:07d}.py",
                     "%040x" % n, "code", _lines(toks[starts[d]:starts[d + 1]])))

    # document frequency per vocabulary rank, from the generated ids
    doc_of = np.repeat(np.arange(n_docs), lens)
    keep = ids >= 0
    uniq = np.unique(ids[keep] * n_docs + doc_of[keep])
    df = np.bincount(uniq // n_docs, minlength=vocab)
    bands = {
        "head": [words[i] for i in np.flatnonzero(df >= 0.2 * n_docs)],
        "mid": [words[i] for i in
                np.flatnonzero((df >= 0.01 * n_docs) & (df <= 0.05 * n_docs))],
        "tail": [words[i] for i in np.flatnonzero((df >= 2) & (df <= 8))],
    }
    prefixes = sorted({w[:3] for w in bands["mid"][:40]})
    return CodeCorpus(
        docs=docs, bands=bands,
        phrases=[tuple(words[r] for r in ph) for ph in phrases],
        pairs=[(words[a], words[b], g) for a, b, g in pairs],
        prefixes=prefixes)


def prose_corpus(seed: int, n_docs: int) -> list:
    """Curate-workload input: rows (doc_id, text, lang, source)."""
    vrng = np.random.default_rng([seed, 11])
    vocab = np.array(vocabulary(vrng, 8000), dtype=object)
    rng = np.random.default_rng([seed, 12])
    cdf = _zipf_cdf(len(vocab), 0.9)
    boiler = [" ".join(vocab[np.searchsorted(cdf, rng.random(20))])
              for _ in range(5)]
    stop = np.array(STOPWORDS, dtype=object)
    german = np.array(GERMAN, dtype=object)

    def body(n: int, marks: np.ndarray) -> list:
        t = vocab[np.minimum(np.searchsorted(cdf, rng.random(n)),
                             len(vocab) - 1)]
        s = rng.random(n) < 0.25
        t[s] = marks[rng.integers(0, len(marks), size=int(s.sum()))]
        return list(t)

    docs = []
    for d in range(n_docs):
        kind = rng.random()
        if kind < 0.10 and d > 10:
            # near-duplicate of an earlier document: 1-3% of tokens changed
            src = docs[int(rng.integers(0, d))][1].split()
            m = max(1, int(len(src) * rng.uniform(0.01, 0.03)))
            for p in rng.integers(0, len(src), size=m):
                src[p] = vocab[int(rng.integers(0, len(vocab)))]
            text = _lines(src)
        elif kind < 0.18:
            text = _lines(body(int(rng.integers(60, 160)), german))
        elif kind < 0.23:
            text = _lines(body(int(rng.integers(8, 25)), stop))
        elif kind < 0.28:
            line = " ".join(body(12, stop))
            text = "\n".join([line] * int(rng.integers(6, 12)))
        else:
            t = body(int(rng.integers(int(PROSE_DOC_TOKENS * 0.5),
                                      int(PROSE_DOC_TOKENS * 1.5))), stop)
            if rng.random() < 0.2:
                p = int(rng.integers(0, len(t)))
                t[p:p] = boiler[int(rng.integers(0, len(boiler)))].split()
            text = _lines(t)
        docs.append((d, text, "en", f"src{d % 7}"))
    return docs


def _lines(toks) -> str:
    return "\n".join(" ".join(toks[i:i + LINE_WIDTH])
                     for i in range(0, len(toks), LINE_WIDTH))


# -- parquet cache ---------------------------------------------------------

CODE_SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
               ("lang", "string"), ("content", "string")]
PROSE_SCHEMA = [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                ("source", "string")]


def cached_parquet(cache_dir: str, key: str, rows: list, schema: list) -> str:
    """Write `rows` to `<cache_dir>/<key>.parquet` once (atomic rename) and
    return the path; the key carries generator version, seed and size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"gen-v{GEN_VERSION}-{key}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(cache_dir, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table({name: pa.array(list(col), type=typ)
                      for (name, typ), col in zip(schema, cols)})
    tmp = path + f".tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path
