"""Expected answers, computed before Spark starts and cached by seed
under the benchmark's cache directory.

- Index queries: the package's pure-Python `OracleIndex` (BM25 top-10
  must be rank-identical, docIDs and scores; set queries compare as
  sets of document names, which are unique per document).
- Curation: the DuckDB `oracle_sql()` forms of `__spark_entry__.py`
  (`pipeline_curate`, `dedup_incremental`) run over the generated
  parquet.
"""

from __future__ import annotations

import hashlib
import json
import math
import os


def _cached(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


# -- index queries ---------------------------------------------------------

def oracle_answers(path: str, docs: list, queries: list) -> list:
    """[(cls, query)] -> JSON-able expected answers, in order: BM25 as
    [[name, score]] top-10, set queries as sorted name lists. The cache
    file is `path` plus a digest of the query list."""
    digest = hashlib.sha1(json.dumps(queries).encode()).hexdigest()[:12]
    path = f"{path}-{digest}.json"

    def compute():
        from information_retrieval_spark.oracle import OracleIndex

        oracle = OracleIndex((d[0], d[1], d[4]) for d in docs)
        out = []
        for cls, q in queries:
            if cls.startswith("bm25"):
                out.append([[n, s] for _, s, n in oracle.bm25(q, k=10)])
            else:
                out.append(sorted(getattr(oracle, cls)(q)))
        return out
    return _cached(path, compute)


def same_answer(cls: str, got: list, want: list) -> bool:
    """`got`: engine rows already reduced to [(name, score)] for BM25 or
    [name] for set queries."""
    if cls.startswith("bm25"):
        return (len(got) == len(want)
                and all(gn == wn and math.isclose(gs, ws, rel_tol=1e-9,
                                                  abs_tol=1e-12)
                        for (gn, gs), (wn, ws) in zip(got, want)))
    return sorted(got) == want


# -- curation --------------------------------------------------------------

def curate_answers(path: str, parquet: str) -> dict:
    """{"pipeline": [[id, reason, n_in, n_out]], "inc_pairs": [[a, b,
    est]]}."""
    def compute():
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            # Spark has not started yet; one core is left to the host probe
            con.execute("SET threads TO 3")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{parquet}')")
            pipe = con.execute(sql["pipeline_curate"]).fetchall()
            inc = con.execute(sql["dedup_incremental"]).fetchall()
        finally:
            con.close()
        return {"pipeline": sorted([list(r) for r in pipe]),
                "inc_pairs": sorted([[a, b, round(e, 6)] for a, b, e in inc])}
    return _cached(path, compute)

