"""spark-submit entry point (north_rule: `spark-submit --py-files` on
multi-executor clusters).

Usage:
    # package the engine for the executors
    cd /root/repo && zip -r /tmp/irs.zip information_retrieval_spark

    spark-submit --py-files /tmp/irs.zip -m information_retrieval_spark.cli ...
    # or locally:
    python -m information_retrieval_spark.cli build --input <parquet-or-iceberg> --index <dir>
    python -m information_retrieval_spark.cli query --index <dir> --mode bm25 --q "spark join window"
    python -m information_retrieval_spark.cli bench-corpus --n-docs 300000 --out <dir>

On a cluster, pass --master and executor settings to spark-submit as
usual; this module only creates/loads the SparkSession it is given.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from .session import get_spark
    return get_spark(app_name="information-retrieval-spark",
                     master=args.master,
                     shuffle_partitions=args.shuffle_partitions)


def cmd_build(args) -> int:
    from .build import IndexBuilder, IndexConfig
    spark = _spark(args)
    docs = spark.read.parquet(args.input) if args.format == "parquet" \
        else spark.read.format(args.format).load(args.input)
    cfg = IndexConfig(docs_per_block=args.docs_per_block,
                      n_partitions=args.shuffle_partitions)
    t0 = time.time()
    idx = IndexBuilder(spark, args.index, cfg).build(docs, resume=not args.no_resume)
    print(json.dumps({"built": args.index, "sec": round(time.time() - t0, 2),
                      "stats": idx.stats}))
    return 0


def cmd_query(args) -> int:
    from .build import Index, IndexConfig
    from .io import TableStore
    from .query import QueryEngine
    spark = _spark(args)
    idx = Index(store=TableStore(spark, args.index), config=IndexConfig())
    idx.load_stats()
    qe = QueryEngine(idx)
    t0 = time.time()
    if args.mode == "boolean":
        rows = qe.boolean(args.q).collect()
        out = [r["name"] for r in rows]
    elif args.mode == "positional":
        out = [r["name"] for r in qe.positional(args.q).collect()]
    elif args.mode == "joker":
        out = [r["name"] for r in qe.joker(args.q).collect()]
    elif args.mode == "phrase":
        out = [r["name"] for r in qe.phrase(args.q).collect()]
    elif args.mode == "snippets":
        out = [(r["docID"], round(r["score"], 6), r["name"],
                r["win_start"], r["win_end"])
               for r in qe.bm25_snippets(args.q, k=args.k).collect()]
    elif args.mode == "qlm":
        out = [(r["docID"], round(r["score"], 6), r["name"])
               for r in qe.qlm(args.q, k=args.k).collect()]
    elif args.mode == "corrected":
        out = [(r["docID"], round(r["score"], 6), r["name"])
               for r in qe.search_corrected(args.q, k=args.k).collect()]
    else:
        out = [(r["docID"], round(r["score"], 6), r["name"])
               for r in qe.bm25(args.q, k=args.k, wand=not args.no_wand).collect()]
    print(json.dumps({"mode": args.mode, "q": args.q, "sec": round(time.time() - t0, 3),
                      "result": out}))
    return 0


def cmd_bench_corpus(args) -> int:
    from .corpus import synthetic_corpus_distributed
    spark = _spark(args)
    docs = synthetic_corpus_distributed(spark, n_docs=args.n_docs, seed=args.seed,
                                        avg_tokens=args.avg_tokens)
    docs.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"wrote": args.out, "n_docs": args.n_docs}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="information_retrieval_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="parquet")
    b.add_argument("--index", required=True)
    b.add_argument("--docs-per-block", type=int, default=128)
    b.add_argument("--no-resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--mode", default="bm25",
                   choices=["bm25", "boolean", "positional", "joker",
                            "phrase", "snippets", "qlm", "corrected"])
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--no-wand", action="store_true")
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser("bench-corpus")
    c.add_argument("--n-docs", type=int, default=300000)
    c.add_argument("--avg-tokens", type=int, default=400)
    c.add_argument("--seed", type=int, default=42)
    c.add_argument("--out", required=True)
    c.set_defaults(fn=cmd_bench_corpus)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
