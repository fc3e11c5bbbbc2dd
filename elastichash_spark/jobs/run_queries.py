"""spark-submit job #2: run top-k queries against a built index.

Usage:
    spark-submit --py-files elastichash_spark.zip \
        elastichash_spark/jobs/run_queries.py \
        --index /path/index --queries /path/queries_parquet \
        [--strategy wand|exact] [--output /path/results_parquet] [--pin]

Queries parquet schema: (qid long, text string, k int) — the transposition of
the reference's query sweep (``/root/reference/experiments/get_times.py``).
Prints one JSON line with latency metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument(
        "--strategy", default="wand", choices=["wand", "exact"]
    )
    ap.add_argument("--output", default=None)
    ap.add_argument(
        "--with-stats", action="store_true",
        help="also report block-pruning economics (wand only)",
    )
    ap.add_argument(
        "--dialect", action="store_true",
        help="parse query text as the ES query_string mini-dialect "
        "(term^boost, -negation, whole-string \"phrases\") and dispatch "
        "each query to its exact engine path",
    )
    ap.add_argument(
        "--context", type=int, default=0, metavar="W",
        help="return each hit with its ±W same-conversation turns, fetched "
        "from the index's own docs store (query.fetch_context; requires an "
        "index whose id_cols include conv_id and turn_idx — the default "
        "transcript key)",
    )
    ap.add_argument(
        "--pin", action="store_true",
        help="pin a snapshot-isolated view of the index first and query "
        "through it — safe to run while an append/compact is publishing "
        "(driver-local filesystems; hardlinks into <index>.pin_<pid>)",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("elastichash-query")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from elastichash_spark.query import query_string, search

    pin_dir = None
    if args.pin:
        from elastichash_spark.pin import pin_index

        pin_dir = f"{args.index.rstrip('/')}.pin_{os.getpid()}"
        pinned = pin_index(args.index, pin_dir)
        args.index = pin_dir
        print(json.dumps({"pinned": pin_dir,
                          "n_docs": pinned["n_docs"],
                          "files_linked": pinned["files_linked"]}))

    queries = spark.read.parquet(args.queries)
    n_queries = queries.count()
    t0 = time.time()
    stats = None
    if args.with_stats and (args.strategy != "wand" or args.dialect):
        # only the wand kernel counts pruning (and the dialect path fans
        # out over several kernel calls); all-zero stats would read as
        # "100% pruned" — refuse instead
        raise SystemExit("--with-stats requires --strategy wand, no --dialect")
    try:
        if args.dialect:
            res = query_string(
                spark, args.index, queries, strategy=args.strategy
            )
        elif args.with_stats:
            res, stats = search(
                spark, args.index, queries, strategy=args.strategy,
                with_stats=True,
            )
        else:
            res = search(spark, args.index, queries, strategy=args.strategy)
        if args.context:
            from elastichash_spark.deletes import load_tombstones
            from elastichash_spark.query import fetch_context

            docs = spark.read.parquet(os.path.join(args.index, "docs"))
            if not {"conv_id", "turn_idx"} <= set(docs.columns):
                raise SystemExit(
                    "--context requires an index keyed by (conv_id, "
                    "turn_idx); this index's docs store lacks them")
            turns = docs.select("docID", "conv_id", "turn_idx", "text")
            # deleted turns must not resurface as CONTEXT either — search
            # already masks them from the hits, the turn relation needs the
            # same anti-join
            tomb = load_tombstones(spark, args.index)
            if tomb is not None:
                turns = turns.join(tomb, "docID", "left_anti")
            res = fetch_context(
                res, turns, window=args.context, payload_cols=["text"],
            )
        if args.output:
            res.write.mode("overwrite").parquet(args.output)
            n_rows = spark.read.parquet(args.output).count()
        else:
            n_rows = res.count()
    finally:
        if pin_dir is not None:
            from elastichash_spark.pin import unpin_index

            unpin_index(pin_dir)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "job": "run_queries",
                "strategy": args.strategy,
                "wall_sec": wall,
                "n_queries": n_queries,
                "result_rows": n_rows,
                "mean_ms_per_query": 1000.0 * wall / max(1, n_queries),
                "context_window": args.context or None,
                "pruning": stats,
            }
        )
    )


if __name__ == "__main__":
    main()
