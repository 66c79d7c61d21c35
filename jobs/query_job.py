"""spark-submit entrypoint for batch query evaluation.

    spark-submit --py-files se_spark.zip jobs/query_job.py \
        --index <index dir> --queries "prince andrew" "historic event" [-k 100]

    # mid-stream: search a live streaming merge tree WITHOUT collapsing
    spark-submit --py-files se_spark.zip jobs/query_job.py \
        --segments <ingest work dir> --queries "prince andrew" [-k 100]

Prints one JSON line per query: {"query": ..., "topk": [[docid, score], ...]}.
Uses the driver-side exact top-k (``topk_wand``: block-max pruning,
block-at-a-time) — for bulk query sets the distributed plan
(operators/query.topk_distributed) amortizes better.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index")
    ap.add_argument("--segments",
                    help="streaming ingest work dir: query the live level "
                         "set without collapsing")
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("-k", type=int, default=100)
    ap.add_argument("--distributed", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cores:
        from search_engine_spark.session import get_spark

        spark = get_spark(app_name="query", cores=args.cores)
    else:
        spark = SparkSession.builder.appName("query").getOrCreate()

    from search_engine_spark.operators import query as Q

    if bool(args.index) == bool(args.segments):
        ap.error("exactly one of --index / --segments is required")

    if args.segments:
        from search_engine_spark.streaming.indexing import level_segments

        # handles are loaded once: every query reuses their resolved tables
        segs = [Q.load_index(spark, d) for d in level_segments(args.segments)]
        for q in args.queries:
            rows = Q.topk_over_segments(spark, segs, q, k=args.k).collect()
            print(json.dumps({
                "query": q, "segments": len(segs),
                "topk": [[r["docid"], r["score"]] for r in rows],
            }))
        return

    idx = Q.load_index(spark, args.index)
    for q in args.queries:
        if args.distributed:
            rows = Q.topk_distributed(idx, q, k=args.k).collect()
            topk = [[r["docid"], r["score"]] for r in rows]
        else:
            topk = [[d, s] for d, s in Q.topk_wand(idx, q, k=args.k)]
        print(json.dumps({"query": q, "topk": topk}))


if __name__ == "__main__":
    main()
