"""spark-submit entry point for search over a written index.

Reference CLI analog: ``streamlit run start_search_engine.py`` — here
a batch/REPL query runner over the token-bucketed index that
``jobs/index_job.py`` wrote (the UI layer is out of engine scope; the
query lifecycle — n-gram prep, postings lookup, score sum, top-k,
metadata join, C10 context snippet, stemmed-unigram fallback — is
identical, plans/search.py).

    spark-submit --master <cluster> --py-files dist/engine.zip \
        jobs/search_job.py --index /path/to/index \
        [--pages /path/to/crawl_ckpt]   # enables context snippets
        [--k 5] --query "granite harbor" [--query ...]

Without --query, reads one query per line from stdin.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description="PySpark search CLI")
    ap.add_argument("--index", required=True, help="dir written by index_job")
    ap.add_argument(
        "--pages",
        default=None,
        help="CrawlJob checkpoint dir — adds C10 context snippets",
    )
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--query", action="append", default=None)
    ap.add_argument(
        "--serve",
        action="store_true",
        help="resident serving mode: answer queries from a "
        "ServingIndex (plans/search.ServingIndex — each token bucket's "
        "postings load into driver memory on first use; a warm query "
        "runs no Spark job, plus one snippet job with --pages) and "
        "report per-query latency_ms in each JSON line — the analog of "
        "the reference's long-lived search process "
        "(start_search_engine.py:14-27)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("search")
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()

    from web_crawler_search_engine_spark.plans.indexer import read_index
    from web_crawler_search_engine_spark.plans.search import (
        ServingIndex,
        latest_pages,
        search,
    )
    from web_crawler_search_engine_spark.sources.checkpoints import SnapshotStore

    postings, docs, buckets = read_index(spark, args.index)
    pages = None
    if args.pages:
        # TTL re-crawl appends one pages row per re-fetch; keep only the
        # latest round's content or the snippet join fans out duplicates.
        pages = latest_pages(SnapshotStore(spark, args.pages).load_log("pages"))
    if args.serve:
        import time

        # resident state (plans/search.ServingIndex): docs collected
        # once, a token bucket's postings on its first query; the bucket
        # loads and the snippet filter are narrow scans (no shuffle)
        idx = ServingIndex(postings, docs, buckets=buckets, pages=pages)
        queries = args.query or (q.strip() for q in sys.stdin)
        for q in queries:
            if not q:
                continue
            t0 = time.monotonic()
            out = idx.query(q, k=args.k)
            ms = (time.monotonic() - t0) * 1000.0
            print(
                json.dumps(
                    {"query": q, "latency_ms": round(ms, 1), "results": out}
                ),
                flush=True,
            )
        return

    queries = args.query or [q.strip() for q in sys.stdin if q.strip()]
    for q in queries:
        rows = search(
            postings, docs, q, k=args.k, pages=pages, buckets=buckets
        ).collect()
        print(
            json.dumps(
                {
                    "query": q,
                    "results": [r.asDict() for r in rows],
                }
            )
        )


if __name__ == "__main__":
    main()
