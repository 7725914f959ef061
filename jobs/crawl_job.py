"""spark-submit entry point for the crawl engine.

Launch (north_rule packaging contract):

    python tools/make_pyfiles.py                # builds dist/engine.zip
    spark-submit --master <cluster> \
        --py-files dist/engine.zip \
        jobs/crawl_job.py \
        --corpus /path/to/corpus_world.json \
        --checkpoint /path/to/ckpt \
        [--resume] [--max-rounds 100] [--politeness 0.5] \
        [--round-duration 4.0] [--salt-buckets 16] [--host-buckets 32] \
        [--seen-ledger-buckets N] [--recrawl-ttl N]

In the sandbox the "cluster" is local[N]; the same invocation works
unchanged against a real master because the job only talks to the
SparkSession (reference CLI analog: start_crawler.py:14-20, the
``-n``/``--restart`` flags map to parallelism/--resume).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description="PySpark crawl frontier job")
    ap.add_argument("--corpus", required=True, help="world JSON from generate_world --save, or 'demo:N,H' to synthesize")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-rounds", type=int, default=1000)
    ap.add_argument("--politeness", type=float, default=0.5)
    ap.add_argument("--round-duration", type=float, default=4.0)
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--host-buckets", type=int, default=32)
    ap.add_argument(
        "--seen-ledger-buckets",
        type=int,
        default=None,
        help="also keep the seen set as a bucketed table so non-"
        "broadcast seen joins shuffle only the batch (sources/ledger)",
    )
    ap.add_argument(
        "--recrawl-ttl",
        type=int,
        default=None,
        help="TTL re-crawl: retire a fetched URL's seen entry after N "
        "rounds so rediscovery re-admits it (the Bloom filter drops "
        "expired keys at its next rebuild or compaction)",
    )
    ap.add_argument("--master", default=None, help="override master (else spark-submit's)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("crawl-frontier")
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()

    from web_crawler_search_engine_spark.plans.crawl import CrawlConfig, CrawlJob
    from web_crawler_search_engine_spark.sources.corpus import (
        POLITENESS,
        USER_AGENT,
        corpus_df,
        generate_world,
        robots_src_df,
    )

    if args.corpus.startswith("demo:"):
        n, hosts = (int(x) for x in args.corpus[5:].split(","))
        world = generate_world(n=n, hosts=hosts, seed=42, with_images=False)
    else:
        raise SystemExit(
            "only demo:N,H corpora are wired in the sandbox; point --corpus "
            "at an Iceberg table of image+caption rows in production"
        )

    cfg = CrawlConfig(
        root_domains=world.root_domains,
        user_agent=USER_AGENT,
        politeness=args.politeness if args.politeness else POLITENESS,
        round_duration=args.round_duration,
        salt_buckets=args.salt_buckets,
        host_buckets=args.host_buckets,
        seen_ledger_buckets=args.seen_ledger_buckets,
        recrawl_ttl=args.recrawl_ttl,
    )
    job = CrawlJob(
        spark,
        corpus_df(spark, world),
        robots_src_df(spark, world),
        cfg,
        checkpoint_dir=args.checkpoint,
    )
    if args.resume:
        r = job.resume()
        print(f"resumed from snapshot round {r}", file=sys.stderr)
    else:
        job.start(world.seeds)
    info = job.run(max_rounds=args.max_rounds)
    print(json.dumps(info))


if __name__ == "__main__":
    main()
