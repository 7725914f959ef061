"""Cutover anti-join cost: bucketed seen-ledger vs plain parquet.

The engine's exact-backstop CUTOVER path (operators/seen.py, maybe-set
beyond the broadcast budget) anti-joins the round's batch against the
full seen ledger. Stored as plain parquet that join shuffles BOTH
sides — O(frontier) movement for one bad round. Stored as the bucketed
table (sources/ledger.py, CrawlConfig.seen_ledger_buckets) the batch
alone shuffles into the ledger's layout — O(batch) at any ledger size.

This tool measures exactly that pair on synthetic keys (spark.range →
xxhash64, the same generator the frontier bench uses — no external
data), min-of-R reps inside one JVM, broadcast joins disabled so the
physical plans are the two shapes under test:

    python tools/ledger_bench.py                 # 24M ledger, 4.8M batch
    python tools/ledger_bench.py --n 24000000 --batch 4800000 \
        --cpus 8 --buckets 64 --reps 3
    python tools/ledger_bench.py --ttl           # TTL liveness view as RHS
    python tools/ledger_bench.py --skip-plain --n 2400000000

Prints one JSON line: per-rep seconds per layout, ``min_bucketed_sec``,
and — unless ``--skip-plain`` — ``min_plain_sec`` and the
plain/bucketed ``speedup``. ``--skip-plain`` measures the bucketed
layout alone (for ledgers too large to also hold the plain copy on
disk), so those two keys are then absent. The scaling claim this
evidences: the plain join's shuffled bytes grow with the LEDGER while
the bucketed join's stay O(batch) — re-run with --n 10x to watch the
gap widen.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=24_000_000)
    ap.add_argument("--batch", type=int, default=4_800_000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument(
        "--ttl",
        action="store_true",
        help="measure the TTL cutover shape instead (r4 verdict #5): "
        "the ledger holds STATUS rows (url_key, round, is_fetch) and "
        "the anti-join's RHS is the TTL liveness view "
        "Filter(Agg(ledger)) — bucketed, the aggregate runs with no "
        "Exchange and the join shuffles only the batch (O(batch)); "
        "plain parquet, both the aggregate and the join shuffle "
        "O(frontier).",
    )
    ap.add_argument(
        "--skip-plain",
        action="store_true",
        help="measure only the bucketed shape — for ledger sizes "
        "where materializing the plain copy too would not fit the "
        "box's disk (the plain side's O(frontier) linearity is "
        "established by the 24M/240M/960M series; this flag extends "
        "the BUCKETED series alone toward the 10^10 north_rule "
        "scale).",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from web_crawler_search_engine_spark.sources.ledger import (
        write_bucketed_ledger,
    )

    tmp = tempfile.mkdtemp(prefix="ledger_bench_")
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("ledger-bench")
        .config("spark.sql.shuffle.partitions", str(args.buckets))
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        .config("spark.sql.warehouse.dir", tmp + "/wh")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

    if args.ttl:
        # TTL status ledger: every key discovered (is_fetch=false,
        # round 0); 1/3 of keys also fetched at a round spread over
        # [1, 8] — liveness at probe round 10 with ttl 4 expires the
        # old-fetch tail, so the aggregate+filter actually selects
        keys = spark.range(0, args.n).select(
            F.xxhash64("id").alias("url_key"),
            F.lit(0).cast("int").alias("round"),
            F.lit(False).alias("is_fetch"),
        )
        fetches = (
            spark.range(0, args.n)
            .filter(F.col("id") % 3 == 0)
            .select(
                F.xxhash64("id").alias("url_key"),
                (F.pmod(F.col("id"), F.lit(8)) + 1).cast("int").alias("round"),
                F.lit(True).alias("is_fetch"),
            )
        )
        keys = keys.unionByName(fetches)
    else:
        keys = spark.range(0, args.n).select(
            F.xxhash64("id").alias("url_key"), F.lit(0).alias("round")
        )
    plain_path = tmp + "/plain"
    if not args.skip_plain:
        keys.repartition(args.buckets, "url_key").write.parquet(plain_path)
    write_bucketed_ledger(
        keys, "t_ledger_bench", tmp + "/bucketed", buckets=args.buckets
    )
    # half-overlapping batch: the anti-join keeps ~half
    batch = (
        spark.range(args.n - args.batch // 2, args.n + args.batch // 2)
        .select(F.xxhash64("id").alias("url_key"))
        .persist()
    )
    batch.count()

    plain = None if args.skip_plain else spark.read.parquet(plain_path)
    bucketed = spark.table("t_ledger_bench")
    if args.ttl:
        # the engine's OWN TTL liveness rule (operators/seen.py
        # ttl_live_agg — shared, so the measured predicate can never
        # drift from the engine's): expired iff latest row is a
        # fetch older than the cut
        from web_crawler_search_engine_spark.operators.seen import (
            ttl_live_agg,
        )

        cut = 10 - 4
        if plain is not None:
            plain = ttl_live_agg(plain, cut).select("url_key")
        bucketed = ttl_live_agg(bucketed, cut).select("url_key")
    else:
        if plain is not None:
            plain = plain.select("url_key")
        bucketed = bucketed.select("url_key")

    def run(ledger) -> float:
        t0 = time.monotonic()
        batch.join(ledger, "url_key", "left_anti").count()
        return time.monotonic() - t0

    sides = {"bucketed": bucketed}
    if plain is not None:
        sides["plain"] = plain
    results: dict[str, list[float]] = {k: [] for k in sides}
    # warm both paths once (page cache, code paths), then measure
    for ledger in sides.values():
        batch.join(ledger, "url_key", "left_anti").count()
    for _ in range(args.reps):
        for k, ledger in sides.items():
            results[k].append(round(run(ledger), 3))

    mins = {k: min(v) for k, v in results.items()}
    out = {
        "metric": (
            "ttl_cutover_anti_join_sec"
            if args.ttl
            else "cutover_anti_join_sec"
        ),
        "n_ledger": args.n,
        "n_batch": args.batch,
        "cpus": args.cpus,
        "buckets": args.buckets,
        "reps": results,
        "min_bucketed_sec": mins["bucketed"],
    }
    if "plain" in mins:
        out["min_plain_sec"] = mins["plain"]
        out["speedup"] = round(mins["plain"] / mins["bucketed"], 3)
    print(json.dumps(out))
    spark.sql("DROP TABLE IF EXISTS t_ledger_bench")
    spark.stop()


if __name__ == "__main__":
    main()
