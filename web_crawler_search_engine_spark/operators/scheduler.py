"""Politeness scheduler: the reference's core custom operator (P7).

The reference gates each dequeue on ``elapsed >= max(crawl_delay,
politeness)`` per host and rotates not-ready URLs to the queue tail
(web_crawler/crawler/frontier.py:116-135). In batch rounds this
becomes *window-ranked admission*: round r admits, per host, the
first ``quota(host)`` pending URLs by discovery_seq, where

    quota = floor(round_duration / max(crawl_delay, politeness))
            - 1 on the host's first-contact round (the robots.txt
              fetch stamps the politeness clock, frontier.py:75)

Skew: the per-host ranking window shuffles by host, and a Zipf-hot
host would funnel its entire pending set through one task. Since the
quota is bounded by K = floor(round_duration / politeness), admission
only ever needs each host's K smallest sequence numbers — so we
pre-reduce with a salted local top-K (host × salt partitions), then
rank exactly over the ≤ S·K survivors per host. The heavy shuffle
moves (host, salt)-partitioned slivers; the exact window sees a
bounded row count per host no matter how hot the host is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def politeness_quota(
    crawl_delay: Column, politeness: float, round_duration: float
) -> Column:
    wait = F.greatest(F.coalesce(crawl_delay, F.lit(0.0)), F.lit(float(politeness)))
    return F.floor(F.lit(float(round_duration)) / wait).cast("int")


def admit(
    candidates: DataFrame,
    quota_col: str = "quota",
    seq_col: str = "discovery_seq",
    host_col: str = "host",
    max_quota: int | None = None,
    salt_buckets: int = 16,
    key_col: str | None = None,
) -> DataFrame:
    """Admit the per-host top-``quota`` candidates by ``seq_col``.

    Two-phase top-K (salted pre-reduce, then exact rank) so a hot host
    never concentrates its full pending set in one window task.
    ``max_quota`` bounds every per-host quota (K above); when None it
    is taken as a required upper bound via the max of quota_col —
    pass it explicitly in production plans.

    With ``key_col`` (a unique row key, e.g. url_key), the ranking
    runs over a SKINNY (key, host, seq, quota) projection and the
    admitted keys — bounded by hosts × quota, orders of magnitude
    smaller than the frontier — broadcast-semi-join back onto the
    full rows: the two windowed shuffles move ~30-byte rows instead
    of full frontier rows (URL strings etc.), and the join-back is
    map-side. Results identical to ranking the full rows (seq is a
    total order).
    """
    if max_quota is None:
        max_quota = candidates.agg(F.max(quota_col)).collect()[0][0] or 0
    if max_quota <= 0:
        return candidates.limit(0)

    ranked_src = candidates
    if key_col is not None:
        ranked_src = candidates.select(key_col, host_col, seq_col, quota_col)

    salted = ranked_src.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(seq_col)), F.lit(salt_buckets))
    )
    w_local = Window.partitionBy(host_col, "_salt").orderBy(seq_col)
    survivors = (
        salted.withColumn("_lrank", F.row_number().over(w_local))
        .filter(F.col("_lrank") <= F.lit(max_quota))
        .drop("_lrank", "_salt")
    )
    w_exact = Window.partitionBy(host_col).orderBy(seq_col)
    admitted = (
        survivors.withColumn("_rank", F.row_number().over(w_exact))
        .filter(F.col("_rank") <= F.col(quota_col))
        .drop("_rank")
    )
    if key_col is None:
        return admitted
    return candidates.join(
        F.broadcast(admitted.select(key_col)), key_col, "left_semi"
    )


def assign_global_seq(
    df: DataFrame,
    order_cols: list[str],
    base: int,
    seq_col: str = "discovery_seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic dense global sequence over a total order —
    WITHOUT a single-partition window.

    Range-partition on the order columns, count rows per partition,
    broadcast the tiny prefix-offset map back, and rank within each
    partition. The result equals the global rank regardless of where
    range boundaries land, because the order columns are a total
    order. (monotonically_increasing_id is partition-layout-dependent
    and therefore banned — SURVEY §7.0.)
    """
    cols = [F.col(c) for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # repartitionByRange runs a sampling job over the input BEFORE the
    # checkpoint materialization pass — persist the input so an
    # expensive upstream (UDF probes, joins) is computed once, and
    # release it as soon as the checkpoint holds the data.
    df = df.persist()
    ranged = df.repartitionByRange(parts, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint(eager=False)
    counts = {r["_pid"]: r["n"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    df.unpersist()
    if not counts:
        return df.withColumn(seq_col, F.lit(base).cast("long"))
    offsets, acc = {}, base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn(
            seq_col,
            (omap[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_pid")
    )


def assign_seq_within_parents_cached(
    df: DataFrame,
    parent_col: str,
    pos_col: str,
    base: int,
    seq_col: str = "discovery_seq",
    max_driver_parents: int = 200_000,
) -> tuple[DataFrame, DataFrame, int]:
    """Dense global sequence over the total order (parent, pos) for the
    per-round link batch: values identical to assign_global_seq on
    [parent_col, pos_col] (same total order, same prefix sums), but with
    no range partitioning, sampling or checkpoint.

    Works because the parent set of one round is the ADMITTED set,
    bounded by hosts x politeness-quota (P7): a hash-partitioned window
    ranks each link within its parent (`_rk`), the ranked rows are
    cached, the per-parent counts fall out of the cache as max(_rk)
    and collect to the driver for an exact prefix sum, and each link
    gets offset[parent] + _rk - 1 via a tiny broadcast join. The input
    stays LAZY (the post-probe unseen batch): the window's shuffle is
    the single wide materialization, so the returned ``new_links`` is
    a zero-shuffle projection every downstream consumer reads straight
    off the cache (persisting the input as well cost a full extra
    wide-row cache write+read per round).

    The window ranks the FULL rows directly: a "skinny" rank over a
    (key, parent, pos) projection plus a join-back has to re-shuffle
    the wide rows anyway, and lost every interleaved A/B at every core
    count (BENCH/BASELINE.md, "seq-assign phase re-A/B").

    Returns (new_links, cache, n_rows): caller unpersists ``cache``
    after its round commit; ``n_rows`` is exact (the offset prefix
    sum), saving a count() action. Above ``max_driver_parents``
    distinct parents (probed with a bounded ``take``, never an
    unbounded collect) the driver pass is the wrong shape, so the
    cached rows are ranked with the fully distributed
    assign_global_seq instead — the wasted _rk column is dropped;
    values again identical.
    """
    spark = df.sparkSession
    w = Window.partitionBy(parent_col).orderBy(pos_col)
    ranked = df.withColumn("_rk", F.row_number().over(w)).persist()
    grouped = ranked.groupBy(parent_col).agg(F.max("_rk").alias("_n"))
    head = grouped.take(max_driver_parents + 1)
    if len(head) > max_driver_parents:
        out = assign_global_seq(
            ranked.drop("_rk"), [parent_col, pos_col], base, seq_col
        )
        return out, ranked, out.count()
    cnts = sorted(head, key=lambda r: r[parent_col])
    if not cnts:
        # project off the (empty, already materialized) cache, NOT the
        # lazy input: returning `df` here would hand every downstream
        # consumer the full anti-join lineage — including the
        # driver-serial matched-set broadcast build — to re-execute
        # per action just to find zero rows, which is the common
        # crawl-drain state (every discovered link already seen).
        return (
            ranked.drop("_rk").withColumn(
                seq_col, F.lit(base).cast("long")
            ),
            ranked,
            0,
        )
    acc = base
    offs = []
    for r in cnts:
        offs.append((r[parent_col], acc))
        acc += r["_n"]
    odf = spark.createDataFrame(offs, f"{parent_col} long, _off long")
    new_links = (
        ranked.join(F.broadcast(odf), parent_col)
        .withColumn(seq_col, (F.col("_off") + F.col("_rk") - 1).cast("long"))
        .drop("_off", "_rk")
    )
    return new_links, ranked, acc - base
