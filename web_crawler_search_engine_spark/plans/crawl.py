"""The crawl engine: iterative batch rounds over frontier tables.

One ``run_round`` = one logical time-slice of the reference's
worker loop (web_crawler/crawler/frontier.py:84-135 +
crawler/worker.py:73-111), as pure DataFrame transformations:

  1. robots fetch for first-contact hosts (fetch-once semantics of
     frontier.py:98-110 — here an anti-join + append, P6)
  2. robots evaluation of newly-discovered URLs (can_fetch,
     frontier.py:111-114; denied => consumed-not-fetched)
  3. window-ranked politeness admission (P7, operators/scheduler.py)
  4. fetch join vs the corpus (the deterministic network, J5 —
     reference analog utils/download.py:4-18)
  5. pages sink (S6 — crawler/worker.py:36-49): every successful
     fetch appends one image+caption page row; the indexer consumes
     THIS table (plans/indexer.py), chaining crawl→index→search
  6. link scrape -> validity -> canonicalize -> seen anti-join (X1)
     -> deterministic discovery_seq assignment
  7. token stats aggregation (A1-A3: the lock-guarded dict merge of
     crawler/worker.py:113-127 is exactly partial+final groupBy)
  8. snapshot commit (S7 — resumable, north_rule)

Parity: bit-for-bit equal to tests/oracle/simulator.RoundSim (same
per-round admitted sequences, same final seen set/statuses/lengths),
which in turn closes to the same URL-seen set as the single-worker
reference model. Verified in tests/parity/.

Scale design (the 100 TB / 10^10-URL point — what changed in r2):
  * Per-round state writes are O(round delta), not O(frontier): the
    frontier is an APPEND-ONLY status log (discoveries, denials,
    fetches) with latest-wins compaction every ``compact_every``
    rounds (SURVEY §7.7.7 — the r1 full-snapshot rewrite is gone).
    The ``pending`` working set (r3.8/r3.9) is not stored at all — it
    is a VIEW composed of the append-once ``pending_log`` (a row is
    appended exactly once, when its robots evaluation admits it as a
    candidate), filtered by the per-host consumed WATERMARK (exits
    from the log are exactly admissions, which drain each host's
    queue strictly earliest-seq-first — a prefix, so liveness is
    ``host_pos >= consumed[host]`` arithmetic against the O(hosts)
    ``host_meta`` counters, no key anti-join), plus the latest
    round's still-unevaluated discoveries read straight off that
    round's frontier delta. Per round the engine writes O(delta)
    pending rows; the O(pending) rewrite happens only at compaction,
    where the live view becomes the new ``pending_log`` base.
    Admission (r3.9) reads only the pos_bucket-pruned window —
    O(hosts · quota · compaction-cadence) rows, never the whole
    O(pending) log: a Zipf-hot host's deep queue sits in buckets the
    round provably cannot admit from. NO per-round read or write
    scales with the frontier; only compaction touches O(pending).
  * The URL-seen Bloom filter is a (word_id, word) DataFrame updated
    by union + bit_or groupBy and probed with broadcast joins — all
    JVM codegen, no pandas UDF, no driver pass (operators/seen.py).
    Word DELTAS append to the ``seen_bloom`` log for resume; the
    in-memory filter is localCheckpoint'd so per-round lineage stays
    constant.
  * The exact seen backstop broadcasts the (Bloom-pruned) maybe-keys
    INTO a column-pruned semi scan of the ledger — the ledger is
    scanned (embarrassingly parallel, the phase measured at 0.85
    N→4N efficiency) but never shuffled; parquet Bloom metadata on
    url_key (sources/checkpoints.KEY_BLOOM_OPTIONS) lets row groups
    skip.
  * The frontier is hash-bucketed by host so the admission window
    shuffles host-locally; admission itself is salted two-phase
    top-K (a Zipf-hot host never funnels its pending set through one
    task — operators/scheduler.py).
  * The fetch join keys on xxhash64(url) — uniform, skew-free
    regardless of host skew; AQE splits stragglers.
"""

from __future__ import annotations

import hashlib
import tempfile
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import html as H
from ..functions import text as T
from ..functions import urls as U
from ..operators import seen as seen_ops
from ..operators.scheduler import (
    admit,
    assign_global_seq,
    assign_seq_within_parents_cached,
    politeness_quota,
)
from ..schemas import FRONTIER
from ..sources.checkpoints import KEY_BLOOM_OPTIONS, SnapshotStore
from ..sources.ledger import (
    append_ledger_delta,
    ensure_ledger_table,
    retire_ledger_version,
    write_bucketed_ledger,
)

# URL-seen Bloom layout: bits per planned key, hash count, and the
# smallest planned capacity (operators/seen.plan_m_bits).
BLOOM_BITS_PER_KEY = 16
BLOOM_K = 3
BLOOM_MIN_CAPACITY = 1 << 16


@dataclass
class CrawlConfig:
    root_domains: list[str]
    user_agent: str = "SPARK_CRAWLER"
    politeness: float = 0.5
    round_duration: float = 4.0
    salt_buckets: int = 16
    host_buckets: int = 32
    # TTL re-crawl (engine mode, r4): a fetched URL's seen-set entry
    # retires ``recrawl_ttl`` rounds after its fetch — rediscovering
    # it afterwards re-admits it through the normal politeness path
    # with a fresh discovery_seq. Correctness anchor: the exact
    # backstop view (_seen_keys) drops a key iff its LATEST frontier
    # row is a fetch older than the window, so results are
    # bit-identical to the RoundSim ttl oracle (parity-tested). The
    # Bloom cannot delete, so expired keys stay as harmless maybe-hits
    # until the next compaction/capacity rebuild, which rebuilds from
    # the live TTL view. None disables (the default crawl-once
    # contract).
    recrawl_ttl: int | None = None
    # S4 fetch stage: "corpus" (default — the graft contract's
    # deterministic join against the synthetic network) or "http"
    # (sources/httpfetch.py — Arrow-batched mapInPandas GET with the
    # reference's download semantics: 5 s timeout, empty/failed body
    # reads as nothing-fetched). Robots stay on the robots_src table
    # in both modes (S5's fetch-once network is a separate source).
    fetch_mode: str = "corpus"
    fetch_timeout: float = 5.0
    # requests-style verify flag: canonical URLs are always https
    # (the reference's normalize rewrites http://), so self-signed
    # endpoints (and the e2e fixture server) need verify off
    fetch_verify_tls: bool = True
    # http mode only: also fetch each page's image sidecar
    # ({url}.img), sniff/decode/phash it from the real bytes, and
    # carry it through the pages sink exactly like the corpus join
    # does (sources/httpfetch._image_sidecar — r4 verdict #6)
    fetch_images: bool = False
    compact_every: int = 8
    # above this many distinct parents per round, discovery_seq
    # assignment switches from the driver prefix-sum to the fully
    # distributed range-partitioned path (operators/scheduler.py)
    seq_driver_parent_limit: int = 200_000
    # maybe-set size above which the exact backstop abandons the
    # broadcast semi scan for a plain anti-join (operators/seen.py)
    bloom_broadcast_limit: int = 8_000_000
    # on-disk byte size of the committed robots table above which the
    # two per-round robots joins (rules evaluation, politeness quota)
    # drop their broadcast hints: robots scales with HOSTS-EVER-SEEN,
    # and a broadcast must never scale with an unbounded set. Checked
    # from a driver-side file stat (no Spark job); past the limit the
    # joins run as plain host-keyed shuffle joins — same rows either
    # way (parity-tested with the limit forced to 0).
    robots_broadcast_limit: int = 256 << 20
    # opt-in: ALSO maintain the seen-key set as a bucketed+sorted
    # catalog table (sources/ledger.py), so the non-broadcast seen
    # join (the Bloom cutover path) shuffles only the batch side — the
    # ledger scans in its bucket layout at any size. Results are bit-identical either way (parity-tested);
    # this only changes the physical plan of the X1 joins.
    seen_ledger_buckets: int | None = None


_FRONTIER_COLS = [f.name for f in FRONTIER.fields] + ["allowed"]

_PAGE_COLS = [
    "url_key",
    "url",
    "host",
    "content",
    "image_id",
    "bytes",
    "w",
    "h",
    "fmt",
    "caption",
    "phash",
]


def robots_fetch_once(
    robots_src: DataFrame, new_hosts: DataFrame, delay, fetch_round: int
):
    """One robots row per first-contact host (S5/U6 —
    crawler/frontier.py:96-115 fetches robots.txt once per new
    domain), with null rules = permissive for hosts that serve none.

    Semantically a left-outer join preserving ``new_hosts`` — but an
    outer join can only ever build (broadcast) its NON-preserved
    side, so writing it as one outer join forces Spark to broadcast
    ``robots_src``, a table that scales with every host on the web.
    Composed instead as semi + anti: both are LeftSemi/LeftAnti
    joins whose build side is the batch-bounded set (this round's
    first-contact hosts / their matched robots rows), so the
    host-scaled table is only ever STREAMED, shuffle-free.

    Returns ``(fetched_robots, hit)``; ``hit`` is persisted (it is
    batch-bounded) so ``robots_src`` is scanned once per round no
    matter how many downstream consumers evaluate the robots union —
    the caller unpersists it after its round commit.
    """
    hit = (
        robots_src.join(F.broadcast(new_hosts), "host", "left_semi")
        .select("host", "rules")
        .persist()
    )
    miss = new_hosts.join(
        F.broadcast(hit.select("host")), "host", "left_anti"
    ).withColumn("rules", F.lit(None).cast("string"))
    fetched = (
        hit.unionByName(miss)
        .withColumn("crawl_delay", delay(F.col("rules")))
        .select(
            "host",
            F.lit(True).alias("fetched"),
            "rules",
            "crawl_delay",
            F.lit(fetch_round).alias("fetch_round"),
        )
    )
    return fetched, hit


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        robots_src: DataFrame,
        config: CrawlConfig,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.config = config
        if config.recrawl_ttl is not None:
            if config.recrawl_ttl < 1:
                raise ValueError("recrawl_ttl must be >= 1 round")
            # recrawl_ttl composes with seen_ledger_buckets (r5): the
            # ledger then stores STATUS rows (url_key, round,
            # is_fetch) instead of bare keys — the TTL liveness
            # aggregate (max round / max fetch round per key) runs
            # over the BUCKETED scan with no Exchange, so the cutover
            # anti-join stays O(batch) movement at any frontier size
            # (see _seen_keys and tools/ledger_bench.py --ttl).
        ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="crawl_ckpt_")
        self.store = SnapshotStore(spark, ckpt)
        if corpus is None and config.fetch_mode != "http":
            raise ValueError("corpus is required unless fetch_mode='http'")
        # the synthetic network: keyed by xxhash64(canonical url)
        self.corpus = corpus.persist() if corpus is not None else None
        self.robots_src = robots_src
        self._allows = H.make_robots_allows(config.user_agent)
        self._delay = H.make_robots_delay(config.user_agent)
        self.pending: DataFrame | None = None
        self.robots: DataFrame | None = None
        self.round: int = 0
        # exact pending cardinality, tracked driver-side (seeded by
        # one count at start/resume, then pure arithmetic per round)
        self._n_pending: int = 0
        # next discovery_seq, tracked driver-side from per-round
        # new_urls counts; None => recompute lazily from the log
        self._base: int | None = None
        # in-memory Bloom word table, split into the compaction-window
        # BASE (O(m), rebuilt only at compaction/rebuild boundaries)
        # plus a small DELTA accumulator of the rounds since — the
        # probe reads both layers (seen_ops.maybe_seen_keys
        # delta_words=...), so the O(m) or_words merge never runs
        # per round; None => (re)build once from the committed log
        self._seen_words: DataFrame | None = None
        self._delta_words: DataFrame | None = None
        self._m_bits: int | None = None
        self._n_seen: int = 0
        # bucketed seen-ledger (opt-in): catalog id derived from the
        # checkpoint dir so concurrent jobs in one session never
        # collide; version = the compaction generation, activated
        # lazily (None => attach/seed from the manifest meta)
        self._ledger_id = hashlib.md5(str(ckpt).encode()).hexdigest()[:12]
        self._ledger_version: int | None = None
        self._ledger_buckets: int | None = None
        # a superseded version awaiting retirement — set when a
        # row-form flip reseeds a fresh version; retired only AFTER
        # the commit that publishes the replacement (retiring earlier
        # would leave a crash window where the manifest still points
        # at the deleted version)
        self._ledger_retire_pending: int | None = None
        # admission-window bucket pruning is valid only while the
        # stored pending_log layout matches THIS config's bucket math
        # (resume() clears it on mismatch; compaction restores it)
        self._plog_prune: bool = True

    # -- views over the append-only log --------------------------------
    def _log(self) -> DataFrame:
        return self.store.load_log("frontier_log")

    # -- pending working set as a composed view (r3.8/r3.9) -------------
    # A pending row lives in exactly one place at a time:
    #   * discovered last round  -> the latest frontier_log delta's
    #     status='pending' rows (allowed is null — not yet evaluated);
    #   * evaluated-and-allowed  -> one append-once ``pending_log``
    #     row (written the round it was evaluated, never updated);
    #   * admitted or denied     -> gone. r3.9 tracks exits by
    #     ARITHMETIC, not keys: per host, exits from pending_log are
    #     exactly admissions, and admission always takes the
    #     earliest-discovery_seq rows first (denied rows never enter
    #     the log) — so each host's queue is a strict FIFO whose
    #     consumed rows are a PREFIX. Every log row carries
    #     ``host_pos`` (its dense per-host arrival index) and the
    #     O(hosts-with-pending) ``host_meta`` log tracks per-host
    #     (appended, consumed) counters; live = host_pos >= consumed.
    # Compaction folds the live view into a fresh pending_log base in
    # the same commit that clears the frontier deltas, renumbering
    # host_pos by pure arithmetic (host_pos - consumed — positions
    # are dense, no per-host window needed) and rebasing host_meta to
    # (live_count, 0). Net per round: O(delta) pending rows written,
    # O(delta + hosts) rows READ for admission (the bucket-pruned
    # window below), O(pending) touched only at compaction.
    #
    # Storage layout (the admission-window prune): pending_log dirs
    # are hive-partitioned by pos_bucket = min(host_pos // B, CAP)
    # with B = max politeness quota per round and CAP = compact_every
    # + 1. Between compactions a host consumes <= B rows/round, so at
    # admission time every row that could possibly rank inside any
    # host's quota window sits in buckets 0..rounds_since_compaction
    # — deeper buckets hold rows whose per-host rank provably exceeds
    # the quota and are never read until compaction. A Zipf-hot host
    # with a 10^9-row queue contributes O(B * compact_every) rows to
    # the admission read instead of 10^9. (Iceberg analog: partition
    # pruning served from manifest metadata; here the driver lists
    # pos_bucket=* subdirs.)
    def _plog_bucket_width(self) -> int:
        cfg = self.config
        return max(int(cfg.round_duration // cfg.politeness), 1)

    def _plog_cap(self) -> int:
        ce = self.config.compact_every
        return (ce + 1) if ce else (1 << 20)

    def _plog_bucket_col(self) -> F.Column:
        b = self._plog_bucket_width()
        return F.least(
            F.floor(F.col("host_pos") / F.lit(b)), F.lit(self._plog_cap())
        ).cast("int")

    def _plog_subpaths(self, max_bucket: int | None = None) -> list[str]:
        """Existing pos_bucket=k subdirs across the log's base+delta
        dirs, optionally capped at ``max_bucket`` — the partition
        pruning an Iceberg catalog would serve from manifests."""
        out: list[str] = []
        for p in self.store.log_paths("pending_log"):
            root = Path(p)
            if not root.exists():
                continue
            for sub in root.glob("pos_bucket=*"):
                k = int(sub.name.split("=", 1)[1])
                if max_bucket is None or k <= max_bucket:
                    out.append(str(sub))
        return out

    def _plog_df(self, max_bucket: int | None = None) -> DataFrame:
        paths = self._plog_subpaths(max_bucket)
        if not paths:
            from pyspark.sql.types import (
                BooleanType,
                LongType,
                StructField,
                StructType,
            )

            schema = StructType(
                list(FRONTIER.fields)
                + [
                    StructField("allowed", BooleanType(), True),
                    StructField("host_pos", LongType(), True),
                ]
            )
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*paths)

    def _host_meta(self) -> DataFrame:
        """(host, appended, consumed) totals — the per-host FIFO
        counters, summed over the host_meta log's O(hosts + rounds ·
        active-hosts) delta rows. Hosts with nothing pending are
        dropped at compaction, so this stays O(hosts-with-pending)."""
        return (
            self.store.load_log("host_meta")
            .groupBy("host")
            .agg(
                F.sum("appended").alias("appended"),
                F.sum("consumed").alias("consumed"),
            )
        )

    def _plog_live_pos(self, max_bucket: int | None = None) -> DataFrame:
        """Live pending_log rows (host_pos >= the host's consumed
        watermark), keeping host_pos and the joined ``_consumed``
        column for callers that rebase. No key anti-join: liveness is
        a per-host range predicate against an O(hosts) side."""
        rows = self._plog_df(max_bucket)
        cons = self._host_meta().select(
            "host", F.col("consumed").alias("_consumed")
        )
        return rows.join(cons, "host", "left").filter(
            F.col("host_pos") >= F.coalesce(F.col("_consumed"), F.lit(0))
        )

    def _plog_live(self) -> DataFrame:
        """Full live pending_log view (every bucket) — consumed by
        compaction, tests, and the composed ``pending`` attribute.
        Admission uses the bucket-pruned ``_plog_window`` instead."""
        return self._plog_live_pos().select(*_FRONTIER_COLS)

    def _plog_window(self) -> DataFrame:
        """The admission candidate slice: buckets 0..rounds-since-
        compaction, watermark-filtered. A SUPERSET of every host's
        earliest-``max_quota`` live rows (ranks are dense from 0 at
        the watermark, and excluded buckets hold only rows of rank
        >= B — never admissible), so ``admit`` returns bit-identical
        rows to ranking the full view. Falls back to the full view
        when the stored layout predates this config's bucket math
        (``_plog_prune`` cleared on resume mismatch; the next
        compaction rewrites buckets at the current width)."""
        if not self._plog_prune:
            return self._plog_live()
        rsc = self.store.log_delta_count("frontier_log")
        return self._plog_live_pos(max_bucket=rsc).select(*_FRONTIER_COLS)

    def _plog_meta(self) -> dict:
        return {
            "pending_log": {
                "bucket_width": self._plog_bucket_width(),
                "cap": self._plog_cap(),
            }
        }

    def _fresh_view(self) -> DataFrame:
        """Unevaluated discoveries of the LATEST committed round —
        its frontier delta's pending rows. Right after a compaction
        the delta is gone, but the compacted frontier base is
        latest-wins one-row-per-key, so exactly those rows are its
        ``status='pending' AND round=latest`` slice (nothing else can
        carry that pair: discoveries keep their discovery round, and
        same-round fetch/denial rows lose the status test)."""
        try:
            d = self.store.load_log_delta("frontier_log", self.round)
        except FileNotFoundError:
            d = self.store.load_log("frontier_log").filter(
                F.col("round") == F.lit(self.round)
            )
        return d.filter(F.col("status") == "pending").select(*_FRONTIER_COLS)

    def _pending_view(self) -> DataFrame:
        return self._plog_live().unionByName(self._fresh_view())

    def _robots_hint(self):
        """``F.broadcast`` while the committed robots table's on-disk
        size (a free driver-side stat, no Spark job) is under
        ``robots_broadcast_limit``; identity past it, so the two
        robots joins degrade to plain host-keyed shuffle joins
        instead of broadcasting a table that scales with every host
        the crawl has ever contacted."""
        m = self.store.manifest() or {}
        path = m.get("tables", {}).get("robots")
        if path is not None:
            try:
                total = sum(
                    f.stat().st_size
                    for f in Path(path).rglob("*")
                    if f.is_file()
                )
            except OSError:
                total = 0
            if total > self.config.robots_broadcast_limit:
                return lambda df: df
        return F.broadcast

    # -- bucketed seen-ledger (sources/ledger.py) ----------------------
    def _ledger_table(self, version: int) -> str:
        return f"seen_ledger_{self._ledger_id}_v{version}"

    def _ledger_path(self, version: int) -> str:
        return str(Path(self.store.root) / "seen_ledger" / f"v{version}")

    def _ledger_ttl(self) -> bool:
        """Whether the ledger runs in TTL STATUS-row form."""
        return self.config.recrawl_ttl is not None

    def _ledger_schema(self) -> str:
        return (
            "url_key BIGINT, round INT, is_fetch BOOLEAN"
            if self._ledger_ttl()
            else "url_key BIGINT, round INT"
        )

    def _ttl_ledger_compact_rows(self, probe_round: int) -> DataFrame:
        """The TTL status ledger's compact form, computed from the
        authoritative frontier log: per LIVE key (not expired at
        ``probe_round``) at most two rows — (key, max_fetch_round,
        true) and, when the key has later non-fetch history (or was
        never fetched), (key, max_round, false). Future liveness
        aggregates reconstruct (max round, max fetch round) from
        these exactly; keys already expired at ``probe_round`` are
        DROPPED — expiry is monotone in the probe round (the cut only
        grows and _mr==_fr is frozen until new rows arrive), so an
        expired key can never flip back, and this is where expired
        keys physically leave ledger storage."""
        cut = probe_round - self.config.recrawl_ttl
        live = seen_ops.ttl_live_agg(
            self._log().select(
                "url_key",
                "round",
                (F.col("status") == "fetched").alias("is_fetch"),
            ),
            cut,
        )
        fetches = live.filter(F.col("_fr").isNotNull()).select(
            "url_key",
            F.col("_fr").cast("int").alias("round"),
            F.lit(True).alias("is_fetch"),
        )
        others = live.filter(
            F.col("_fr").isNull() | (F.col("_mr") > F.col("_fr"))
        ).select(
            "url_key",
            F.col("_mr").cast("int").alias("round"),
            F.lit(False).alias("is_fetch"),
        )
        return fetches.unionByName(others)

    def _ensure_ledger(self) -> None:
        """Attach (resume) or seed the bucketed ledger table.

        The active version is whatever the committed manifest meta
        says; the catalog entry is metadata-only and rebuilt per
        session (on a cluster the metastore/Iceberg catalog persists
        it instead). A checkpoint that predates the mode — or whose
        ledger was written in the other (TTL vs bare-key) row form —
        is seeded from the authoritative frontier log as a FRESH
        version — O(frontier) once, same cost class as the Bloom
        from-ledger rebuild."""
        if self._ledger_version is not None:
            return
        meta = (self.store.manifest() or {}).get("meta", {}).get(
            "seen_ledger", {}
        )
        prev = meta.get("version")
        v = prev
        if v is not None and meta.get("ttl", False) != self._ledger_ttl():
            v = None  # other row form on disk: reseed a fresh version
            # the old form's files+table are retired after the next
            # round commit publishes the fresh version (see run_round)
            self._ledger_retire_pending = prev
        # appends MUST use the bucket count the live version was
        # WRITTEN with (a mismatched bucketBy spec is a write error);
        # a changed config takes effect at the next compaction, which
        # re-buckets into a fresh version
        self._ledger_buckets = meta.get(
            "buckets", self.config.seen_ledger_buckets
        )
        if v is None:
            v = 0 if prev is None else prev + 1
            self._ledger_buckets = self.config.seen_ledger_buckets
            if self._ledger_ttl():
                keys = self._ttl_ledger_compact_rows(self.round + 1)
            else:
                keys = (
                    self._log()
                    .select("url_key")
                    .distinct()
                    .withColumn("round", F.lit(self.round).cast("int"))
                )
            write_bucketed_ledger(
                keys,
                self._ledger_table(v),
                self._ledger_path(v),
                buckets=self._ledger_buckets,
                mode="overwrite",
            )
        else:
            ensure_ledger_table(
                self.spark,
                self._ledger_table(v),
                self._ledger_path(v),
                buckets=self._ledger_buckets,
                schema=self._ledger_schema(),
            )
        self._ledger_version = v

    def _seen_view(self):
        """What the X1 accelerator paths probe against: the plain
        DataFrame view (crawl-once), or — in TTL mode — a CALLABLE
        ``restrict -> DataFrame`` that applies the maybe-set
        restriction BELOW the liveness aggregate. Catalyst's
        PushDownLeftSemiAntiJoin pushes a semi through Project and
        Aggregate but NOT through the expiry Filter sitting on top of
        the TTL aggregate (verified in tests/unit/test_plans.py), so
        the manual pre-agg restriction is what keeps the backstop
        O(maybe-matched rows), not O(frontier), per round."""
        if self.config.recrawl_ttl is None:
            return self._seen_keys()
        return lambda restrict=None: self._seen_keys(restrict_to=restrict)

    def _seen_keys(
        self,
        probe_round: int | None = None,
        restrict_to: DataFrame | None = None,
    ) -> DataFrame:
        """The seen set for this round's X1 joins. With the bucketed
        ledger on, rows are gated on the COMMITTED round: an append
        that landed without its manifest commit (crash window) is
        invisible, and a cache-evicted recompute of the anti-join
        still reads exactly the pre-round key set (the gate literal
        is frozen into the plan).

        TTL mode (recrawl_ttl): a key is seen UNLESS its latest log
        row is a fetch older than ``probe_round - ttl`` (a rediscovery
        or denial after the fetch is a later row and keeps the key
        seen; only-fetched-and-aged keys drop out and become
        re-admittable). One groupBy(url_key) over the status log — in
        the accelerated paths the view is built through
        ``restrict_to`` (the accel maybe set, via _seen_view's
        callable), which semi-joins the LOG below the aggregate, so
        the per-key max only runs over the maybe keys' history, not
        O(frontier). (Catalyst cannot do this pushdown itself: the
        expiry Filter on top of the aggregate blocks
        PushDownLeftSemiAntiJoin — plan-locked in
        tests/unit/test_plans.py.) ``probe_round`` defaults to the
        round currently being built (self.round + 1); commit-time
        accelerator rebuilds pass the NEXT probe round so the
        published state already reflects the keys expiring at this
        commit's boundary. Survives latest-wins compaction: for an
        aged fetched key the fetch row IS the latest row, which is
        exactly the row compaction keeps."""
        ttl = self.config.recrawl_ttl
        if ttl is not None:
            cut = (
                self.round + 1 if probe_round is None else probe_round
            ) - ttl
            if self.config.seen_ledger_buckets:
                # TTL × bucketed ledger (r5): the status ledger's
                # bucketed scan satisfies the groupBy's required
                # HashPartitioning(url_key), so the liveness
                # aggregate runs with NO Exchange and the downstream
                # anti/semi join shuffles only the batch side —
                # O(batch) movement at any frontier size (plan-locked
                # in tests/unit/test_bucketed_ledger.py)
                self._ensure_ledger()
                lg = (
                    self.spark.table(
                        self._ledger_table(self._ledger_version)
                    )
                    .where(F.col("round") <= F.lit(self.round))
                    .select("url_key", "round", "is_fetch")
                )
            else:
                lg = self._log().select(
                    "url_key",
                    "round",
                    (F.col("status") == "fetched").alias("is_fetch"),
                )
            # restrict_to: the accel maybe set (broadcast-bounded),
            # pushed below the aggregate inside the shared rule
            return seen_ops.ttl_live_agg(
                lg, cut, restrict=restrict_to
            ).select("url_key")
        if self.config.seen_ledger_buckets:
            self._ensure_ledger()
            return (
                self.spark.table(self._ledger_table(self._ledger_version))
                .where(F.col("round") <= F.lit(self.round))
                .select("url_key")
            )
        return self._log().select("url_key")

    @property
    def frontier(self) -> DataFrame:
        """Latest-wins view of the status log: one row per url_key.
        Version = the ``round`` column. A denial row keeps its
        DISCOVERY round (crawl only changes status), so it can tie
        with the pending row it supersedes — the secondary sort
        (non-pending first) is what makes the denial win. Any new
        same-round status must slot into that tie-break."""
        w = Window.partitionBy("url_key").orderBy(
            F.desc("round"),
            F.asc(F.when(F.col("status") == "pending", 1).otherwise(0)),
        )
        return (
            self._log()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    @property
    def token_stats(self) -> DataFrame:
        """Merged token counts over the per-round deltas (A1)."""
        return (
            self.store.load_log("token_log")
            .groupBy("token")
            .agg(F.sum("count").cast("long").alias("count"))
        )

    def pages(self) -> DataFrame:
        """All fetched pages (S6) — the indexer's input table."""
        return self.store.load_log("pages")

    def export_stats(self) -> tuple[DataFrame, DataFrame]:
        """A10 checkpoint-export ordering (crawler/__init__.py:43-44):
        discovered urls by page length desc, token counts by count
        desc. The reference's ties follow dict-insertion order (not
        reproducible); the contract here is url asc / token asc."""
        urls = self.frontier.select("url", "status", "length").orderBy(
            F.desc("length"), F.asc("url")
        )
        tokens = self.token_stats.orderBy(F.desc("count"), F.asc("token"))
        return urls, tokens

    # ------------------------------------------------------------------
    def start(self, seed_urls: list[str]) -> None:
        """Seed the frontier (S2 — frontier.py:32-37): canonicalize,
        first-occurrence dedup, discovery_seq = seed list position."""
        seeds = self.spark.createDataFrame(
            [(u, i) for i, u in enumerate(seed_urls)], "url string, seq long"
        )
        canon = seeds.select(
            U.canonicalize(F.col("url")).alias("url"), F.col("seq")
        )
        w = Window.partitionBy("url").orderBy("seq")
        deduped = canon.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        frontier = assign_global_seq(deduped.drop("_rn"), ["seq"], base=0).select(
            F.xxhash64("url").alias("url_key"),
            F.col("url"),
            U.netloc_of(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.col("discovery_seq"),
            F.lit("pending").alias("status"),
            F.lit(0).cast("long").alias("length"),
            F.lit(0).alias("round"),
            F.lit(None).cast("boolean").alias("allowed"),
        )
        self.round = 0
        empty_robots = self.spark.createDataFrame(
            [], "host string, fetched boolean, rules string, crawl_delay double, fetch_round int"
        )
        empty_stats = self.spark.createDataFrame([], "token string, count long")
        ledger_meta = None
        if self.config.seen_ledger_buckets:
            # seed version 0 BEFORE the commit that publishes it: the
            # round gate makes a crash in between invisible (rows are
            # only readable once the manifest says round >= 0)
            seed = frontier.select(
                "url_key", F.lit(0).cast("int").alias("round")
            )
            if self._ledger_ttl():
                seed = seed.withColumn("is_fetch", F.lit(False))
            write_bucketed_ledger(
                seed,
                self._ledger_table(0),
                self._ledger_path(0),
                buckets=self.config.seen_ledger_buckets,
                mode="overwrite",
            )
            self._ledger_version = 0
            self._ledger_buckets = self.config.seen_ledger_buckets
            ledger_meta = {
                "seen_ledger": {
                    "version": 0,
                    "buckets": self.config.seen_ledger_buckets,
                    "ttl": self._ledger_ttl(),
                }
            }
        empty_host_meta = self.spark.createDataFrame(
            [], "host string, appended long, consumed long"
        )
        self.store.commit(
            0,
            tables={"robots": empty_robots},
            log_appends={
                "frontier_log": frontier,
                "token_log": empty_stats,
                # schema-establishing empty bases: seeds stay in the
                # round-0 frontier delta (the _fresh_view slot) until
                # round 1 evaluates them
                "pending_log": frontier.limit(0)
                .withColumn("host_pos", F.lit(0).cast("long"))
                .withColumn("pos_bucket", F.lit(0).cast("int")),
                "host_meta": empty_host_meta,
            },
            partition_by={"pending_log": ["pos_bucket"]},
            options={
                "frontier_log": KEY_BLOOM_OPTIONS,
                "pending_log": KEY_BLOOM_OPTIONS,
            },
            meta={**(ledger_meta or {}), **self._plog_meta()},
        )
        self._plog_prune = True
        self.pending = self._pending_view()
        self.robots = self.store.load("robots")
        self._base = self.pending.count()
        self._n_pending = self._base
        self._n_seen = self._base
        self._seen_words = None
        self._delta_words = None
        self._m_bits = None
        self._filter_log_dirty = False

    def resume(self) -> int:
        """Restart from the latest published snapshot (S3 —
        frontier.py:42-62; north_rule checkpoint-resume)."""
        r = self.store.latest_round()
        if r is None:
            raise FileNotFoundError("no snapshot to resume from")
        self.round = r
        self._base = None
        self.pending = self._pending_view()
        # one composed count at resume; every round after is exact
        # driver arithmetic (see run_round's pending bookkeeping)
        self._n_pending = self.pending.count()
        self.robots = self.store.load("robots")
        self._seen_words = None
        self._delta_words = None
        self._filter_log_dirty = False
        # re-attach (or seed) the bucketed ledger lazily on the next
        # round — the committed manifest meta names the live version
        self._ledger_version = None
        manifest_meta = (self.store.manifest() or {}).get("meta", {})
        meta = manifest_meta.get("seen_bloom", {})
        self._m_bits = meta.get("m_bits")
        self._n_seen = meta.get("n_keys", 0)
        # bucket pruning is only sound when the stored pos_bucket
        # layout was written with THIS config's bucket math; on
        # mismatch fall back to full-view admission (still correct —
        # the watermark predicate is layout-independent) until the
        # next compaction rewrites the buckets at the current width
        stored = manifest_meta.get("pending_log", {})
        want = self._plog_meta()["pending_log"]
        self._plog_prune = stored == want
        return r

    # -- Bloom filter lifecycle ----------------------------------------
    def _want_m(self) -> int:
        return seen_ops.plan_m_bits(
            max(self._n_seen * 4, BLOOM_MIN_CAPACITY), BLOOM_BITS_PER_KEY
        )

    def _ensure_filter(self) -> None:
        """Build the seen filter — on resume, straight from the
        committed ``seen_bloom`` word log (O(filter) read, no rescan
        of the URL ledger) when its recorded layout matches; otherwise
        one distributed rebuild from the URL log. The log is kept
        SINGLE-LAYOUT by the round commit (capacity growth replaces it
        via log_compact), so merging its deltas is always valid."""
        cfg = self.config
        if self._n_seen == 0:
            self._n_seen = self._log().select("url_key").distinct().count()
        want_m = self._want_m()
        if self._seen_words is not None and self._m_bits == want_m:
            return
        # the from-log path additionally requires the log's round
        # stamp to equal the last committed round: a checkpoint whose
        # last rounds committed without appending Bloom words (written
        # by an engine that also offered a cuckoo or exact-only seen
        # path) carries a stale stamp, so the log is missing those
        # rounds' keys and must be rebuilt from the ledger.
        meta = (self.store.manifest() or {}).get("meta", {}).get("seen_bloom", {})
        if (
            self._seen_words is None
            and meta.get("m_bits") == want_m
            and meta.get("round") == self.round
            and meta.get("ttl") == cfg.recrawl_ttl
        ):
            try:
                log = self.store.load_log("seen_bloom")
            except FileNotFoundError:
                log = None
            if log is not None:
                self._m_bits = want_m
                self._seen_words = (
                    log.groupBy("word_id")
                    .agg(F.bit_or("word").alias("word"))
                    .localCheckpoint(eager=False)
                )
                self._delta_words = None
                self._filter_log_dirty = False
                return
        self._m_bits = want_m
        rebuild_keys = (
            self._seen_keys()
            if cfg.recrawl_ttl is not None
            else self._log().select("url_key")
        )
        self._seen_words = seen_ops.bloom_word_updates(
            rebuild_keys, "url_key", want_m, BLOOM_K
        ).localCheckpoint(eager=False)
        self._delta_words = None
        # any existing log may be stale or an older layout: the next
        # round commit replaces it wholesale (log_compact)
        self._filter_log_dirty = True

    # Capacity growth is handled by _ensure_filter itself: want_m is
    # recomputed from the updated n_seen every round, and a changed
    # want_m triggers the distributed rebuild (correctness never
    # depends on it — the exact backstop is authoritative).

    # ------------------------------------------------------------------
    def run_round(self) -> dict:
        cfg = self.config
        r = self.round + 1
        # structural split of the pending view (r3.8/r3.9): the
        # bucket-pruned admission window over the live pending_log
        # (O(hosts · B · rounds-since-compaction) rows read, NOT
        # O(pending) — see _plog_window) and the latest round's
        # unevaluated discoveries (O(delta))
        known = self._plog_window()
        unevaluated = self._fresh_view()

        # 1. robots fetch-once for first-contact hosts (P6/J1/U6).
        #    Known rows were already pending in an earlier round, so
        #    their hosts hold robots rows from that round's fetch —
        #    only the unevaluated slice can contribute first-contact
        #    hosts: an O(delta) scan, not O(pending).
        new_hosts = (
            unevaluated.select("host")
            .distinct()
            .join(self.robots.select("host"), "host", "left_anti")
        )
        # broadcast the BATCH-BOUNDED side (this round's first-contact
        # hosts) into the network table, never the reverse — the
        # robots source scales with the whole web's host count.
        fetched_robots, robots_hit = robots_fetch_once(
            self.robots_src, new_hosts, self._delay, r
        )
        robots = self.robots.unionByName(fetched_robots)

        # 2. evaluate can_fetch once per URL (F13/U4) — only ever over
        #    the O(delta) unevaluated slice. Persisted (an O(delta)
        #    cache, r3.8 — the r2-r3.7 design cached the whole
        #    O(pending) evaluated union) because three actions consume
        #    it: the status-delta write, metrics, and the pending_log
        #    append — the can_fetch pandas UDF must run ONCE per
        #    round, not per action.
        robots_bc = self._robots_hint()
        evaluated = (
            unevaluated.drop("allowed")
            .join(robots_bc(robots.select("host", "rules")), "host", "left")
            .withColumn("allowed", self._allows(F.col("rules"), F.col("url")))
            .drop("rules")
            .select(*_FRONTIER_COLS)
            .persist()
        )

        denied = evaluated.filter(~F.col("allowed")).withColumn(
            "status", F.lit("robots_denied")
        )
        candidates = known.unionByName(evaluated.filter(F.col("allowed")))

        # 3. politeness admission (P7/J2/O5)
        with_quota = candidates.join(
            robots_bc(robots.select("host", "crawl_delay", "fetch_round")),
            "host",
            "left",
        ).withColumn(
            "quota",
            politeness_quota(
                F.col("crawl_delay"), cfg.politeness, cfg.round_duration
            )
            - F.when(F.col("fetch_round") == r, F.lit(1)).otherwise(F.lit(0)),
        )
        max_quota = int(cfg.round_duration // cfg.politeness)
        admitted = (
            admit(
                with_quota.drop("crawl_delay", "fetch_round"),
                max_quota=max_quota,
                salt_buckets=cfg.salt_buckets,
                key_col="url_key",
            )
            .drop("quota")
            .persist()
        )

        # 4. fetch stage (J5/S4). Default: deterministic join vs the
        #    corpus — keys are xxhash64(url): uniform, skew-free
        #    regardless of host skew; the full image+caption payload
        #    rides along for the pages sink. fetch_mode="http" swaps
        #    in the real mapInPandas batch fetcher with identical
        #    output schema (sources/httpfetch.py) — every downstream
        #    stage is shared between modes.
        fetch_tmp = None
        if cfg.fetch_mode == "http":
            from ..sources.httpfetch import http_fetch

            # Live GETs are nondeterministic: persist() alone would let a
            # cache eviction / executor loss recompute the lineage and
            # re-issue requests, so two actions in the same round could
            # observe different fetch outcomes. Pin the batch by
            # WRITE-THEN-READ through the checkpoint dir: every later
            # action reads the same on-disk rows (deterministic, and a
            # lost executor re-reads instead of re-fetching), and the
            # files are deleted deterministically at end-of-round —
            # unlike localCheckpoint blocks, whose release would wait
            # on driver GC (Dataset.unpersist can't free them), or a
            # persist, which can silently recompute.
            fetch_tmp = str(Path(self.store.root) / "fetch_http" / f"r{r}")
            http_fetch(
                admitted,
                timeout=cfg.fetch_timeout,
                verify_tls=cfg.fetch_verify_tls,
                fetch_images=cfg.fetch_images,
            ).write.mode("overwrite").parquet(fetch_tmp)
            fetched = self.spark.read.parquet(fetch_tmp)
        else:
            corpus = self.corpus.select(
                F.col("url_key"),
                F.col("url").alias("_corpus_url"),
                "content",
                "image_id",
                "bytes",
                "w",
                "h",
                "fmt",
                "caption",
                "phash",
            )
            fetched = (
                admitted.join(corpus, "url_key", "left")
                .filter(F.col("_corpus_url").isNull() | (F.col("_corpus_url") == F.col("url")))
                .drop("_corpus_url")
                .persist()
            )
        # 5. pages sink (S6 — crawler/worker.py:36-49): one row per
        #    successful fetch, image payload + caption carried through
        pages = fetched.filter(F.col("content").isNotNull()).select(
            *_PAGE_COLS, F.lit(r).alias("round")
        )
        # should_scrape gate (F9 — crawler/worker.py:53-71)
        head = F.substring(F.col("content"), 1, 256)
        scrapeable = fetched.filter(
            F.col("content").isNotNull()
            & (F.octet_length("content") >= 256)
            & (head.contains("<html") | head.contains("<HTML"))
        )

        # 6. scrape -> validity -> canonicalize -> X1 seen-dedup
        raw_links = scrapeable.select(
            F.col("discovery_seq").alias("parent_seq"),
            (F.col("depth") + 1).alias("depth"),
            F.posexplode(H.extract_links(F.col("content"), F.col("url"))).alias(
                "pos", "raw_url"
            ),
        )
        valid = raw_links.filter(U.is_valid(F.col("raw_url"), cfg.root_domains))
        canon = valid.select(
            U.canonicalize(F.col("raw_url")).alias("url"), "parent_seq", "pos", "depth"
        ).withColumn("url_key", F.xxhash64("url"))
        # within-batch first-discovery-wins (frontier.py:137-146):
        # min_by over (parent_seq, pos) — a TOTAL order per key, since
        # pos is the per-parent posexplode index, so the winner is
        # unique and identical to the old row_number()==1 window. An
        # aggregation instead of a window because links repeat heavily
        # within a round (many pages link the same targets): the
        # partial agg collapses duplicates MAP-SIDE, shuffling ~one
        # row per distinct key instead of every raw link, and skips
        # the window's per-partition sort entirely.
        _order = F.struct("parent_seq", "pos")
        _row = F.struct("url", "parent_seq", "pos", "depth")
        batch_unique = (
            canon.groupBy("url_key")
            .agg(F.min_by(_row, _order).alias("_first"))
            .select("url_key", "_first.*")
        )
        # seen-set anti-join, Bloom-accelerated (X1/P8): the Bloom
        # pre-filter only skips definite-unseen keys; the exact
        # backstop remains authoritative (FP-safe). All JVM-side.
        seen_keys = self._seen_view()
        self._ensure_filter()
        # persist_unseen=False: the cached seq-assign below ranks
        # straight through the anti-join and caches the RANKED rows —
        # caching unseen too would double the wide-row cache-write
        # bandwidth per round (r3.3)
        unseen, probe_handle = seen_ops.anti_join_via_bloom(
            batch_unique,
            seen_keys,
            self._seen_words,
            "url_key",
            m_bits=self._m_bits,
            k=BLOOM_K,
            broadcast_limit=cfg.bloom_broadcast_limit,
            delta_words=self._delta_words,
            persist_unseen=False,
        )
        if self._base is None:
            mx = self.frontier.agg(F.max("discovery_seq")).collect()[0][0]
            self._base = (mx if mx is not None else -1) + 1
        base = self._base
        # parents are this round's admitted pages (budget-bounded) =>
        # the driver prefix-sum path; above seq_driver_parent_limit
        # parents it switches to the fully distributed range path.
        # Values identical to the global dense rank either way. The
        # non-seq columns are computed BEFORE the cached ranking so
        # every downstream consumer (pending union, log delta,
        # metrics, bloom delta) reads finished rows off ONE cache.
        new_links, seq_cache, n_new = assign_seq_within_parents_cached(
            unseen.select(
                "url_key",
                "url",
                U.netloc_of(F.col("url")).alias("host"),
                F.col("depth").cast("int").alias("depth"),
                "parent_seq",
                "pos",
            ),
            "parent_seq",
            "pos",
            base=base,
            max_driver_parents=cfg.seq_driver_parent_limit,
        )
        new_links = new_links.select(
            "url_key",
            "url",
            "host",
            "depth",
            "discovery_seq",
            F.lit("pending").alias("status"),
            F.lit(0).cast("long").alias("length"),
            F.lit(r).alias("round"),
            F.lit(None).cast("boolean").alias("allowed"),
        )

        # 7. token stats delta (A1-A3) + page lengths
        lengths = scrapeable.select(
            "url_key", T.page_token_count(F.col("content")).alias("_len")
        )
        fetched_rows = (
            admitted.join(lengths, "url_key", "left")
            .withColumn("length", F.coalesce(F.col("_len"), F.lit(0)).cast("long"))
            .withColumn("status", F.lit("fetched"))
            .withColumn("round", F.lit(r))
            .drop("_len")
        )
        round_tokens = (
            scrapeable.select(
                F.explode(T.char_scan_tokens(T.visible_text(F.col("content")))).alias(
                    "token"
                )
            )
            .groupBy("token")
            .agg(F.count("*").cast("long").alias("count"))
        )

        # 8. per-partition lineage + fetch metrics (north_rule):
        #    admitted/fetched/bytes from the fetch stage, denials and
        #    discoveries from theirs — full METRICS schema.
        def _pp(df: DataFrame, aggs: list) -> DataFrame:
            return (
                df.withColumn("partition_id", F.spark_partition_id())
                .groupBy("partition_id")
                .agg(*aggs)
            )

        # one metrics row per (source, task partition) — UNION, not a
        # join on partition_id: partition 0 of `fetched` and partition
        # 0 of `denied` are physically unrelated tasks, and merging
        # them into one row would attribute denials/discoveries to the
        # wrong fetch partitions (per-partition lineage, north_rule)
        _z = F.lit(0).cast("long")
        _metric_cols = [
            "admitted",
            "fetched",
            "robots_denied",
            "new_urls",
            "bytes_fetched",
        ]

        def _rows(df: DataFrame, aggs: list) -> DataFrame:
            got = _pp(df, aggs)
            have = set(got.columns)
            return got.select(
                "partition_id",
                *[
                    (F.col(c).cast("long") if c in have else _z).alias(c)
                    for c in _metric_cols
                ],
            )

        metrics = (
            _rows(
                fetched,
                [
                    F.count("*").alias("admitted"),
                    F.count("content").alias("fetched"),
                    F.coalesce(F.sum(F.octet_length("bytes")), F.lit(0)).alias(
                        "bytes_fetched"
                    ),
                ],
            )
            .unionByName(_rows(denied, [F.count("*").alias("robots_denied")]))
            .unionByName(_rows(new_links, [F.count("*").alias("new_urls")]))
            .select(F.lit(r).alias("round"), "partition_id", *_metric_cols)
        )

        # 9. pending_log append (r3.8): ONLY the rows evaluated this
        #    round that survive into the next pending set — each
        #    pending row is appended exactly once; exits are tracked
        #    by the host_meta consumed watermark (r3.9), not keys.
        #    The commit writes O(delta) pending rows; the old
        #    O(pending) snapshot rewrite happens only at compaction.
        #
        #    host_pos (r3.9): every evaluated-allowed row gets its
        #    dense per-host arrival index — rank within this round's
        #    O(delta) slice by discovery_seq (all earlier rows of the
        #    host have strictly smaller seq, so cross-round order is
        #    seq order), offset by the host's appended counter.
        #    Same-round-admitted rows still COUNT (they are, per
        #    host, exactly the seq-prefix of this slice, because
        #    every stored live row precedes them in seq) — they just
        #    never hit storage, and their positions land below the
        #    consumed watermark the same commit advances.
        allowed_rows = evaluated.filter(F.col("allowed"))
        _w_pos = Window.partitionBy("host").orderBy("discovery_seq")
        allowed_pos = (
            allowed_rows.withColumn("_rk", F.row_number().over(_w_pos) - 1)
            .join(
                self._host_meta().select("host", "appended"), "host", "left"
            )
            .withColumn(
                "host_pos",
                (F.coalesce(F.col("appended"), F.lit(0)) + F.col("_rk")).cast(
                    "long"
                ),
            )
            .drop("_rk", "appended")
        )
        admitted_keys = admitted.select("url_key")
        plog_append = (
            allowed_pos.join(admitted_keys, "url_key", "left_anti")
            .select(*_FRONTIER_COLS, "host_pos")
            .withColumn("pos_bucket", self._plog_bucket_col())
        )
        # per-host FIFO counter deltas: appended counts EVERY
        # evaluated-allowed row (stored or same-round-admitted),
        # consumed counts every admission — so appended - consumed is
        # always the host's live stored-row count, and positions stay
        # dense across rounds. O(active-hosts) rows.
        _zl = F.lit(0).cast("long")
        host_meta_delta = (
            allowed_rows.groupBy("host")
            .agg(F.count("*").cast("long").alias("appended"))
            .withColumn("consumed", _zl)
            .unionByName(
                admitted.groupBy("host")
                .agg(F.count("*").cast("long").alias("consumed"))
                .withColumn("appended", _zl)
                .select("host", "appended", "consumed")
            )
        )
        log_delta = (
            denied.select(*_FRONTIER_COLS)
            .unionByName(fetched_rows.select(*_FRONTIER_COLS))
            .unionByName(new_links.select(*_FRONTIER_COLS))
        )
        admitted_log = admitted.select(
            F.lit(r).alias("round"), "host", "url", "discovery_seq"
        )

        # Bloom word delta for this round, computed off the seq cache
        # BEFORE the commit so it publishes in the SAME
        # manifest as the frontier_log delta (ADVICE r2: a second
        # commit left a crash window in which a valid round-r manifest
        # carried a seen_bloom log/meta missing round-r keys — Bloom
        # false negatives then bypassed the exact backstop on resume).
        # The log is SINGLE-LAYOUT by invariant: capacity growth
        # (want_m changed) or a stale log (dirty flag after a
        # from-ledger rebuild) REPLACES it wholesale via log_compact in
        # that same atomic commit instead of appending a mixed-m_bits
        # delta.
        # n_new came exact from the seq-assign's offset prefix sum —
        # no count() action needed; it equals metrics new_urls
        commit_appends = {
            "frontier_log": log_delta,
            "token_log": round_tokens,
            "pages": pages,
            "pending_log": plog_append,
            "host_meta": host_meta_delta,
        }
        commit_compacts: dict[str, DataFrame] = {}
        self._n_seen += n_new
        want_m = self._want_m()
        bloom_meta = {
            "seen_bloom": {
                "m_bits": want_m,
                "k": BLOOM_K,
                "n_keys": self._n_seen,
                "round": r,
                "ttl": cfg.recrawl_ttl,
            }
        }
        bloom_rebuilt = want_m != self._m_bits or self._filter_log_dirty
        if bloom_rebuilt:
            # rebuild at the new layout from the full URL ledger: the
            # pre-commit log plus this round's discoveries
            # (denied/fetched rows only change status of keys the log
            # already holds). TTL mode rebuilds from the LIVE view —
            # Bloom can't delete, so capacity rebuilds and compaction
            # are where expired keys actually leave the filter
            # (between rebuilds they are harmless maybe-hits resolved
            # by the TTL-aware backstop).
            self._m_bits = want_m
            base_keys = (
                self._seen_keys(probe_round=r + 1)
                if cfg.recrawl_ttl is not None
                else self._log().select("url_key")
            )
            all_keys = base_keys.unionByName(new_links.select("url_key"))
            commit_compacts["seen_bloom"] = seen_ops.bloom_word_updates(
                all_keys, "url_key", want_m, BLOOM_K
            )
        elif n_new > 0:
            commit_appends["seen_bloom"] = seen_ops.bloom_word_updates(
                new_links.select("url_key"), "url_key", self._m_bits, BLOOM_K
            )

        if cfg.seen_ledger_buckets and (
            n_new > 0 or self._ledger_ttl()
        ):
            # append this round's keys BEFORE the manifest commit:
            # rows tagged round=r stay invisible to _seen_keys() (and
            # to any re-run after a crash here) until the commit below
            # publishes round r — one file per touched bucket,
            # O(delta) written. TTL mode appends the round's WHOLE
            # frontier-log delta as status rows (fetch rows move the
            # TTL clock; denial rows carry their DISCOVERY round and
            # merely duplicate the already-committed pending row in
            # the max-aggregates, so their early visibility in a
            # crash window is harmless); bare-key mode appends only
            # the new discoveries, as before.
            self._ensure_ledger()
            if self._ledger_ttl():
                delta = log_delta.select(
                    "url_key",
                    F.col("round").cast("int").alias("round"),
                    (F.col("status") == "fetched").alias("is_fetch"),
                )
            else:
                delta = new_links.select(
                    "url_key", F.lit(r).cast("int").alias("round")
                )
            append_ledger_delta(
                delta,
                self._ledger_table(self._ledger_version),
                self._ledger_path(self._ledger_version),
                buckets=self._ledger_buckets,
            )

        # carry the active ledger version in EVERY round commit, not
        # just start()/_compact(): a pre-ledger checkpoint seeds the
        # table lazily inside _ensure_ledger, and without publishing
        # the version here each process restart would find no
        # seen_ledger meta and re-seed the full O(frontier) table
        # (meta is merge-on-commit, so this is idempotent with the
        # compaction commit's entry).
        ledger_meta = None
        if cfg.seen_ledger_buckets and self._ledger_version is not None:
            ledger_meta = {
                "seen_ledger": {
                    "version": self._ledger_version,
                    "buckets": self._ledger_buckets,
                    "ttl": self._ledger_ttl(),
                }
            }
        self.round = r
        self.store.commit(
            r,
            tables={
                "robots": robots,
                "admitted": admitted_log,
                "metrics": metrics,
            },
            log_appends=commit_appends,
            log_compact=commit_compacts or None,
            meta={**bloom_meta, **(ledger_meta or {})},
            partition_by={"pending_log": ["pos_bucket"]},
            options={
                "frontier_log": KEY_BLOOM_OPTIONS,
                "pending_log": KEY_BLOOM_OPTIONS,
                "pages": KEY_BLOOM_OPTIONS,
            },
        )
        self.pending = self._pending_view()
        self.robots = self.store.load("robots")

        # counts from the committed delta tables (no O(frontier) scan)
        msum = (
            self.store.load("metrics")
            .agg(
                F.sum("admitted").alias("admitted"),
                F.sum("fetched").alias("fetched"),
                F.sum("robots_denied").alias("robots_denied"),
                F.sum("new_urls").alias("new_urls"),
                F.sum("bytes_fetched").alias("bytes_fetched"),
            )
            .collect()[0]
            .asDict()
        )
        msum = {k: int(v or 0) for k, v in msum.items()}
        # exact pending bookkeeping with NO O(pending) count job:
        # rows leave pending only via admission or denial and enter
        # only via discovery, all disjoint subsets of the view, so
        # |pending| is pure driver arithmetic. |admitted| is counted
        # off the round's cache (the metrics 'admitted' column counts
        # FETCHED rows, which a url_key hash collision could drop);
        # |denied| and |new| are exact row counts from the committed
        # metrics / the seq-assign prefix sum. Parity tests compare
        # this against the oracle simulator every round.
        self._n_pending += n_new - admitted.count() - msum["robots_denied"]
        n_pending = self._n_pending
        self._base = base + msum["new_urls"]

        # refresh the in-memory filter from the COMMITTED log (the
        # committed parquet, not the pre-commit lineage, so the
        # localCheckpoint can materialize lazily after new_links is
        # unpersisted below): rebuild => the compacted base IS the
        # filter; append => fold the O(delta) word delta into the
        # small ACCUMULATOR layer only — the O(m) base is untouched
        # until compaction, so the per-round filter refresh costs
        # O(words touched since compaction), never O(m_bits).
        if bloom_rebuilt:
            self._seen_words = self.store.load_log(
                "seen_bloom"
            ).localCheckpoint(eager=False)
            self._delta_words = None
            self._filter_log_dirty = False
        elif n_new > 0:
            round_delta = self.store.load_log_delta("seen_bloom", r)
            self._delta_words = (
                round_delta
                if self._delta_words is None
                else seen_ops.or_words(self._delta_words, round_delta)
            ).localCheckpoint(eager=False)

        for h in (
            admitted,
            fetched,
            seq_cache,
            probe_handle,
            evaluated,
            robots_hit,
        ):
            if h is not None:
                h.unpersist()

        # every action that reads the pinned http fetch batch has run
        # and the round is committed: free its snapshot files NOW
        # (deterministic, unlike block-manager cleanup)
        if fetch_tmp is not None:
            import shutil

            shutil.rmtree(fetch_tmp, ignore_errors=True)

        # the round commit above published this session's ledger
        # version: a version superseded by a row-form reseed can now
        # be retired safely (same publish-then-retire protocol as
        # _compact)
        if (
            cfg.seen_ledger_buckets
            and self._ledger_retire_pending is not None
        ):
            old = self._ledger_retire_pending
            self._ledger_retire_pending = None
            retire_ledger_version(
                self.spark,
                self._ledger_table(old),
                self._ledger_path(old),
            )

        # latest-wins compaction: bounds the log read cost at
        # O(frontier + compact_every · delta) (SURVEY §7.7.7)
        if cfg.compact_every and r % cfg.compact_every == 0:
            self._compact(r)

        return {"round": r, "pending": n_pending, **msum}

    # ------------------------------------------------------------------
    def _compact(self, r: int) -> None:
        """Rewrite each log's base as its merged view and clear the
        delta list (Iceberg rewrite-data-files analog). The pages log
        is append-only facts — no merge needed, never compacted."""
        # the live evaluated rows become the new pending_log base IN
        # THE SAME COMMIT that clears the frontier deltas — a crash in
        # between leaves the previous manifest's consistent pair
        # current. This is the only O(pending) write; every round in
        # between appends O(delta). The just-committed round's
        # UNEVALUATED rows are NOT folded in (append-once invariant:
        # evaluation would re-append them) — _fresh_view reads them
        # off the compacted frontier base instead.
        #
        # r3.9 rebase: positions are dense per host and consumption is
        # a prefix, so renumbering is PURE ARITHMETIC (host_pos -
        # consumed) — no per-host window, no hot-host single-task
        # sort. host_meta rebases to (live_count, 0) in the same
        # commit, dropping fully-drained hosts.
        live_pos = self._plog_live_pos()
        plog_base = (
            live_pos.withColumn(
                "host_pos",
                (
                    F.col("host_pos") - F.coalesce(F.col("_consumed"), F.lit(0))
                ).cast("long"),
            )
            .drop("_consumed")
            .select(*_FRONTIER_COLS, "host_pos")
            .withColumn("pos_bucket", self._plog_bucket_col())
            .repartition(self.config.host_buckets, "host")
        )
        host_meta_base = (
            self._host_meta()
            .select(
                "host",
                (F.col("appended") - F.col("consumed")).alias("appended"),
                F.lit(0).cast("long").alias("consumed"),
            )
            .filter(F.col("appended") > 0)
        )
        compacted = {
            "frontier_log": self.frontier,
            "token_log": self.token_stats,
            "pending_log": plog_base,
            "host_meta": host_meta_base,
        }
        fold_bloom = self.store.log_delta_count("seen_bloom")
        if fold_bloom:
            if self.config.recrawl_ttl is not None:
                # TTL mode: compaction is where expired keys actually
                # leave the Bloom (documented rebuild-on-compaction —
                # the filter can't delete, so rebuild from the live
                # TTL view at the next probe round's cut)
                compacted["seen_bloom"] = seen_ops.bloom_word_updates(
                    self._seen_keys(),
                    "url_key",
                    self._m_bits or self._want_m(),
                    BLOOM_K,
                )
            else:
                compacted["seen_bloom"] = (
                    self.store.load_log("seen_bloom")
                    .groupBy("word_id")
                    .agg(F.bit_or("word").alias("word"))
                )
        ledger_meta = None
        old_ledger_version = None
        if self.config.seen_ledger_buckets:
            # fold the ledger's per-round append files back to one
            # sorted file per bucket, as a NEW version at a fresh
            # path — the manifest commit below atomically swaps the
            # live version (a crash in between leaves the old version
            # intact and the half-written new one unreferenced; its
            # files are cleared by the next compaction's overwrite).
            self._ensure_ledger()
            old_ledger_version = self._ledger_version
            nv = old_ledger_version + 1
            # compaction re-buckets into the CURRENT config (a changed
            # seen_ledger_buckets takes effect here, never mid-version)
            buckets = self.config.seen_ledger_buckets
            if self._ledger_ttl():
                # TTL compact form at the NEXT probe round (same
                # convention as the commit-time accel rebuilds):
                # keys already expired at r+1 leave storage here
                compact_rows = self._ttl_ledger_compact_rows(r + 1)
            else:
                compact_rows = (
                    self._seen_keys()
                    .distinct()
                    .withColumn("round", F.lit(r).cast("int"))
                )
            write_bucketed_ledger(
                compact_rows,
                self._ledger_table(nv),
                self._ledger_path(nv),
                buckets=buckets,
                mode="overwrite",
            )
            ledger_meta = {
                "seen_ledger": {
                    "version": nv,
                    "buckets": buckets,
                    "ttl": self._ledger_ttl(),
                }
            }
        self.store.commit(
            r,
            log_compact=compacted,
            partition_by={"pending_log": ["pos_bucket"]},
            options={
                "frontier_log": KEY_BLOOM_OPTIONS,
                "pending_log": KEY_BLOOM_OPTIONS,
            },
            carry_tables=True,
            meta={**(ledger_meta or {}), **self._plog_meta()},
        )
        # the rewrite re-established the current bucket math
        self._plog_prune = True
        # re-resolve the composed view onto the compacted paths
        self.pending = self._pending_view()
        if old_ledger_version is not None:
            # the new version is published — retire the old one
            # (metadata drop + best-effort file cleanup)
            self._ledger_version = old_ledger_version + 1
            self._ledger_buckets = self.config.seen_ledger_buckets
            retire_ledger_version(
                self.spark,
                self._ledger_table(old_ledger_version),
                self._ledger_path(old_ledger_version),
            )
        if fold_bloom:
            # the compacted base IS the merged view: reset the
            # in-memory layers so the probe's delta join disappears
            # and the accumulator restarts empty
            self._seen_words = self.store.load_log("seen_bloom").localCheckpoint(
                eager=False
            )
            self._delta_words = None

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 1000) -> dict:
        info: dict = {}
        for _ in range(max_rounds):
            info = self.run_round()
            if info.get("pending", 0) == 0:
                break
        return info

    # -- parity-test accessors ---------------------------------------
    def admitted_sequences(self) -> dict[int, list[tuple[str, str]]]:
        """round -> [(host, url)] ordered by discovery_seq."""
        out: dict[int, list[tuple[str, str]]] = {}
        for rnd in self.store.rounds():
            m = self.store.manifest(rnd)
            if "admitted" not in m["tables"]:
                continue
            df = self.store.load("admitted", rnd)
            rows = df.orderBy("discovery_seq").collect()
            if rows:
                out[rows[0]["round"]] = [(x["host"], x["url"]) for x in rows]
        return out

    def final_state(self) -> dict[str, tuple[str, int]]:
        """url -> (status, length)."""
        return {
            row["url"]: (row["status"], row["length"])
            for row in self.frontier.collect()
        }
