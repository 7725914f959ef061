"""Scheduler/seen-set parity: Spark engine vs the oracle simulators
(SURVEY.md §5.3 rows 2-3, the north_rule's bit-for-bit contract)."""

import json

import pytest

from tests.oracle.simulator import RoundSim, SingleWorkerSim
from web_crawler_search_engine_spark.plans.crawl import CrawlConfig, CrawlJob
from web_crawler_search_engine_spark.sources.corpus import (
    POLITENESS,
    USER_AGENT,
    corpus_df,
    generate_world,
    robots_src_df,
)

T = 4.0


@pytest.fixture(scope="module")
def world():
    return generate_world(n=120, hosts=5, seed=42, with_images=False)


@pytest.fixture(scope="module")
def round_oracle(world):
    sim = RoundSim(
        world.by_url(),
        world.robots,
        world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
        round_duration=T,
    )
    return sim.run(world.seeds)


def _make_job(spark, world, tmp, **cfg_kw):
    # tiny worlds: shrink physical layout knobs (results are
    # layout-independent — salting/bucketing only affect partitioning)
    cfg = CrawlConfig(
        root_domains=world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
        round_duration=T,
        salt_buckets=4,
        host_buckets=4,
        **cfg_kw,
    )
    return CrawlJob(
        spark,
        corpus_df(spark, world),
        robots_src_df(spark, world),
        cfg,
        checkpoint_dir=str(tmp),
    )


@pytest.fixture(scope="module")
def engine_run(spark, world, tmp_path_factory):
    job = _make_job(spark, world, tmp_path_factory.mktemp("ckpt"))
    job.start(world.seeds)
    job.run(max_rounds=60)
    return job


def test_per_round_admitted_sequences_bitforbit(engine_run, round_oracle):
    got = engine_run.admitted_sequences()
    want = {r: seq for r, seq in round_oracle.rounds.items() if seq}
    assert got == want


def test_final_seen_set_and_statuses_bitforbit(engine_run, round_oracle):
    got = engine_run.final_state()
    want = {u: (st, round_oracle.lengths[u]) for u, st in round_oracle.statuses.items()}
    assert got == want


def test_token_stats_bitforbit(engine_run, round_oracle):
    got = {
        r["token"]: r["count"] for r in engine_run.token_stats.collect()
    }
    assert got == round_oracle.token_counts


def test_round_model_closure_matches_single_worker_reference(world, round_oracle):
    """Model B (engine contract) run to exhaustion reaches the same
    URL-seen set, statuses, lengths, and token counts as Model A (the
    reference's single-worker logical-clock schedule)."""
    sw = SingleWorkerSim(
        world.by_url(),
        world.robots,
        world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
    ).run(world.seeds)
    assert sw.seen == round_oracle.seen
    assert sw.statuses == round_oracle.statuses
    assert sw.lengths == round_oracle.lengths
    assert sw.token_counts == round_oracle.token_counts
    # per-host fetch order equals per-host discovery order in each
    # model; the sets must agree host by host
    assert {h: set(v) for h, v in sw.host_order.items()} == {
        h: set(v) for h, v in round_oracle.host_order.items()
    }


def test_stale_bloom_stamp_rebuilds_from_ledger(
    spark, world, tmp_path_factory, engine_run
):
    """A checkpoint whose last round committed without a Bloom word
    delta — what an engine with a cuckoo or exact-only seen path left
    behind — keeps a ``seen_bloom`` meta whose layout still matches
    but whose ``round`` stamp lags the manifest round. Trusting that
    log would turn the missing round's keys into Bloom false
    negatives (definite-unseen, no backstop) and re-admit crawled
    URLs; the stamp gate in _ensure_filter must rebuild the filter
    from the ledger instead."""
    tmp = tmp_path_factory.mktemp("ckpt_stale")
    a = _make_job(spark, world, tmp)
    a.start(world.seeds)
    for _ in range(3):
        a.run_round()
    path = tmp / f"manifest_r{a.round}.json"
    manifest = json.loads(path.read_text())
    deltas = manifest["logs"]["seen_bloom"]["deltas"]
    assert deltas, "last round appended no Bloom delta to drop"
    deltas.pop()
    manifest["meta"]["seen_bloom"]["round"] = a.round - 1
    path.write_text(json.dumps(manifest, indent=1))
    b = _make_job(spark, world, tmp)
    b.resume()
    b.run(max_rounds=60)
    assert b.final_state() == engine_run.final_state()
    assert b.admitted_sequences() == engine_run.admitted_sequences()


def test_bucketed_ledger_cutover_identical(
    spark, world, tmp_path_factory, engine_run
):
    """Opt-in bucketed seen ledger (sources/ledger.py) with
    bloom_broadcast_limit=0: EVERY round takes the cutover (plain
    anti-join) path against the bucketed table — results must stay
    bit-for-bit identical, and compact_every=2 exercises the
    versioned ledger compaction (attach → append → fold → retire)
    several times mid-crawl."""
    job = _make_job(
        spark,
        world,
        tmp_path_factory.mktemp("ckpt_bl"),
        seen_ledger_buckets=4,
        bloom_broadcast_limit=0,
        compact_every=2,
    )
    job.start(world.seeds)
    job.run(max_rounds=60)
    assert job.final_state() == engine_run.final_state()
    assert job.admitted_sequences() == engine_run.admitted_sequences()
    # the ledger's committed key set IS the log's key set
    ledger_keys = {r["url_key"] for r in job._seen_keys().distinct().collect()}
    log_keys = {
        r["url_key"] for r in job._log().select("url_key").distinct().collect()
    }
    assert ledger_keys == log_keys
    # plan lock (same discipline as tests/unit/test_bucketed_ledger):
    # the cutover anti-join scans the ledger bucketed, one Exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import re

        from pyspark.sql import functions as F

        probe = spark.range(0, 100).select(F.xxhash64("id").alias("url_key"))
        j = probe.join(job._seen_keys(), "url_key", "left_anti")
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_ledger_resume_fresh_catalog(
    spark, world, tmp_path_factory, engine_run
):
    """Kill mid-crawl, then resume in a 'fresh driver': the session
    catalog entry is dropped (files stay — external table), so
    resume must re-attach the manifest's live ledger version via DDL
    and continue bit-for-bit."""
    ckpt = tmp_path_factory.mktemp("ckpt_bl_resume")
    job = _make_job(
        spark,
        world,
        ckpt,
        seen_ledger_buckets=4,
        bloom_broadcast_limit=0,
        compact_every=2,
    )
    job.start(world.seeds)
    job.run_round()
    job.run_round()
    # simulate a driver restart: catalog metadata is gone
    for v in range(5):
        spark.sql(f"DROP TABLE IF EXISTS {job._ledger_table(v)}")
    job2 = _make_job(
        spark,
        world,
        ckpt,
        seen_ledger_buckets=4,
        bloom_broadcast_limit=0,
        compact_every=2,
    )
    assert job2.resume() == 2
    job2.run(max_rounds=60)
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()


def test_bucketed_ledger_crash_window_rows_invisible(
    spark, world, tmp_path_factory, engine_run
):
    """The append-before-commit crash window: the ledger delta lands,
    the manifest commit does not. Deterministic re-execution will
    append the SAME keys again, so the contract is (a) the orphaned
    rows are invisible until round 2 commits (round gate) and (b)
    once it does, they are exact duplicates — harmless to every
    set-membership join. Simulated honestly: a cloned checkpoint
    learns round 2's true delta, those exact rows are planted in the
    original as the crashed append, then the resumed crawl must stay
    bit-for-bit."""
    import shutil

    from pyspark.sql import functions as F

    from web_crawler_search_engine_spark.sources.ledger import (
        append_ledger_delta,
    )

    kw = dict(seen_ledger_buckets=4, bloom_broadcast_limit=0)
    ckpt = tmp_path_factory.mktemp("ckpt_bl_crash")
    job = _make_job(spark, world, ckpt, **kw)
    job.start(world.seeds)
    job.run_round()
    # clone the checkpoint and run round 2 there to learn the exact
    # delta the crashed append would have written
    ckpt2 = str(ckpt) + "_probe"
    shutil.copytree(str(ckpt), ckpt2)
    probe = _make_job(spark, world, ckpt2, **kw)
    assert probe.resume() == 1
    probe.run_round()
    delta = (
        spark.table(probe._ledger_table(probe._ledger_version))
        .where(F.col("round") == 2)
        .localCheckpoint()
    )
    assert delta.count() > 0  # the window must actually be exercised
    # plant the crashed append in the ORIGINAL checkpoint (still at
    # round 1), then resume: round 2 re-runs and re-appends the same
    # keys — duplicates by design, results unchanged
    append_ledger_delta(
        delta,
        job._ledger_table(job._ledger_version),
        job._ledger_path(job._ledger_version),
        buckets=4,
    )
    job2 = _make_job(spark, world, ckpt, **kw)
    assert job2.resume() == 1
    job2.run(max_rounds=60)
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()


def test_bucketed_ledger_bucket_count_change_on_resume(
    spark, world, tmp_path_factory, engine_run
):
    """Resuming with a different seen_ledger_buckets than the live
    version was written with: appends must keep the WRITTEN layout
    (a mismatched bucketBy spec is a write error) and the new count
    takes effect at the next compaction's re-bucketed version —
    results bit-for-bit throughout."""
    ckpt = tmp_path_factory.mktemp("ckpt_bl_rebucket")
    job = _make_job(
        spark, world, ckpt, seen_ledger_buckets=4, bloom_broadcast_limit=0
    )
    job.start(world.seeds)
    job.run_round()
    job2 = _make_job(
        spark,
        world,
        ckpt,
        seen_ledger_buckets=8,
        bloom_broadcast_limit=0,
        compact_every=2,
    )
    assert job2.resume() == 1
    assert job2.run(max_rounds=60)["pending"] == 0
    assert job2._ledger_buckets == 8  # re-bucketed at compaction
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()


def test_bucketed_ledger_enabled_on_legacy_checkpoint(
    spark, world, tmp_path_factory, engine_run
):
    """A checkpoint written WITHOUT the bucketed ledger, resumed with
    the mode newly enabled: the first round seeds version 0 from the
    authoritative frontier log, then proceeds identically."""
    ckpt = tmp_path_factory.mktemp("ckpt_bl_legacy")
    job = _make_job(spark, world, ckpt)
    job.start(world.seeds)
    job.run_round()
    job2 = _make_job(
        spark, world, ckpt, seen_ledger_buckets=4, bloom_broadcast_limit=0
    )
    assert job2.resume() == 1
    job2.run(max_rounds=60)
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()


def test_resume_mid_crawl_equals_uninterrupted(
    spark, world, tmp_path_factory, engine_run
):
    ckpt = tmp_path_factory.mktemp("ckpt_resume")
    job = _make_job(spark, world, ckpt)
    job.start(world.seeds)
    job.run_round()
    job.run_round()
    # simulate a kill: brand-new job object resumes from the snapshot
    job2 = _make_job(spark, world, ckpt)
    assert job2.resume() == 2
    job2.run(max_rounds=60)
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()


def test_metrics_schema_and_totals(engine_run, round_oracle, world):
    """METRICS schema contract (r1 drift fixed) + lineage totals vs
    the oracle: every URL is admitted exactly once, denials and
    discoveries accounted per round."""
    from web_crawler_search_engine_spark.schemas import METRICS

    want_fields = [(f.name, f.dataType.simpleString()) for f in METRICS.fields]
    tot = {"admitted": 0, "fetched": 0, "robots_denied": 0, "new_urls": 0}
    for rnd in engine_run.store.rounds():
        m = engine_run.store.manifest(rnd)
        if "metrics" not in m["tables"]:
            continue
        df = engine_run.store.load("metrics", rnd)
        got_fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        assert got_fields == want_fields
        for row in df.collect():
            for k in tot:
                tot[k] += row[k]
    statuses = round_oracle.statuses
    assert tot["admitted"] == sum(1 for s in statuses.values() if s == "fetched")
    assert tot["robots_denied"] == sum(
        1 for s in statuses.values() if s == "robots_denied"
    )
    # every URL beyond the deduped seeds was discovered exactly once
    n_seed_urls = len(set(world.seeds))
    assert tot["new_urls"] == len(statuses) - n_seed_urls


def test_seen_bloom_published_atomically_with_frontier_log(engine_run):
    """ADVICE r2 (crawl.py): the seen_bloom delta + meta must publish
    in the SAME manifest as the round's frontier_log delta. The
    invariant checked here is the one the old two-commit window could
    break: resuming from ANY published snapshot must yield a Bloom
    filter with ZERO false negatives against that snapshot's URL
    ledger — a stale filter would bypass the exact backstop and
    re-admit previously-seen URLs with fresh discovery_seq values."""
    from pyspark.sql import functions as F

    from web_crawler_search_engine_spark.operators import seen as seen_ops

    store = engine_run.store
    checked = 0
    for rnd in store.rounds():
        m = store.manifest(rnd)
        if "seen_bloom" not in m.get("logs", {}):
            # only legal before the first discovery delta (seeding)
            assert rnd == 0, rnd
            continue
        meta = m["meta"]["seen_bloom"]
        words = (
            store.load_log("seen_bloom", rnd)
            .groupBy("word_id")
            .agg(F.bit_or("word").alias("word"))
        )
        keys = store.load_log("frontier_log", rnd).select("url_key").distinct()
        n_keys = keys.count()
        n_maybe = seen_ops.maybe_seen_keys(
            keys, words, "url_key", meta["m_bits"], meta["k"]
        ).count()
        assert n_maybe == n_keys, (rnd, n_maybe, n_keys)
        assert meta["n_keys"] == n_keys, (rnd, meta)
        checked += 1
    assert checked > 3  # the crawl must actually exercise the invariant


def test_export_stats_ordering(engine_run):
    """A10 (crawler/__init__.py:43-44): urls by length desc, tokens by
    count desc, deterministic tie-breaks."""
    urls, tokens = engine_run.export_stats()
    lens = [(r["length"], r["url"]) for r in urls.collect()]
    assert lens == sorted(lens, key=lambda x: (-x[0], x[1]))
    cnts = [(r["count"], r["token"]) for r in tokens.collect()]
    assert cnts == sorted(cnts, key=lambda x: (-x[0], x[1]))


def test_resume_at_compaction_boundary_equals_uninterrupted(
    spark, world, tmp_path_factory, engine_run
):
    """r3.8 pending-log layout: a kill+resume landing EXACTLY on a
    compaction round must still produce bit-for-bit results. This is
    the one state where the pending view's unevaluated slice comes
    from the compacted frontier BASE (the _fresh_view fallback — the
    round's own delta was folded away), not from a delta file."""
    ckpt = tmp_path_factory.mktemp("ckpt_boundary")
    job = _make_job(spark, world, ckpt, compact_every=2)
    job.start(world.seeds)
    job.run_round()
    job.run_round()  # round 2 commits, then compacts in-place
    job2 = _make_job(spark, world, ckpt, compact_every=2)
    assert job2.resume() == 2
    job2.run(max_rounds=60)
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()


def test_pending_log_storage_contract(engine_run):
    """r3.8/r3.9: the per-round commit never rewrites an O(pending)
    table. No manifest lists a 'pending' snapshot; each round's
    pending_log delta is bounded by the PREVIOUS round's discoveries
    (the rows evaluated this round) — the O(delta) write claim,
    checked against the committed metrics; the append-once invariant
    holds (no key appears twice in the live pending_log); the log is
    hive-partitioned by pos_bucket (the admission-window prune's
    storage contract); and the host_meta watermark arithmetic is
    exact: per host, live positions are the dense range
    [consumed, appended)."""
    from pathlib import Path

    import pyspark.sql.functions as F

    store = engine_run.store
    new_urls_by_round = {}
    for rnd in store.rounds():
        m = store.manifest(rnd)
        assert "pending" not in m["tables"], f"round {rnd} wrote pending"
        if "metrics" in m["tables"]:
            n = (
                store.load("metrics", rnd)
                .agg(F.sum("new_urls"))
                .collect()[0][0]
            )
            new_urls_by_round[rnd] = int(n or 0)
    final = store.manifest()
    deltas = final["logs"]["pending_log"]["deltas"]
    for path in deltas:
        rnd = int(path.rsplit("d", 1)[1])
        if rnd == 0:
            continue  # schema-establishing empty base
        subs = [str(s) for s in Path(path).glob("pos_bucket=*")]
        rows = (
            engine_run.spark.read.parquet(*subs).count() if subs else 0
        )
        assert rows <= new_urls_by_round.get(rnd - 1, 0), (
            f"pending_log delta d{rnd} has {rows} rows > round "
            f"{rnd - 1}'s {new_urls_by_round.get(rnd - 1, 0)} discoveries"
        )
    # layout contract: pending_log dirs contain ONLY pos_bucket=
    # partition subdirs (plus write markers) — what the pruned
    # admission read enumerates
    for path in store.log_paths("pending_log"):
        p = Path(path)
        if not p.exists():
            continue
        for child in p.iterdir():
            assert child.name.startswith(("pos_bucket=", "_", ".")), (
                f"unpartitioned object {child} in pending_log"
            )
    live = engine_run._plog_live()
    assert (
        live.groupBy("url_key").count().filter(F.col("count") > 1).count()
        == 0
    )
    _assert_watermark_dense(engine_run)


def _assert_watermark_dense(job):
    """Per host: live stored rows == appended - consumed, occupying
    exactly positions [consumed, appended). This is the arithmetic
    the r3.9 liveness filter and compaction rebase rely on."""
    import pyspark.sql.functions as F

    hm = {
        r["host"]: (r["appended"], r["consumed"])
        for r in job._host_meta().collect()
    }
    pos = (
        job._plog_live_pos()
        .groupBy("host")
        .agg(
            F.count("*").alias("n"),
            F.min("host_pos").alias("lo"),
            F.max("host_pos").alias("hi"),
        )
        .collect()
    )
    seen_hosts = set()
    for row in pos:
        appended, consumed = hm[row["host"]]
        seen_hosts.add(row["host"])
        assert row["n"] == appended - consumed, row
        assert row["lo"] == consumed, row
        assert row["hi"] == appended - 1, row
    for host, (appended, consumed) in hm.items():
        if host not in seen_hosts:
            assert appended == consumed, (host, appended, consumed)


def test_deep_queue_bucket_pruning_bitforbit(spark, world, tmp_path_factory):
    """r3.9 multi-bucket stress: politeness == round_duration makes
    max_quota (the bucket width) 1, so per-host pending queues span
    many pos_buckets including the tail cap, and every round's
    admission window is a real prune (buckets 0..rounds-since-
    compaction out of a deep layout). compact_every=2 exercises the
    arithmetic rebase repeatedly mid-crawl. Bit-for-bit vs the round
    oracle at the same politeness, with the dense-watermark invariant
    checked after every round."""
    sim = RoundSim(
        world.by_url(),
        world.robots,
        world.root_domains,
        user_agent=USER_AGENT,
        politeness=T,
        round_duration=T,
    )
    oracle = sim.run(world.seeds)
    cfg = CrawlConfig(
        root_domains=world.root_domains,
        user_agent=USER_AGENT,
        politeness=T,
        round_duration=T,
        salt_buckets=4,
        host_buckets=4,
        compact_every=2,
    )
    job = CrawlJob(
        spark,
        corpus_df(spark, world),
        robots_src_df(spark, world),
        cfg,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_deep")),
    )
    assert job._plog_bucket_width() == 1
    job.start(world.seeds)
    for _ in range(120):
        info = job.run_round()
        _assert_watermark_dense(job)
        if info.get("pending", 0) == 0:
            break
    assert info.get("pending") == 0, "deep-queue crawl did not drain"
    got = job.admitted_sequences()
    want = {r: seq for r, seq in oracle.rounds.items() if seq}
    assert got == want
    assert job.final_state() == {
        u: (st, oracle.lengths[u]) for u, st in oracle.statuses.items()
    }


def test_robots_broadcast_cutover_identical(
    spark, world, tmp_path_factory, engine_run
):
    """robots_broadcast_limit=0 forces BOTH per-round robots joins
    (rules evaluation, politeness quota) onto the plain shuffle path
    from round 1 — the hint must only ever change the physical plan."""
    job = _make_job(
        spark,
        world,
        tmp_path_factory.mktemp("ckpt_rbc"),
        robots_broadcast_limit=0,
    )
    job.start(world.seeds)
    job.run(max_rounds=60)
    assert job.final_state() == engine_run.final_state()
    assert job.admitted_sequences() == engine_run.admitted_sequences()


def test_commit_failure_mid_write_resumes_bitforbit(
    spark, world, tmp_path_factory, engine_run, monkeypatch
):
    """Atomicity under the r3.7 threaded commit: a write job failing
    MID-COMMIT (some sibling tables already on disk) must leave the
    previous manifest current — the partial files unreferenced — and
    a resumed job must reproduce the uninterrupted crawl bit-for-bit."""
    import pyspark.sql.readwriter as RW

    ckpt = tmp_path_factory.mktemp("ckpt_midfail")
    job = _make_job(spark, world, ckpt)
    job.start(world.seeds)
    job.run_round()

    orig = RW.DataFrameWriter.parquet
    calls = {"n": 0}

    def failing(self, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:  # third write job of round 2's commit dies
            raise RuntimeError("injected mid-commit failure")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(RW.DataFrameWriter, "parquet", failing)
    with pytest.raises(Exception):
        job.run_round()
    monkeypatch.setattr(RW.DataFrameWriter, "parquet", orig)

    job2 = _make_job(spark, world, ckpt)
    assert job2.resume() == 1  # round 2's manifest never published
    job2.run(max_rounds=60)
    assert job2.final_state() == engine_run.final_state()
    assert job2.admitted_sequences() == engine_run.admitted_sequences()
