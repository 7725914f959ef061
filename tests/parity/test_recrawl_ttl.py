"""TTL re-crawl engine mode (CrawlConfig.recrawl_ttl — r3 verdict
next-round item 6): a fetched URL's seen entry retires after ``ttl``
rounds and the frontier re-admits it on rediscovery. Contract under
test: bit-for-bit equality of per-round admitted sequences and final
state vs the RoundSim oracle extended with the same TTL rule, on both
the plain and the bucketed seen-ledger layout; re-fetches actually
happen, every re-fetch is of a genuinely expired URL, and the mode is
checkpoint-resumable mid-crawl."""

import pytest

from tests.oracle.simulator import RoundSim
from web_crawler_search_engine_spark.plans.crawl import CrawlConfig, CrawlJob
from web_crawler_search_engine_spark.sources.corpus import (
    POLITENESS,
    USER_AGENT,
    corpus_df,
    generate_world,
    robots_src_df,
)

T = 4.0
TTL = 2
ROUNDS = 12


@pytest.fixture(scope="module")
def world():
    return generate_world(n=60, hosts=4, seed=7, with_images=False)


@pytest.fixture(scope="module")
def ttl_oracle(world):
    sim = RoundSim(
        world.by_url(),
        world.robots,
        world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
        round_duration=T,
        recrawl_ttl=TTL,
    )
    return sim.run(world.seeds, max_rounds=ROUNDS)


def _make_job(spark, world, tmp, **cfg_kw):
    cfg = CrawlConfig(
        root_domains=world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
        round_duration=T,
        recrawl_ttl=TTL,
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
def ttl_engine_run(spark, world, tmp_path_factory):
    job = _make_job(spark, world, tmp_path_factory.mktemp("ckpt_ttl"))
    job.start(world.seeds)
    job.run(max_rounds=ROUNDS)
    return job


def test_ttl_bloom_matches_oracle_bitforbit(ttl_engine_run, ttl_oracle):
    got = ttl_engine_run.admitted_sequences()
    want = {r: seq for r, seq in ttl_oracle.rounds.items() if seq}
    assert got == want
    state = ttl_engine_run.final_state()
    want_state = {
        u: (st, ttl_oracle.lengths[u]) for u, st in ttl_oracle.statuses.items()
    }
    assert state == want_state


def test_ttl_refetches_exactly_the_expired_set(ttl_oracle, ttl_engine_run):
    """The world must actually exercise expiry, and every re-admission
    must be of a URL whose previous fetch had aged past the TTL at the
    admission round (recomputed independently from the round record)."""
    last_fetch: dict[str, int] = {}
    refetches = 0
    for rnd in sorted(ttl_oracle.rounds):
        for _, u in ttl_oracle.rounds[rnd]:
            if u in last_fetch:
                refetches += 1
                # discovered in some round d with last_fetch < d - TTL,
                # admitted at rnd > d: the expiry bound at admission
                assert last_fetch[u] < rnd - TTL, (u, last_fetch[u], rnd)
            last_fetch[u] = rnd
    assert refetches > 0, "world too small to exercise TTL re-crawl"
    # the engine's pages log re-records each re-fetch
    pages_rounds = (
        ttl_engine_run.pages().groupBy("url").count().collect()
    )
    assert any(r["count"] > 1 for r in pages_rounds)


def test_ttl_resume_mid_crawl_identical(
    spark, world, tmp_path_factory, ttl_engine_run
):
    """Kill after round 5 (inside the TTL churn), resume in a fresh
    job object, finish — the north_rule's checkpoint-resume contract
    must hold for the TTL mode too, on the plain ledger layout (the
    Bloom word log and its TTL stamp have to survive the resume)."""
    tmp = tmp_path_factory.mktemp("ckpt_ttl_rs")
    a = _make_job(spark, world, tmp)
    a.start(world.seeds)
    for _ in range(5):
        a.run_round()
    b = _make_job(spark, world, tmp)
    assert b.resume() == 5
    b.run(max_rounds=ROUNDS - 5)
    assert b.admitted_sequences() == ttl_engine_run.admitted_sequences()
    assert b.final_state() == ttl_engine_run.final_state()


def test_ttl_bucketed_ledger_identical_and_resumable(
    spark, world, tmp_path_factory, ttl_engine_run
):
    """TTL × bucketed ledger (r4 verdict #5): with seen_ledger_buckets
    on, the seen set lives in a bucketed STATUS ledger (url_key,
    round, is_fetch) whose liveness aggregate runs over the bucketed
    scan — output must be bit-for-bit the log-backed TTL run's,
    including through a kill + resume (the ledger's compact form —
    expired keys physically dropped — must reconstruct the same
    liveness for every later probe round)."""
    tmp = tmp_path_factory.mktemp("ckpt_ttl_lg")
    a = _make_job(
        spark, world, tmp, seen_ledger_buckets=8, compact_every=4
    )
    a.start(world.seeds)
    for _ in range(6):
        a.run_round()
    b = _make_job(
        spark, world, tmp, seen_ledger_buckets=8, compact_every=4
    )
    assert b.resume() == 6
    b.run(max_rounds=ROUNDS - 6)
    assert b.admitted_sequences() == ttl_engine_run.admitted_sequences()
    assert b.final_state() == ttl_engine_run.final_state()


def test_ttl_ledger_liveness_plan_has_no_ledger_exchange(
    spark, world, tmp_path_factory
):
    """Scale shape of the TTL cutover: the liveness aggregate over
    the bucketed status ledger must plan WITHOUT an Exchange below
    the aggregate (the bucketed scan already satisfies the groupBy's
    HashPartitioning), so a cutover anti-join shuffles only the
    batch side — O(batch) movement at any frontier size."""
    job = _make_job(
        spark,
        world,
        tmp_path_factory.mktemp("ckpt_ttl_plan"),
        seen_ledger_buckets=8,
    )
    job.start(world.seeds)
    job.run_round()
    seen = job._seen_keys()
    plan = seen._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan or "SortAggregate" in plan
    # zero Exchanges in the whole liveness subtree: the scan is
    # bucketed on url_key and filter/project preserve partitioning
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_ttl_config_validation(spark, world, tmp_path_factory):
    with pytest.raises(ValueError):
        cfg = CrawlConfig(
            root_domains=world.root_domains, recrawl_ttl=0
        )
        CrawlJob(
            spark,
            corpus_df(spark, world),
            robots_src_df(spark, world),
            cfg,
            checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_ttl_bad0")),
        )
