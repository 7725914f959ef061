"""Index + search e2e parity: Spark job vs the pure-Python oracle
(SURVEY §5.3 rows 'dedup parity' and 'index/search e2e')."""

import pytest
from pyspark.sql import functions as F

from tests.oracle import indexer_sim as osim
from web_crawler_search_engine_spark.plans import search as S
from web_crawler_search_engine_spark.plans.indexer import build_index
from web_crawler_search_engine_spark.sources.corpus import generate_world

QUERIES = [
    "lantern",
    "granite harbor",
    "quartz river summit",
    "the crawler walks",
    "seeded images of pure noise",
    "LANTERN Meadow",
    "nebula 1234",
    "nebula 123456789",  # long numeric dropped from tokens
    "zzzunknownzzz",
    "lanterns meadows quartzes",  # bigrams miss -> stemmed fallback
    "apple",
    "apple bridge",
    "apple bridge circuit dawn",
    "ember forest granite",
    "walks the synthetic web",
    "politely one host",
    "beacon canyon delta engine",
    "images",
    "crawler",
    "small seeded images",
]


@pytest.fixture(scope="module")
def world():
    return generate_world(n=100, hosts=4, seed=13, with_images=False)


@pytest.fixture(scope="module")
def oracle_index(world):
    return osim.build_index_oracle(
        [{"url": r["url"], "content": r["content"]} for r in world.rows]
    )


@pytest.fixture(scope="module")
def engine_index(spark, world):
    pages = spark.createDataFrame(
        [(r["url"], r["content"]) for r in world.rows], "url string, content string"
    )
    docs, postings, n = build_index(pages)
    return docs.persist(), postings.persist(), n


def test_docs_table_matches(engine_index, oracle_index):
    docs_df, _, n = engine_index
    odocs, _ = oracle_index
    got = {r["doc_id"]: (r["url"], r["title"]) for r in docs_df.collect()}
    assert got == odocs
    assert n == len(odocs)


def test_postings_tf_and_scores_match(engine_index, oracle_index):
    _, postings_df, _ = engine_index
    _, opost = oracle_index
    got = {
        (r["token"], r["doc_id"]): (r["tf"], r["score"])
        for r in postings_df.collect()
    }
    assert set(got) == set(opost)
    for key, (tf, score) in got.items():
        otf, oscore = opost[key]
        assert tf == otf, key
        assert abs(score - oscore) <= 1.1e-3, (key, score, oscore)  # C8 %.3f


def test_dedup_dropped_duplicate_pages(engine_index, world, oracle_index):
    docs_df, _, n = engine_index
    dup_urls = {r["url"] for r in world.rows if r["dup_of"]}
    assert dup_urls, "fixture must contain duplicate pages"
    indexed_urls = {r["url"] for r in docs_df.collect()}
    # a dup whose source is also indexed must not be indexed itself
    for r in world.rows:
        if r["dup_of"] and r["dup_of"] in indexed_urls and r["url"] > r["dup_of"]:
            assert r["url"] not in indexed_urls, r["url"]


def test_search_topk_parity(engine_index, oracle_index):
    docs_df, postings_df, _ = engine_index
    odocs, opost = oracle_index
    for q in QUERIES:
        toks, fb = S.query_tokens(q), S.fallback_tokens(q)
        want = osim.search_oracle(odocs, opost, toks, fb, k=5)
        res = S.topk(postings_df, toks, k=5).collect()
        if not res:
            res = S.topk(postings_df, fb, k=5).collect()
        got = [(r["doc_id"], r["score"]) for r in res]
        assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) <= 5e-3, (q, gd, gs, ws)


def test_search_join_returns_metadata(engine_index):
    docs_df, postings_df, _ = engine_index
    out = S.search(postings_df, docs_df, "granite harbor").collect()
    assert out and all(r["url"].startswith("https://") for r in out)


def test_xxh64_oracle_matches_spark(spark):
    from web_crawler_search_engine_spark.functions.hashing import xxh64, xxh64_str

    vals = ["", "a", "hello", "https://h1.example.test/img00000001", "x" * 100]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [xxh64_str(v) for v in vals]
    ldf = spark.createDataFrame([(i,) for i in [0, 1, -1, 2**62]], ["x"])
    lgot = [r[0] for r in ldf.select(F.xxhash64("x")).collect()]
    want = [xxh64(int(i).to_bytes(8, "little", signed=True)) for i in [0, 1, -1, 2**62]]
    assert lgot == want


def test_incremental_index_resume_equals_single_shot(
    spark, world, engine_index, tmp_path_factory
):
    """S8 (indexer/__init__.py:56-63,103): parse half the corpus,
    resume with the full corpus — the parsed_docs ledger skips the
    already-parsed half, and the finalized index equals the
    single-shot build exactly (ids, titles, tf, scores)."""
    from web_crawler_search_engine_spark.plans.indexer import (
        build_index_incremental,
    )
    from web_crawler_search_engine_spark.sources.checkpoints import SnapshotStore

    store = SnapshotStore(spark, tmp_path_factory.mktemp("idx_ledger"))
    rows = [(r["url"], r["content"]) for r in world.rows]
    half = spark.createDataFrame(rows[:50], "url string, content string")
    full = spark.createDataFrame(rows, "url string, content string")
    build_index_incremental(half, store, round_id=0)
    n_parsed_half = store.load_log("parsed_docs").count()
    docs2, post2, n2 = build_index_incremental(full, store, round_id=1)
    # ledger actually skipped the first half: the round-1 delta holds
    # only the new pages
    delta = store.load_log_delta("parsed_docs", 1)
    assert delta.count() == store.load_log("parsed_docs").count() - n_parsed_half

    docs1, post1, n1 = engine_index
    assert n2 == n1
    assert {r["doc_id"]: (r["url"], r["title"]) for r in docs2.collect()} == {
        r["doc_id"]: (r["url"], r["title"]) for r in docs1.collect()
    }
    got = {(r["token"], r["doc_id"]): (r["tf"], r["score"]) for r in post2.collect()}
    want = {(r["token"], r["doc_id"]): (r["tf"], r["score"]) for r in post1.collect()}
    assert got == want


def test_shard_dedup_mode_matches_per_worker_semantics(spark, world, engine_index):
    """X2 parity-shard mode: dedup only within pmod(xxhash64(url), W)
    shards — the reference's per-worker hash sets
    (indexer/worker.py:26,118-122). Cross-shard duplicates survive;
    within-shard duplicates are dropped first-wins."""
    from pyspark.sql import functions as F

    from web_crawler_search_engine_spark.plans.indexer import build_index

    W = 4
    pages = spark.createDataFrame(
        [(r["url"], r["content"]) for r in world.rows], "url string, content string"
    )
    docs_s, _, _ = build_index(pages, dedup_shards=W)
    shard_urls = {r["url"] for r in docs_s.collect()}
    docs_g, _, _ = engine_index
    global_urls = {r["url"] for r in docs_g.collect()}
    # shard-local dedup is weaker: it keeps a superset of global-dedup
    assert global_urls <= shard_urls
    shard_of = {
        r["url"]: r["s"]
        for r in pages.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(W)).alias("s")
        ).collect()
    }
    # exact oracle: within each (content_hash, shard) group the
    # url-order first page wins; everything else is dropped
    from tests.oracle.indexer_sim import extract_doc
    from tests.oracle.reference_impl import rolling_hash

    groups: dict[tuple[int, int], list[str]] = {}
    for r in world.rows:
        if "<html" not in r["content"][:1024].lower():
            continue
        strings, _, _ = extract_doc(r["content"], r["url"])
        h = rolling_hash([" ".join(strings)])
        groups.setdefault((h, shard_of[r["url"]]), []).append(r["url"])
    expected = {min(urls) for urls in groups.values()}
    assert shard_urls == expected
    # and the fixture genuinely exercises a cross-shard duplicate
    assert any(
        r["dup_of"]
        and shard_of[r["url"]] != shard_of[r["dup_of"]]
        and r["url"] in shard_urls
        for r in world.rows
    )


def test_written_index_partition_pruned_search(
    spark, engine_index, tmp_path_factory
):
    """P4 layout: write_index partitions postings by
    pmod(xxhash64(token), buckets); a query's topk over the written
    index (a) equals the in-memory result exactly and (b) plans a
    PartitionFilters entry on token_bucket — the scan lists only the
    query tokens' bucket directories (index_of_index seek analog)."""
    import contextlib
    import io

    from web_crawler_search_engine_spark.plans.indexer import (
        read_index,
        write_index,
    )

    docs_df, postings_df, _ = engine_index
    path = str(tmp_path_factory.mktemp("idx"))
    write_index(docs_df, postings_df, path, buckets=8)
    postings2, docs2, buckets = read_index(spark, path)
    assert buckets == 8
    for q in ["granite harbor", "lantern", "apple bridge circuit dawn"]:
        toks = S.query_tokens(q)
        want = [
            (r["doc_id"], r["score"])
            for r in S.topk(postings_df, toks, k=5).collect()
        ]
        pruned = S.topk(postings2, toks, k=5, buckets=buckets)
        got = [(r["doc_id"], r["score"]) for r in pruned.collect()]
        assert got == want, q
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pruned.explain("formatted")
        plan = buf.getvalue()
        assert "PartitionFilters" in plan and "token_bucket" in plan, plan


def test_serving_index_bucketed_identical(
    spark, engine_index, tmp_path_factory
):
    """ServingIndex over the 8-bucket written index answers every
    query exactly like the batch search() plan — "harbor harbor"
    included, whose repeated token must count each posting once, as
    Spark's IN does. Once a pass has loaded the query buckets, a second
    pass runs no Spark job; 4 threads querying a fresh index from cold
    (concurrent first-touch bucket loads) get the sequential answers."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from web_crawler_search_engine_spark.plans.indexer import (
        read_index,
        write_index,
    )

    docs_df, postings_df, _ = engine_index
    path = str(tmp_path_factory.mktemp("idx_serve"))
    write_index(docs_df, postings_df, path, buckets=8)
    postings2, docs2, buckets = read_index(spark, path)
    queries = QUERIES + ["harbor harbor", "zzznotaword"]
    want = {
        q: [
            r.asDict()
            for r in S.search(postings2, docs2, q, buckets=buckets).collect()
        ]
        for q in queries
    }
    assert want["harbor harbor"], "the repeated-token query must hit"
    idx = S.ServingIndex(postings2, docs2, buckets=buckets)
    fresh = S.ServingIndex(postings2, docs2, buckets=buckets)
    sc = spark.sparkContext
    try:
        for q in queries:
            assert idx.query(q) == want[q], q
        sc.setJobGroup("serving-warm", "warm ServingIndex pass")
        for q in queries:
            assert idx.query(q) == want[q], ("warm", q)
        # the status tracker fills asynchronously but in job order: once
        # a later fence job is visible, any warm-pass job would be too
        sc.setJobGroup("serving-fence", "status tracker fence")
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup("serving-fence"):
            assert time.monotonic() < deadline, "fence job never listed"
            time.sleep(0.05)
        assert sc.statusTracker().getJobIdsForGroup("serving-warm") == []

        def client(i):
            return [(q, fresh.query(q)) for q in queries[i:] + queries[:i]]

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)  # interleave the threads' loads
        try:
            with ThreadPoolExecutor(4) as ex:
                futures = [ex.submit(client, i) for i in range(4)]
                got = [a for f in futures for a in f.result(timeout=600)]
        finally:
            sys.setswitchinterval(switch)
        assert len(got) == 4 * len(queries)
        for q, rows in got:
            assert rows == want[q], ("threaded", q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        idx.close()
        fresh.close()
