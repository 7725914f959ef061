"""Crawl→index→search chained on the ENGINE'S OWN pages output (S6).

The reference persists every fetched page (crawler/worker.py:36-49)
and the indexer reads them back (indexer/__init__.py:95-112); these
tests run the same lifecycle end-to-end: crawl the synthetic world,
build the inverted index FROM THE COMMITTED pages log, search it —
plus the U7 image invariants and caption carry-through checked on
crawl output rather than on the raw corpus."""

import pytest
from pyspark.sql import functions as F

from tests.oracle import indexer_sim as osim
from tests.oracle.simulator import RoundSim
from web_crawler_search_engine_spark.images import udfs
from web_crawler_search_engine_spark.plans import search as S
from web_crawler_search_engine_spark.plans.crawl import CrawlConfig, CrawlJob
from web_crawler_search_engine_spark.plans.indexer import build_index
from web_crawler_search_engine_spark.sources.corpus import (
    POLITENESS,
    USER_AGENT,
    corpus_df,
    generate_world,
    robots_src_df,
)


@pytest.fixture(scope="module")
def world():
    return generate_world(n=80, hosts=4, seed=7, with_images=True)


@pytest.fixture(scope="module")
def oracle(world):
    sim = RoundSim(
        world.by_url(),
        world.robots,
        world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
        round_duration=4.0,
    )
    return sim.run(world.seeds)


@pytest.fixture(scope="module")
def job(spark, world, tmp_path_factory):
    cfg = CrawlConfig(
        root_domains=world.root_domains,
        user_agent=USER_AGENT,
        politeness=POLITENESS,
        round_duration=4.0,
        salt_buckets=4,
        host_buckets=4,
        compact_every=3,  # exercise log compaction mid-crawl
    )
    j = CrawlJob(
        spark,
        corpus_df(spark, world),
        robots_src_df(spark, world),
        cfg,
        checkpoint_dir=str(tmp_path_factory.mktemp("chain_ckpt")),
    )
    j.start(world.seeds)
    j.run(max_rounds=60)
    return j


@pytest.fixture(scope="module")
def crawl_index(spark, job):
    docs, postings, n = build_index(job.pages().select("url", "content"))
    return docs.persist(), postings.persist(), n


def test_pages_table_matches_fetched_set(job, world, oracle):
    """Every fetched URL has exactly one pages row, with the caption
    and image payload carried through byte-for-byte (north_rule
    caption-equality invariant, on CRAWL output)."""
    by_url = world.by_url()
    # 'fetched' = admitted+attempted; only URLs that EXIST in the
    # corpus produce a page row (the reference saves a page only when
    # the download returned a response, crawler/worker.py:30-36 —
    # dangling links, e.g. a dup page's copied relative hrefs, 404)
    fetched_urls = {
        u
        for u, st in oracle.statuses.items()
        if st == "fetched" and u in by_url
    }
    rows = job.pages().collect()
    assert {r["url"] for r in rows} == fetched_urls
    assert len(rows) == len(fetched_urls)  # no duplicate page rows
    for r in rows:
        src = by_url[r["url"]]
        assert r["caption"] == src["caption"], r["url"]
        assert r["image_id"] == src["image_id"]
        assert r["phash"] == src["phash"]
        got_bytes = bytes(r["bytes"]) if r["bytes"] is not None else None
        want_bytes = bytes(src["bytes"]) if src["bytes"] is not None else None
        assert got_bytes == want_bytes, r["url"]


def test_image_invariants_on_crawl_output(job):
    """U7 on the pages log: decode succeeds, dims match, stored phash
    recomputes, re-quantization PSNR ≥ 40 dB (lossy path)."""
    res = (
        job.pages()
        .filter(F.col("bytes").isNotNull())
        .select(
            "url", udfs.decode_verify("bytes", "fmt", "w", "h", "phash").alias("v")
        )
        .select("url", "v.*")
        .collect()
    )
    assert res
    for r in res:
        assert r["decode_ok"] and r["dims_ok"] and r["phash_match"], r["url"]
        assert r["requant_psnr"] >= 40.0, (r["url"], r["requant_psnr"])


def test_index_built_from_crawl_pages_matches_oracle(crawl_index, world, oracle):
    """S8 input contract: the indexer consumes the crawl's pages table;
    doc ids/titles/postings equal the pure-Python oracle run over the
    same fetched subset."""
    docs_df, postings_df, n = crawl_index
    by_url = world.by_url()
    fetched = [
        {"url": u, "content": by_url[u]["content"]}
        for u, st in oracle.statuses.items()
        if st == "fetched" and u in by_url
    ]
    odocs, opost = osim.build_index_oracle(fetched)
    got = {r["doc_id"]: (r["url"], r["title"]) for r in docs_df.collect()}
    assert got == odocs
    assert n == len(odocs)
    gpost = {
        (r["token"], r["doc_id"]): (r["tf"], r["score"])
        for r in postings_df.collect()
    }
    assert set(gpost) == set(opost)
    for key, (tf, score) in gpost.items():
        assert tf == opost[key][0], key
        assert abs(score - opost[key][1]) <= 1.1e-3, key


def test_search_over_crawled_index_with_snippets(crawl_index, job, world, oracle):
    """Search over the crawled index, incl. the C10 context snippet
    computed from the pages table — checked against the pure-Python
    oracle of the reference's get_context loop."""
    docs_df, postings_df, _ = crawl_index
    by_url = world.by_url()
    fetched = [
        {"url": u, "content": by_url[u]["content"]}
        for u, st in oracle.statuses.items()
        if st == "fetched" and u in by_url
    ]
    odocs, opost = osim.build_index_oracle(fetched)
    pages = job.pages().select("url", "content")
    for q in ("lantern", "granite harbor", "the crawler walks"):
        toks, fb = S.query_tokens(q), S.fallback_tokens(q)
        want = osim.search_oracle(odocs, opost, toks, fb, k=5)
        out = S.search(postings_df, docs_df, q, pages=pages).collect()
        assert [r["doc_id"] for r in out] == [d for d, _ in want], q
        used = toks if want and osim.search_oracle(odocs, opost, toks, [], k=5) else fb
        for r in out:
            expect = osim.context_oracle(by_url[r["url"]]["content"], used)
            assert r["context"] == expect, (q, r["url"])


def test_serving_index_identical(crawl_index, job):
    """plans/search.ServingIndex (the resident in-process serving
    handle behind --serve and serve_rehearsal) must return exactly
    search()'s rows for hit, fallback-hit, and miss queries — both
    with separate pages (snippets) and bare (metadata only)."""
    docs_df, postings_df, _ = crawl_index
    pages = job.pages().select("url", "content")
    idx_cov = S.ServingIndex(postings_df, docs_df, pages=pages)
    idx_bare = S.ServingIndex(postings_df, docs_df)
    try:
        for q in ("lantern", "granite harbor", "the crawler walks",
                  "zzznotaword", "harbors"):
            want = [
                r.asDict()
                for r in S.search(
                    postings_df, docs_df, q, pages=pages
                ).collect()
            ]
            assert idx_cov.query(q) == want, ("covering", q)
            bare_want = [
                {kk: v for kk, v in r.items() if kk != "context"}
                for r in want
            ]
            assert idx_bare.query(q) == bare_want, ("bare", q)
    finally:
        idx_cov.close()
        idx_bare.close()
