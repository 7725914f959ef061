"""The benchmark's correctness checks: they pass on the oracles' own
answers and reject a deliberately corrupted result. Pure Python, no
Spark session.

    python3 -m pytest perfbench/tests -q
"""

import copy
import json
import random
from pathlib import Path

import pytest

from perfbench import checks
from perfbench.run import E2E_UNITS, LAYER_UNITS
from perfbench.workloads import MIX, make_queries
from tests.oracle import indexer_sim as osim
from tests.oracle.simulator import RoundSim
from web_crawler_search_engine_spark.plans import search as S
from web_crawler_search_engine_spark.sources.corpus import (
    POLITENESS,
    USER_AGENT,
    generate_world,
)

ROOT = Path(__file__).resolve().parents[2]


@pytest.fixture(scope="module")
def world():
    return generate_world(n=60, hosts=6, seed=5, with_images=False)


@pytest.fixture(scope="module")
def crawl(world):
    """(sim, admitted, state) — the engine-shaped view of a correct
    two-round crawl, taken from the oracle itself."""
    sim = RoundSim(world.by_url(), world.robots, world.root_domains,
                   user_agent=USER_AGENT, politeness=POLITENESS,
                   round_duration=4.0, recrawl_ttl=1).run(world.seeds, max_rounds=2)
    admitted = {r: list(seq) for r, seq in sim.rounds.items() if seq}
    state = {u: (st, sim.lengths[u]) for u, st in sim.statuses.items()}
    return sim, admitted, state


def test_crawl_check_passes_the_model(crawl):
    sim, admitted, state = crawl
    assert checks.check_crawl(admitted, state, sim) == []


def test_crawl_check_rejects_a_dropped_admitted_url(crawl):
    sim, admitted, state = crawl
    bad = copy.deepcopy(admitted)
    dropped = bad[2].pop()
    problems = checks.check_crawl(bad, state, sim)
    assert problems and "admitted round[2]" in problems[0]
    assert dropped[1] in problems[0]


def test_crawl_check_rejects_a_wrong_status(crawl):
    sim, admitted, state = crawl
    url = next(u for u, (st, _) in state.items() if st == "fetched")
    bad = dict(state, **{url: ("pending", 0)})
    assert any(url in p for p in checks.check_crawl(admitted, bad, sim))


def test_pages_check_rejects_a_corrupted_phash():
    world = generate_world(n=30, hosts=3, seed=5, with_images=True,
                           image_dim_choices=(32,))
    by_url = world.by_url()
    admitted = {1: [(by_url[u]["host"], u) for u in world.seeds]}
    pages = [dict(round=1, url=u, image_id=by_url[u]["image_id"],
                  phash=by_url[u]["phash"], caption=by_url[u]["caption"])
             for u in world.seeds]
    assert checks.check_pages(pages, by_url, admitted) == []
    pages[0]["phash"] ^= 1
    assert "phash" in checks.check_pages(pages, by_url, admitted)[0]
    assert "missing" in checks.check_pages(pages[1:], by_url, admitted)[0]


@pytest.fixture(scope="module")
def served(world):
    """(query, oracle top-k as ServingIndex-shaped rows) for a seeded mix."""
    odocs, opost = osim.build_index_oracle(
        [{"url": r["url"], "content": r["content"]} for r in world.rows])
    out = []
    for _, q in make_queries(world, random.Random(3), 6):
        top = osim.search_oracle(odocs, opost, S.query_tokens(q),
                                 S.fallback_tokens(q), k=5)
        rows = [{"doc_id": d, "url": odocs[d][0], "title": odocs[d][1], "score": s}
                for d, s in top]
        out.append((q, rows, top))
    return out


def test_query_mix_has_every_kind(world):
    mix = make_queries(world, random.Random(3), len(MIX))
    assert [(k, len(q.split())) for k, q in mix] == list(MIX)
    assert len({q for _, q in mix}) == len(mix)


def test_serving_check_rejects_a_swapped_result(served):
    answers = [(q, rows) for q, rows, _ in served]
    reference = {q: rows for q, rows, _ in served}
    assert checks.check_serving(answers, reference) == []
    hits = [i for i, (_, rows) in enumerate(answers) if rows]
    i, j = hits[0], hits[1]
    swapped = list(answers)
    swapped[i], swapped[j] = (answers[i][0], answers[j][1]), (answers[j][0], answers[i][1])
    assert len(checks.check_serving(swapped, reference)) == 2
    # a miss answered with rows is caught too
    miss = next(i for i, (_, rows) in enumerate(answers) if not rows)
    wrong = list(answers)
    wrong[miss] = (answers[miss][0], answers[hits[0]][1])
    assert checks.check_serving(wrong, reference)


def test_oracle_check_rejects_reordered_topk(served):
    q, rows, top = next(s for s in served if len(s[1]) >= 2)
    assert checks.check_oracle_topk(q, rows, top) == []
    assert checks.check_oracle_topk(q, rows[::-1], top)
    off = [dict(r) for r in rows]
    off[0]["score"] += 0.01
    assert checks.check_oracle_topk(q, off, top)


def test_benchmark_json_matches_the_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
