"""Correctness checks of a workload's outputs against independent models.

Each check takes plain Python data (what the engine returned, what the
model says) and returns a list of differences; an empty list passes.
They run outside the timed region, and a run with any difference
reports no timings. The models are the repository's oracles:
``tests/oracle/simulator.RoundSim`` for the crawl and
``tests/oracle/indexer_sim`` for the index and search.
"""

from __future__ import annotations

MAX_SHOWN = 5


def _diff_dicts(what: str, got: dict, want: dict) -> list[str]:
    out = []
    for key in sorted(set(got) | set(want), key=str):
        g, w = got.get(key, "<missing>"), want.get(key, "<missing>")
        if g != w:
            out.append(f"{what}[{key!r}]: engine {g!r} != model {w!r}")
    if len(out) > MAX_SHOWN:
        out = out[:MAX_SHOWN] + [f"{what}: {len(out) - MAX_SHOWN} more differences"]
    return out


def check_crawl(admitted: dict, state: dict, sim) -> list[str]:
    """Per-round admitted sequences and the final URL-seen set (with
    status and page length) against a ``RoundSim`` result run for the
    same number of rounds, with the same ``recrawl_ttl``."""
    want_rounds = {r: seq for r, seq in sim.rounds.items() if seq}
    want_state = {u: (st, sim.lengths[u]) for u, st in sim.statuses.items()}
    return _diff_dicts("admitted round", admitted, want_rounds) + _diff_dicts(
        "url state", state, want_state
    )


def check_pages(pages: list[dict], by_url: dict, admitted: dict) -> list[str]:
    """Every fetched page's image columns equal its world row, and the
    pages sink holds exactly one row per admitted URL of the world."""
    out = []
    fetched = sorted(
        (r, u) for r, seq in admitted.items() for _, u in seq if u in by_url
    )
    got = sorted((p["round"], p["url"]) for p in pages)
    if got != fetched:
        missing = sorted(set(fetched) - set(got))[:MAX_SHOWN]
        extra = sorted(set(got) - set(fetched))[:MAX_SHOWN]
        out.append(f"pages sink rows != admitted urls: missing {missing}, extra {extra}")
    for p in pages:
        row = by_url.get(p["url"])
        if row is None:
            continue
        for col in ("image_id", "phash", "caption"):
            if p[col] != row[col]:
                out.append(f"page {p['url']} {col}: engine {p[col]!r} != world {row[col]!r}")
                if len(out) >= MAX_SHOWN:
                    return out
    return out


def check_serving(results: list[tuple[str, list[dict]]], reference: dict) -> list[str]:
    """Every ``ServingIndex.query`` answer equals ``search()``'s rows
    for the same query, row for row — misses (empty lists) included."""
    out = []
    for q, rows in results:
        want = reference.get(q)
        if rows != want:
            out.append(f"query {q!r}: ServingIndex {rows!r} != search() {want!r}")
            if len(out) >= MAX_SHOWN:
                break
    return out


def check_oracle_topk(q: str, rows: list[dict], want: list[tuple[int, float]]) -> list[str]:
    """Top-k doc ids equal the oracle's; scores within the %.3f
    rounding the index applies (same tolerance as tests/e2e)."""
    got = [(r["doc_id"], r["score"]) for r in rows]
    if [d for d, _ in got] != [d for d, _ in want]:
        return [f"query {q!r}: engine top-k {got!r} != oracle {want!r}"]
    return [
        f"query {q!r} doc {gd}: engine score {gs} != oracle {ws}"
        for (gd, gs), (_, ws) in zip(got, want)
        if abs(gs - ws) > 5e-3
    ]


def check_snippets(q: str, rows: list[dict], want_ctx: dict[str, str]) -> list[str]:
    """``search()`` snippets equal the reference's context loop."""
    return [
        f"query {q!r} url {r['url']}: snippet differs from the oracle"
        for r in rows
        if r["context"] != want_ctx[r["url"]]
    ]
