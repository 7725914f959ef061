"""Search: query -> token n-grams -> postings lookup -> score sum ->
top-5 -> doc-metadata join -> context snippet (SURVEY §3.3,
start_search_engine.py).

Catalyst plan: scan-with-token-pushdown (isin on the bucketed token
column replaces the reference's index_of_index byte seeks) ->
partial/final agg -> TakeOrderedAndProject -> the collected ≤k rows
broadcast INTO the docs/pages scans. Query prep (C2/C3/C12) is
driver-side Python — queries are single strings, not data. The top-k
is collected once (≤ k rows) so the empty-check, metadata join, and
snippet pass share one scoring execution and nothing stays cached
behind (the r1 version ran the query twice; r2.0 leaked one persisted
DataFrame per query).

Two serving paths, pinned to each other row-for-row: ``search`` (the
batch/reference plan above) and ``ServingIndex`` (the resident warm
handle behind ``search_job --serve``), which loads each token bucket's
postings into driver-side numpy arrays on first use and then answers
with no Spark job."""

from __future__ import annotations

import re
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import xxh64_str
from ..functions.stemming import stem

_WORD_RE = re.compile(r"\b[a-zA-Z0-9]+\b")


def _base_tokens(query: str) -> list[str]:
    """start_search_engine.py:50: lowercase alnum words; numeric only
    when <= 4 chars."""
    return [
        t.lower()
        for t in _WORD_RE.findall(query)
        if not t.isnumeric() or len(t) <= 4
    ]


def query_tokens(query: str) -> list[str]:
    """start_search_engine.py:46-62: n-grams with n = clamp(len-1,1,3)
    over raw tokens, plus stemmed n-grams not already present."""
    tokens = _base_tokens(query)
    stemmed = [stem(t) for t in tokens]
    n = min(max(1, len(tokens) - 1), 3)
    grams = [tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]
    for g in (tuple(stemmed[i : i + n]) for i in range(len(stemmed) - n + 1)):
        if g not in grams:
            grams.append(g)
    return [" ".join(g) for g in grams]


def fallback_tokens(query: str) -> list[str]:
    """start_search_engine.py:38-43: stemmed unigrams."""
    return [stem(t) for t in _base_tokens(query)]


def token_buckets(tokens: list[str], buckets: int) -> list[int]:
    """Driver-side pmod(xxhash64(token), buckets) — bit-equal to the
    Column expression write_index partitioned by (hashing.xxh64_str
    pins Spark's seed-42/UTF-8 semantics), so the bucket set derives
    from the query string alone, with no lookup job."""
    return sorted({xxh64_str(t) % buckets for t in tokens})


def topk(
    postings: DataFrame, tokens: list[str], k: int = 5, buckets: int | None = None
) -> DataFrame:
    """J4 semi-filter + A9 aggregate + O4 top-k. Ties broken by
    doc_id asc (the reference's tie order is dict-insertion order —
    not deterministic; this contract is, both here and in the oracle).

    With ``buckets`` (a write_index layout), the token filter is
    preceded by a token_bucket.isin(...) partition filter: the scan
    lists only the query tokens' bucket directories — the reference's
    index_of_index seek (P4), as directory-level partition pruning."""
    if not tokens:
        return postings.select("doc_id", F.lit(0.0).alias("score")).limit(0)
    if buckets is not None:
        postings = postings.filter(
            F.col("token_bucket").isin(token_buckets(tokens, buckets))
        )
    # FIXED-POINT score sum (r5): posting scores are %.3f-rounded at
    # index time (A8/C8), so each is an integer count of millis;
    # summing the millis as longs is exact and associative, making
    # the ranking BIT-STABLE under any physical layout — float sums
    # flip near-ties when partitioning / cache layout / AQE changes
    # the addition order (observed at 600k synthetic pages between
    # the plain and covering serving layouts). The reported score is
    # millis/1000.0, one deterministic double division.
    millis = F.sum(F.round(F.col("score") * 1000).cast("long")).alias("millis")
    return (
        postings.filter(F.col("token").isin(tokens))
        .groupBy("doc_id")
        .agg(millis)
        .orderBy(F.desc("millis"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", (F.col("millis") / 1000.0).alias("score"))
    )


def latest_pages(pages_log: DataFrame) -> DataFrame:
    """One ``(url, content)`` row per url from a pages log that may
    hold several rounds' fetches of the same url (TTL re-crawl
    appends one row per re-fetch — plans/crawl.py recrawl_ttl).
    Latest round wins. Without this, the snippet join fans out
    duplicate result rows and ServingIndex's per-url snippet dict
    picks an arbitrary duplicate, so --serve and batch output diverge
    on a TTL-crawled checkpoint (ADVICE r4 low #2). One
    map-side-combined groupBy at pages-log volume."""
    return pages_log.groupBy("url").agg(
        F.max_by("content", "round").alias("content")
    )


def snippet_col(content: Column, tokens: list[str]) -> Column:
    """C10 context snippet (shared/webpage.py:55-65): normalize the
    <body> to its alnum words joined by single spaces, then for each
    query word IN ORDER take the 300 chars from its first (lowercased)
    occurrence — the reference loop overwrites, so the LAST matching
    word wins (quirk reproduced: equivalent to first match scanning
    the words in reverse). Pure Column expressions — locate/substring
    run in whole-stage codegen; the token list is a driver-side
    constant, never data."""
    words: list[str] = []
    for t in tokens:
        words.extend(t.split(" "))
    body = F.regexp_extract(content, r"(?s)<body[^>]*>(.*)</body>", 1)
    body = F.when(body == "", content).otherwise(body)
    text = F.regexp_replace(body, r"<[^>]+>", " ")
    text = F.trim(F.regexp_replace(text, r"[^a-zA-Z0-9]+", " "))
    ctx = F.lit("")
    for w in words:  # later words overwrite => build when-chain forward
        pos = F.locate(w.lower(), F.lower(text))
        ctx = F.when(pos > 0, F.substring(text, pos, 300)).otherwise(ctx)
    return ctx


def search(
    postings: DataFrame,
    docs: DataFrame,
    query: str,
    k: int = 5,
    pages: DataFrame | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Full query lifecycle incl. the empty-result stemmed-unigram
    fallback re-query (start_search_engine.py:38-43). With ``pages``
    (url, content) the result carries the C10 ``context`` snippet,
    computed via a broadcast of the tiny top-k INTO the pages scan.
    ``buckets``: enable write_index partition pruning (see topk)."""
    spark = postings.sparkSession
    tokens = query_tokens(query)
    # the top-k is ≤ k rows: collect it once and continue from a local
    # DataFrame — one job for scoring, nothing left cached behind (the
    # r2.0 persist leaked one cached DataFrame per query in a REPL)
    first = topk(postings, tokens, k, buckets=buckets)
    rows = first.collect()
    if not rows:
        fb = fallback_tokens(query)
        rows = topk(postings, fb, k, buckets=buckets).collect()
        tokens = fb
    res = spark.createDataFrame(rows, schema=first.schema)
    # broadcast the ≤k result INTO the docs scan (map-side, prunes to
    # k rows regardless of docs-table size)
    out = docs.join(F.broadcast(res), "doc_id").select(
        "doc_id", "url", "title", "score"
    )
    if pages is not None:
        # top-k is ≤ k rows: broadcast-semi it into the pages scan so
        # only matching pages compute their snippet (map-side), then
        # LEFT-join the ≤ k snippets back — a result doc with no pages
        # row keeps its hit with an empty context, matching the
        # reference (r2 ADVICE: the inner join silently dropped it)
        ctx = pages.join(
            F.broadcast(out.select("url")), "url", "left_semi"
        ).select("url", snippet_col(F.col("content"), tokens).alias("context"))
        out = out.join(F.broadcast(ctx), "url", "left").select(
            "doc_id",
            "url",
            "title",
            "score",
            F.coalesce(F.col("context"), F.lit("")).alias("context"),
        )
    return out.orderBy(F.desc("score"), F.asc("doc_id"))


class ServingIndex:
    """Resident warm-serving handle behind ``search_job --serve``,
    ``bench serve_rehearsal`` and the ``index_serve`` benchmark: the
    analog of the reference's in-process serving loop
    (start_search_engine.py:14-27). Spark builds and writes the
    token-bucketed index; this handle answers from numpy arrays in
    the driver, so a warm query runs no Spark job.

    * Load. ``docs`` ``(doc_id, url, title)`` is collected once at
      construction, sorted by doc_id. A token bucket's postings are
      read on its first use by one Spark job — a ``token_bucket = b``
      partition-pruned scan of write_index's output, the analog of
      the reference's index_of_index seek (with ``buckets=None`` the
      whole table is one bucket). The load runs under a lock, so
      concurrent clients load each bucket once.
    * Resident memory: per loaded posting a doc-row int32 and a
      score-millis int64 (12 bytes), plus one ``token -> (start,
      end)`` entry per distinct token; no Python object per posting.
      A query allocates 9 bytes of scratch per doc.
    * Query: de-duplicated query tokens (Spark's ``IN`` counts each
      posting once) add their posting ranges into a per-doc int64
      millis sum, ranked by ``(millis desc, doc_id asc)`` — the
      fixed-point contract of ``topk`` — and the stemmed fallback runs
      on an empty result. With ``pages`` the ≤ k snippets still take
      one Spark job per query (``snippet_col`` pins Java regex and
      UTF-16 substring semantics).

    Rows are pinned to ``search``'s ``Row.asDict()`` by
    tests/e2e/test_crawl_chain.py and tests/e2e/test_index_search.py
    for hit / fallback-hit / miss queries, with and without snippets.

    Precondition: ``postings`` and ``docs`` come from one
    build_index/read_index pair. Postings whose doc_id is not in
    ``docs`` are dropped at load (``search`` would drop them only
    after its top-k)."""

    def __init__(
        self,
        postings: DataFrame,
        docs: DataFrame,
        buckets: int | None = None,
        pages: DataFrame | None = None,
    ):
        """``buckets``: the written index's token_bucket count
        (read_index's third value); ``None`` for an unbucketed
        postings DataFrame."""
        self._postings = postings
        self.buckets = buckets
        d = docs.select("doc_id", "url", "title").toArrow().sort_by("doc_id")
        self._doc_ids = d.column("doc_id").to_numpy()
        self._urls = d.column("url").to_pylist()
        self._titles = d.column("title").to_pylist()
        self._loaded: dict[int | None, tuple] = {}
        self._lock = threading.Lock()
        self._pages = None
        if pages is not None:
            self._pages = pages.persist()
            self._pages.count()

    def _bucket(self, b: int | None) -> tuple:
        """(token -> (start, end), doc rows, millis) of bucket ``b``,
        loaded by one Spark job on first use."""
        got = self._loaded.get(b)
        if got is not None:
            return got
        with self._lock:
            if b in self._loaded:
                return self._loaded[b]
            p = self._postings
            if b is not None:
                p = p.filter(F.col("token_bucket") == b)
            # rounding in Spark keeps topk()'s round-half-up semantics
            t = p.select(
                "token",
                "doc_id",
                F.round(F.col("score") * 1000).cast("long").alias("millis"),
            ).toArrow()
            # docs are doc_id-sorted, so a doc's index there is its row;
            # postings of unknown docs get a null row and are dropped
            row = pc.index_in(t.column("doc_id"), value_set=pa.array(self._doc_ids))
            t = (
                t.append_column("row", row)
                .filter(pc.is_valid(row))
                .sort_by("token")
            )
            runs = pc.run_end_encode(t.column("token").combine_chunks())
            ends = runs.run_ends.to_numpy().tolist()
            spans = dict(zip(runs.values.to_pylist(), zip([0] + ends, ends)))
            got = (
                spans,
                t.column("row").to_numpy(),
                t.column("millis").to_numpy(),
            )
            self._loaded[b] = got
        return got

    def _topk(self, tokens: list[str], k: int) -> list[tuple[int, int]]:
        """[(doc row, millis)] — topk()'s ranking, in-process: an exact
        int64 millis sum per doc over the distinct tokens' postings."""
        acc = np.zeros(len(self._doc_ids), np.int64)
        hit = np.zeros(len(self._doc_ids), bool)
        for t in dict.fromkeys(tokens):
            b = None if self.buckets is None else xxh64_str(t) % self.buckets
            spans, rows, millis = self._bucket(b)
            if t in spans:
                lo, hi = spans[t]
                np.add.at(acc, rows[lo:hi], millis[lo:hi])
                hit[rows[lo:hi]] = True
        r = np.flatnonzero(hit)
        s = acc[r]
        if len(s) > k:
            cut = np.partition(s, len(s) - k)[len(s) - k]
            r, s = r[s >= cut], s[s >= cut]
        # doc rows are doc_id-sorted, so row order is doc_id order
        top = np.lexsort((r, -s))[:k]
        return list(zip(r[top].tolist(), s[top].tolist()))

    def query(self, query: str, k: int = 5) -> list[dict]:
        """≡ [r.asDict() for r in search(...).collect()], including
        the fallback re-query on empty results
        (start_search_engine.py:38-43). No Spark job once the query's
        token buckets are loaded, except the snippet job when pages
        are loaded."""
        tokens = query_tokens(query)
        hits = self._topk(tokens, k)
        if not hits:
            tokens = fallback_tokens(query)
            hits = self._topk(tokens, k)
        out = [
            {
                "doc_id": int(self._doc_ids[r]),
                "url": self._urls[r],
                "title": self._titles[r],
                "score": m / 1000.0,
            }
            for r, m in hits
        ]
        if out and self._pages is not None:
            ctx_rows = (
                self._pages.filter(
                    F.col("url").isin([o["url"] for o in out])
                )
                .select(
                    "url",
                    snippet_col(F.col("content"), tokens).alias("context"),
                )
                .collect()
            )
            ctx = {r["url"]: r["context"] for r in ctx_rows}
            for o in out:
                o["context"] = ctx.get(o["url"], "")
        return out

    def close(self) -> None:
        """Release resident state (loaded buckets, pages cache)."""
        self._loaded.clear()
        if self._pages is not None:
            self._pages.unpersist()
