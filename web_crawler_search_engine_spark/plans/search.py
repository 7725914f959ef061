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
DataFrame per query)."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    from ..functions.hashing import xxh64_str

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
    duplicate result rows and the dict build in search_rows picks an
    arbitrary duplicate's snippet, so --serve and batch output
    diverge on a TTL-crawled checkpoint (ADVICE r4 low #2). One
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
    """Resident warm-serving handle (r4 verdict item 3): load-time
    layout + per-query path tuned for a long-lived search process
    (jobs/search_job.py --serve, bench serve_rehearsal), the analog
    of the reference's in-heap serving loop
    (start_search_engine.py:14-27) — except the index stays
    DISTRIBUTED, so it holds at 100 TB where the reference's dict
    cannot.

    Two structural latency cuts over search()/search_rows, both
    measured by interleaved same-JVM A/B (BENCH/BASELINE.md, "Warm
    search serving"):

    * COVERING postings: ``(url, title)`` are denormalized into the
      cached postings at load (one join, once), so the whole query
      lifecycle — token filter, score sum, top-k, metadata — is ONE
      job with no broadcast sub-job and no second driver action:
      ``GROUP BY doc_id`` + ``any_value(url/title)`` (functionally
      dependent on doc_id) + ``LIMIT k``. Memory cost ~40 bytes/
      posting; the plain non-covering tables remain the batch path.
    * ONE py4j call per query: the query is issued as a single
      ``spark.sql`` string against a uniquely-named temp view —
      building the same plan through the DataFrame API costs ~6
      driver round-trips (~50 ms on a slow host) before Catalyst
      even starts.

    Tokens are alnum-only by construction (_WORD_RE) and quoted
    defensively, so literal inlining is safe. Results are pinned
    bit-for-bit to ``search`` by tests/e2e/test_crawl_chain.py for
    hit / fallback-hit / miss queries, with and without snippets.

    Precondition of the covering form: every postings ``doc_id``
    appears in ``docs`` (the inner join happens BEFORE scoring here,
    AFTER it in ``search``). build_index/read_index pairs guarantee
    this by construction — docs and postings come out of the same
    build; for foreign inputs that violate it, use
    ``covering=False``, which scores over raw postings exactly like
    ``search`` does."""

    def __init__(
        self,
        postings: DataFrame,
        docs: DataFrame,
        buckets: int | None = None,
        pages: DataFrame | None = None,
        covering: bool = True,
        layout: str = "memory",
        disk_dir: str | None = None,
    ):
        """``layout="memory"`` (default) persists the serving table in
        the Spark cache — fastest at small/mid index sizes, but
        InMemoryTableScan launches a task per cache partition
        regardless of filter selectivity, so warm latency grows with
        per-bucket postings volume (measured: a zero-match token
        filter costs a full scan). ``layout="disk"`` writes the
        serving table ONCE as token-sorted parquet partitioned by
        token_bucket with 2 MB row groups: queries then prune to the
        token buckets' directories AND row-group-skip on the token
        min/max stats — measured p50 569 ms vs ~700 ms memory at
        600k pages / 116M postings, and SUB-LINEAR in index size (4×
        data → 2.1× latency) — the shape that holds at 100 TB, where
        the serving tier reads bucket-pruned, stat-skipped
        parquet/Iceberg partitions instead of caching the index
        (BENCH/BASELINE.md §r5). Disk layout requires ``buckets``
        (the written index's token_bucket column)."""
        import tempfile
        import uuid

        self._spark = postings.sparkSession
        self.buckets = buckets
        uid = uuid.uuid4().hex[:12]
        self._pview = f"serve_postings_{uid}"
        self._dview: str | None = None
        self._disk_dir: str | None = None
        self._owns_disk_dir = layout == "disk" and disk_dir is None
        if layout not in ("memory", "disk"):
            raise ValueError(f"unknown ServingIndex layout {layout!r}")
        if layout == "disk" and buckets is None:
            raise ValueError("layout='disk' needs the index bucket count")
        if covering:
            serve = postings.join(
                docs.select("doc_id", "url", "title"), "doc_id"
            )
        else:
            serve = postings
            self._dview = f"serve_docs_{uid}"
            docs.select("doc_id", "url", "title").persist().createOrReplaceTempView(
                self._dview
            )
            self._spark.table(self._dview).count()
        self.covering = covering
        if layout == "disk":
            self._disk_dir = disk_dir or tempfile.mkdtemp(
                prefix="serve_idx_disk_"
            )
            (
                serve.repartition(F.col("token_bucket"))
                .sortWithinPartitions("token", "doc_id")
                .write.mode("overwrite")
                .option("parquet.block.size", 2 * 1024 * 1024)
                .partitionBy("token_bucket")
                .parquet(self._disk_dir)
            )
            serve = self._spark.read.parquet(self._disk_dir)
            serve.createOrReplaceTempView(self._pview)
            self._serve = serve
        else:
            serve = serve.persist()
            serve.createOrReplaceTempView(self._pview)
            serve.count()  # materialize the resident cache now
            self._serve = serve
        self._layout = layout
        self._pages = None
        if pages is not None:
            self._pages = pages.persist()
            self._pages.count()

    def _topk_sql(self, tokens: list[str], k: int) -> str:
        esc = [t.replace("'", "''") for t in tokens]
        tl = ",".join(f"'{t}'" for t in esc)
        where = f"token IN ({tl})"
        if self.buckets is not None:
            bl = ",".join(str(b) for b in token_buckets(tokens, self.buckets))
            where = f"token_bucket IN ({bl}) AND {where}"
        # fixed-point millis sum — exact + associative, so the ranking
        # is layout-independent and bit-equal to topk() (see there).
        # The sum stays a BIGINT named millis through the SQL (SQL-side
        # `/1000.0` would go decimal, and re-stating the sum expression
        # in ORDER BY re-resolves `score` against the output alias);
        # query() does the one double division driver-side — Python
        # float division IS IEEE double division, identical to topk's.
        msum = "sum(cast(round(score * 1000) AS bigint)) AS millis"
        if self.covering:
            return (
                "SELECT doc_id, any_value(url) AS url, "
                f"any_value(title) AS title, {msum} "
                f"FROM {self._pview} WHERE {where} "
                f"GROUP BY doc_id ORDER BY millis DESC, doc_id ASC LIMIT {k}"
            )
        return (
            f"SELECT doc_id, {msum} FROM {self._pview} "
            f"WHERE {where} "
            f"GROUP BY doc_id ORDER BY millis DESC, doc_id ASC LIMIT {k}"
        )

    def query(self, query: str, k: int = 5) -> list[dict]:
        """≡ [r.asDict() for r in search(...).collect()] — one job
        per query (covering), plus one snippet job when pages are
        loaded, plus the fallback re-query on empty results
        (start_search_engine.py:38-43)."""
        tokens = query_tokens(query)
        if not tokens:
            return []
        rows = self._spark.sql(self._topk_sql(tokens, k)).collect()
        if not rows:
            tokens = fallback_tokens(query)
            rows = self._spark.sql(self._topk_sql(tokens, k)).collect()
        if not rows:
            return []
        if not self.covering:
            ids = ",".join(str(r["doc_id"]) for r in rows)
            meta = {
                m["doc_id"]: m
                for m in self._spark.sql(
                    f"SELECT doc_id, url, title FROM {self._dview} "
                    f"WHERE doc_id IN ({ids})"
                ).collect()
            }
            out = [
                {
                    "doc_id": r["doc_id"],
                    "url": meta[r["doc_id"]]["url"],
                    "title": meta[r["doc_id"]]["title"],
                    "score": r["millis"] / 1000.0,
                }
                for r in rows
                if r["doc_id"] in meta
            ]
        else:
            out = [
                {
                    "doc_id": r["doc_id"],
                    "url": r["url"],
                    "title": r["title"],
                    "score": r["millis"] / 1000.0,
                }
                for r in rows
            ]
        if self._pages is not None:
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
        out.sort(key=lambda o: (-o["score"], o["doc_id"]))
        return out

    def close(self) -> None:
        """Release resident state (cache blocks / spill files + temp
        views)."""
        if self._layout == "memory":
            self._serve.unpersist()
        elif self._disk_dir is not None and self._owns_disk_dir:
            # only delete layouts THIS handle created; a caller-supplied
            # disk_dir is caller-owned (it may be shared or reopened)
            import shutil

            shutil.rmtree(self._disk_dir, ignore_errors=True)
        self._spark.catalog.dropTempView(self._pview)
        if self._dview is not None:
            self._spark.table(self._dview).unpersist()
            self._spark.catalog.dropTempView(self._dview)
        if self._pages is not None:
            self._pages.unpersist()


def serving_table(docs: DataFrame, pages: DataFrame | None = None) -> DataFrame:
    """Load-time prep for a RESIDENT serving process (search_job
    --serve, bench serve_rehearsal): doc metadata — plus, when a
    deduped ``(url, content)`` pages table is given, the page content
    LEFT-joined in — as ONE table. Persist the result once; every
    warm query against it is then a single fused job, snippets
    included (r4 verdict item 3). The join runs once at load, at
    docs-table volume; a doc with no pages row keeps a null content
    → empty context downstream, matching ``search``."""
    if pages is None:
        return docs.select("doc_id", "url", "title")
    return docs.join(pages, "url", "left").select(
        "doc_id", "url", "title", "content"
    )


def search_rows(
    postings: DataFrame,
    docs: DataFrame,
    query: str,
    k: int = 5,
    pages: DataFrame | None = None,
    buckets: int | None = None,
) -> list[dict]:
    """Warm-serving twin of ``search`` (r3 verdict item 7): identical
    results as plain dicts, optimized for a RESIDENT process answering
    many queries over one loaded index (jobs/search_job.py --serve,
    bench serve_rehearsal).

    ``search`` pays per-query costs that only matter at point-query
    latency: a createDataFrame round-trip plus a SECOND driver action
    for the metadata join (and a third for snippets). Here the whole
    lifecycle is ONE fused plan per query — the ≤k top-k subplan is
    broadcast INTO the docs scan (Catalyst materializes the broadcast
    and runs the pruned metadata join inside a single collect, with
    no Python round-trip or fresh-plan analysis between them). When
    ``docs`` carries a ``content`` column (pre-joined at load via
    ``serving_table``), the C10 snippet is projected in the SAME job;
    a separate ``pages`` table falls back to one extra snippet job.
    Equivalence with ``search`` is pinned by tests/e2e (hit,
    fallback-hit, miss, and TTL-duplicate cases)."""
    tokens = query_tokens(query)
    with_content = pages is None and "content" in docs.columns

    def run(toks: list[str]) -> list:
        hits = topk(postings, toks, k, buckets=buckets)
        fused = docs.join(F.broadcast(hits), "doc_id")
        cols = ["doc_id", "url", "title", "score"]
        if with_content:
            ctx = snippet_col(F.col("content"), toks).alias("context")
            return fused.select(*cols, ctx).collect()
        return fused.select(*cols).collect()

    rows = run(tokens)
    if not rows:
        # Empty fused output is ambiguous: no hits (→ fallback
        # re-query, start_search_engine.py:38-43) vs. hits whose
        # doc_id is missing from docs (inner-join semantics — then
        # ``search`` returns empty WITHOUT falling back). Disambiguate
        # with a 1-row probe; the extra job only runs on misses.
        if not topk(postings, tokens, k, buckets=buckets).limit(1).collect():
            tokens = fallback_tokens(query)
            rows = run(tokens)
    out = [
        {
            "doc_id": r["doc_id"],
            "url": r["url"],
            "title": r["title"],
            "score": r["score"],
            **({"context": r["context"]} if with_content else {}),
        }
        for r in rows
    ]
    if pages is not None:
        ctx_rows = (
            pages.filter(F.col("url").isin([o["url"] for o in out]))
            .select(
                "url", snippet_col(F.col("content"), tokens).alias("context")
            )
            .collect()
        )
        ctx = {r["url"]: r["context"] for r in ctx_rows}
        for o in out:
            o["context"] = ctx.get(o["url"], "")
    out.sort(key=lambda o: (-o["score"], o["doc_id"]))
    return out
