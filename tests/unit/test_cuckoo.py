"""Cuckoo-filter seen-set operator (operators/cuckoo.py) — the
north_rule's named Bloom alternative. Invariants under test:

  * no false negatives: every inserted key probes maybe=True, at any
    bucket_cap (i.e. regardless of how many rows relocated to b2);
  * membership is site-invariant: probing a table built with heavy
    relocation equals probing the all-at-b1 table bit-for-bit;
  * deletion (the op Bloom can't do): deleted keys probe unseen
    (modulo fp-sharing, absent in the fixture), surviving keys keep
    their no-false-negative guarantee — the TTL re-crawl primitive;
  * the fast hash path is pinned to Spark's xxhash64 chain via the
    from-spec Python XXH64 (functions/hashing.py).
"""

import struct

from pyspark.sql import functions as F

from web_crawler_search_engine_spark.functions.hashing import xxh64
from web_crawler_search_engine_spark.operators import cuckoo as ck

M = 1 << 12


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64(F.col("id")).alias("url_key")
    )


def test_no_false_negatives_any_cap(spark):
    inserted = _keys(spark, 0, 3000)
    for cap in (1, 4, 100000):
        tab = ck.cuckoo_table(inserted, "url_key", M, bucket_cap=cap)
        maybe = ck.maybe_seen_keys_cuckoo(inserted, tab, "url_key", M)
        assert maybe.count() == 3000, f"false negative at bucket_cap={cap}"


def test_membership_site_invariant(spark):
    inserted = _keys(spark, 0, 3000)
    probes = _keys(spark, 0, 6000)  # half inserted, half not
    # cap=1 relocates almost everything past the first row per bucket;
    # cap=10^6 relocates nothing — memberships must match exactly
    t_reloc = ck.cuckoo_table(inserted, "url_key", M, bucket_cap=1)
    t_b1 = ck.cuckoo_table(inserted, "url_key", M, bucket_cap=1_000_000)
    m1 = set(
        r["url_key"]
        for r in ck.maybe_seen_keys_cuckoo(probes, t_reloc, "url_key", M).collect()
    )
    m2 = set(
        r["url_key"]
        for r in ck.maybe_seen_keys_cuckoo(probes, t_b1, "url_key", M).collect()
    )
    assert m1 == m2
    # and the tables genuinely differ (relocation happened at all)
    s1 = set(map(tuple, t_reloc.collect()))
    s2 = set(map(tuple, t_b1.collect()))
    assert s1 != s2


def test_delete_enables_recrawl(spark):
    inserted = _keys(spark, 0, 2000)
    expired = _keys(spark, 0, 500)  # TTL-retired slice
    tab = ck.cuckoo_table(inserted, "url_key", M)
    pruned = ck.delete_keys_cuckoo(tab, expired, "url_key", M)
    maybe = set(
        r["url_key"]
        for r in ck.maybe_seen_keys_cuckoo(inserted, pruned, "url_key", M).collect()
    )
    survivors = set(r["url_key"] for r in _keys(spark, 500, 2000).collect())
    victims = set(r["url_key"] for r in expired.collect())
    # survivors keep the no-false-negative guarantee UNLESS they share
    # a (site, fp) pair with a victim (the documented cuckoo delete
    # caveat) — assert the guarantee modulo that exact set
    fp, b1, b2 = ck.cuckoo_cols(F.col("url_key"), M)
    pairs = (
        inserted.select(
            "url_key", fp.alias("fp"), F.explode(F.array(b1, b2)).alias("bucket")
        )
        .collect()
    )
    victim_pairs = {
        (r["bucket"], r["fp"]) for r in pairs if r["url_key"] in victims
    }
    collateral = {
        r["url_key"]
        for r in pairs
        if r["url_key"] in survivors and (r["bucket"], r["fp"]) in victim_pairs
    }
    assert survivors - collateral <= maybe
    # every victim is re-crawlable except fp-collision holdovers:
    # a victim still probing True must share BOTH a site and fp with
    # some survivor entry — bounded by the same collateral math; in
    # this fixture the overwhelming majority must clear
    still_seen = maybe & victims
    assert len(still_seen) < 25, f"{len(still_seen)} victims still maybe-seen"


def test_fast_hash_pinned_to_xxh64_chain(spark):
    """cuckoo_cols(portable=False) must equal the from-spec XXH64
    chain: xxhash64(long_col, lit(salt)) = xxh64(salt_bytes,
    seed=xxh64(le64(key), 42))."""
    rows = (
        spark.range(0, 50)
        .select(F.xxhash64(F.col("id")).alias("k"))
        .select(
            "k",
            *[
                c.alias(n)
                for c, n in zip(
                    ck.cuckoo_cols(F.col("k"), M), ("fp", "b1", "b2")
                )
            ],
        )
        .collect()
    )

    def h(key: int, salt: str) -> int:
        seed = xxh64(struct.pack("<q", key), 42)
        return xxh64(salt.encode(), seed=seed & 0xFFFFFFFFFFFFFFFF)

    for r in rows:
        # python % with a positive modulus IS pmod (non-negative)
        fp = h(r["k"], "cfp") % ((1 << 16) - 1) + 1
        b1 = h(r["k"], "cb1") % M
        alt = h(fp, "calt") % M  # fp probes as a long column
        assert r["fp"] == fp
        assert r["b1"] == b1
        assert r["b2"] == b1 ^ alt


def test_probe_plan_shape(spark):
    """Plan lock: the probe must be a shuffled-hash join — never a
    broadcast of the filter table (it scales with the ledger, the
    anti-pattern operators/seen.py exists to kill), and never a
    sort-merge (no reason to sort O(2*batch) skinny rows)."""

    def _plan(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    inserted = _keys(spark, 0, 2000)
    tab = ck.cuckoo_table(inserted, "url_key", M)
    plan = _plan(ck.maybe_seen_keys_cuckoo(inserted, tab, "url_key", M))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" not in plan


def test_portable_hash_pinned_to_md5(spark):
    """cuckoo_cols(portable=True) must equal the catalog's md5 hash
    computed independently in Python (hashlib) — the same pin the
    DuckDB twins rely on, held here without an engine in the loop.
    Property-style over a spread of signed keys including negatives
    (cast-to-string must produce the decimal form both engines use)."""
    import hashlib

    keys = [0, 1, -1, 2**62, -(2**62), 123456789, -987654321] + [
        (h := int.from_bytes(hashlib.md5(str(i).encode()).digest()[:8], "big"))
        - (h >> 63) * (1 << 64)
        for i in range(20)
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    rows = df.select(
        "k",
        *[
            c.alias(n)
            for c, n in zip(
                ck.cuckoo_cols(F.col("k"), M, portable=True), ("fp", "b1", "b2")
            )
        ],
    ).collect()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for r in rows:
        fp = h60(f"{r['k']}|cfp") % ((1 << 16) - 1) + 1
        b1 = h60(f"{r['k']}|cb1") % M
        alt = h60(f"{fp}|calt") % M
        assert r["fp"] == fp, r["k"]
        assert r["b1"] == b1, r["k"]
        assert r["b2"] == b1 ^ alt, r["k"]
