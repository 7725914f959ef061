"""Cuckoo-filter URL-seen set — the north_rule's named alternative to
the Bloom filter (operators/seen.py), for the one thing a Bloom filter
cannot do: DELETION, the maintenance op a TTL re-crawl needs (retire
a fetched URL's key after ``ttl`` rounds so its next discovery is
admitted again).

Partial-key cuckoo hashing (Fan et al. 2014, "Cuckoo Filter:
Practically Better Than Bloom" — public paper): each key stores a
small fingerprint ``fp`` in one of two candidate buckets

    b1 = H(key)  mod m
    b2 = b1 XOR (A(fp) mod m)        (m a power of two)

The XOR pairing is an involution — b2's alternate is b1 — so a probe
recomputes BOTH candidates from the key alone and never needs to know
which site an insert landed in. That gives the relational form a
property the sequential form doesn't advertise: **membership is
invariant to per-key site choice.** For any stored key k and probe q
with fp(k)=fp(q)=f, ``site(k) ∈ {b1(q), b1(q)⊕A(f)}`` holds for
site(k)=b1(k) iff it holds for site(k)=b1(k)⊕A(f) (XOR both sides by
A(f) maps the condition onto itself). The DuckDB oracle twin
(plans/catalog.q_cuckoo_probe) therefore stores every fingerprint at
b1 while this module load-balances freely — and the results are
hash-identical.

Relational representation: the filter IS a DataFrame ``(bucket long,
fp long)`` — a distinct pair set, exactly like the Bloom word table is
``(word_id, word)``. Buckets have no hard capacity (a hot bucket is
just more rows behind one key of a join), so the sequential
algorithm's unbounded eviction chains — inherently serial, the reason
cuckoo INSERTS don't distribute — are unnecessary: the batch build
does ONE deterministic relocation pass (rows ranked past
``bucket_cap`` in their b1 move to b2) purely to keep per-bucket load
flat, and correctness never depends on it.

Scale shape (mirrors seen.py's probe): the table arrives
hash-partitioned on ``bucket`` from its own distinct/groupBy; a probe
explodes each batch key into 2 skinny (key, bucket, fp) rows and
joins ONCE on bucket+fp — O(2·batch) rows shuffle, never O(filter),
no driver-side build. Deletes are one anti-join on the same key.

Scope: a standalone operator for the query catalog
(plans/catalog.q_cuckoo_probe, q_recrawl_ttl); the crawl engine's
URL-seen set is the Bloom word table (operators/seen.py). Standard
cuckoo caveat on delete: removing key k clears the (bucket, fp) pair
at BOTH of k's sites, so a second live key sharing a site+fingerprint
with k (probability ~2·load/2^fp_bits) loses its filter entry too.

Reference analog: the ``discovered_urls`` dict this models is
web_crawler/crawler/frontier.py:20-21,137-146.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# fingerprint width: 16 bits => FP rate ~ 2*load/65536 per probed
# bucket-pair, the paper's sweet spot for 12-16 bits/key tables
FP_BITS = 16


def _h_fast(col: Column, salt: str) -> Column:
    """Independent 64-bit draws from Spark's xxhash64 chain (seed 42,
    then each field seeds the next — reproduced bit-for-bit in tests
    by functions/hashing.xxh64)."""
    return F.xxhash64(col, F.lit(salt))


def _h_portable(col: Column, salt: str) -> Column:
    """60-bit positive md5 draw — the catalog's cross-engine hash
    (plans/catalog._phash); DuckDB twin:
    ('0x' || substr(md5(x || '|<salt>'), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit("|" + salt))), 1, 15),
        16,
        10,
    ).cast("long")


def cuckoo_cols(
    key: Column, m_buckets: int, fp_bits: int = FP_BITS, portable: bool = False
) -> tuple[Column, Column, Column]:
    """(fp, b1, b2) column exprs for a signed-64 key. ``m_buckets``
    must be a power of two (b2 = b1 XOR alt stays in range). fp is
    nonzero: [1, 2^fp_bits - 1] — pmod by (2^fp_bits - 1) then +1,
    per the paper (0 is the empty-slot sentinel in the packed form;
    keeping it out preserves layout compatibility)."""
    assert m_buckets & (m_buckets - 1) == 0, "m_buckets must be a power of two"
    h = _h_portable if portable else _h_fast
    fp = F.pmod(h(key, "cfp"), F.lit((1 << fp_bits) - 1)) + F.lit(1)
    b1 = F.pmod(h(key, "cb1"), F.lit(m_buckets))
    alt = F.pmod(h(fp, "calt"), F.lit(m_buckets))
    b2 = b1.bitwiseXOR(alt)
    return fp.cast("long"), b1.cast("long"), b2.cast("long")


def cuckoo_table(
    keys: DataFrame,
    key_col: str,
    m_buckets: int,
    fp_bits: int = FP_BITS,
    portable: bool = False,
    bucket_cap: int = 8,
) -> DataFrame:
    """Build the ``(bucket, fp)`` filter table for a key set. One
    deterministic relocation pass: within each b1, rows ranked past
    ``bucket_cap`` (by fp then key — total order) store at b2 instead;
    membership is site-invariant (module doc) so this is pure load
    shaping. Two shuffles total (the rank window and the distinct),
    both at key volume with skinny rows."""
    fp, b1, b2 = cuckoo_cols(F.col(key_col), m_buckets, fp_bits, portable)
    staged = keys.select(
        F.col(key_col).alias("_k"),
        fp.alias("fp"),
        b1.alias("_b1"),
        b2.alias("_b2"),
    )
    w = Window.partitionBy("_b1").orderBy("fp", "_k")
    return (
        staged.withColumn("_rk", F.row_number().over(w))
        .select(
            F.when(F.col("_rk") <= bucket_cap, F.col("_b1"))
            .otherwise(F.col("_b2"))
            .alias("bucket"),
            "fp",
        )
        .distinct()
    )


def maybe_seen_keys_cuckoo(
    batch_keys: DataFrame,
    table: DataFrame,
    key_col: str,
    m_buckets: int,
    fp_bits: int = FP_BITS,
    portable: bool = False,
) -> DataFrame:
    """Distinct keys of ``batch_keys`` that MIGHT be inserted (no
    false negatives — a present key's (site, fp) row is always one of
    the two probed pairs). Shape: explode 2 probe rows per key, one
    equi-join on (bucket, fp) against the table's own hash layout,
    semi back to keys — O(2·batch) rows moved, never O(filter)."""
    fp, b1, b2 = cuckoo_cols(F.col(key_col), m_buckets, fp_bits, portable)
    probes = batch_keys.select(
        F.col(key_col),
        fp.alias("fp"),
        F.explode(F.array(b1, b2)).alias("bucket"),
    )
    hits = probes.join(table.hint("shuffle_hash"), ["bucket", "fp"], "left_semi")
    return hits.select(key_col).distinct()


def delete_keys_cuckoo(
    table: DataFrame,
    victims: DataFrame,
    key_col: str,
    m_buckets: int,
    fp_bits: int = FP_BITS,
    portable: bool = False,
) -> DataFrame:
    """The filter table with the victim keys' entries removed — the
    TTL/re-crawl maintenance op Bloom cannot express. Clears the
    (bucket, fp) pair at BOTH candidate sites of each victim (the row
    lives at one of them; see the module doc for the shared-pair
    caveat). One anti-join on the table's own (bucket, fp) layout."""
    fp, b1, b2 = cuckoo_cols(F.col(key_col), m_buckets, fp_bits, portable)
    victim_pairs = victims.select(
        fp.alias("fp"), F.explode(F.array(b1, b2)).alias("bucket")
    ).distinct()
    return table.join(victim_pairs, ["bucket", "fp"], "left_anti")
