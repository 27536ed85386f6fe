"""URL-seen set: exact anti-join, plus a partitioned Bloom filter.

Replaces the reference's URL dedup — a CockroachDB UNIQUE constraint probed
row-at-a-time per upsert (graph/store/cdb/cdb.go:14-18) / an in-memory hash
index (graph/store/memory/memory.go:20,38) — with the design that survives a
10^10-URL frontier:

1. the exact membership set is the ``url_seen`` table keyed by
   ``url_hash`` (xxhash64 of the canonical URL);
2. novelty is ONE ``LEFT ANTI`` join of the candidates against the seen
   keys — no Python stage at all.  The crawl uses only this path (see
   :func:`filter_unseen` for the measurements);
3. a **bucket-sharded Bloom filter** (one bitset per ``pmod(url_hash, B)``
   bucket) summarizes the seen set; the crawl rewrites it at compaction.
   Given one, :func:`filter_unseen` pre-filters candidates co-partitioned
   with their shard via a cogrouped applyInPandas — no bitset is ever
   replicated per row and no shard ever exceeds one task's memory — and
   Bloom "maybe" rows — and only those — go through the exact
   ``LEFT ANTI`` join against ``url_seen``.  Bloom negatives are
   *definitively* new (no false negatives).

False-positive safety: a Bloom false positive only routes a genuinely-new
URL into the exact anti-join, where it survives.  No URL is ever dropped
by the probabilistic structure alone (tested in tests/test_seen.py).

The filter is maintained incrementally: :func:`update_bloom` ORs new URLs
into the touched shards only (O(new) not O(seen)).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("k_hashes", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)

_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= _MIX1
    x ^= x >> np.uint64(27)
    x *= _MIX2
    x ^= x >> np.uint64(31)
    return x


def _bit_positions(hashes: np.ndarray, k: int, m: int) -> np.ndarray:
    """k x n matrix of bit indices via double hashing (h1 + i*h2 mod m)."""
    h = hashes.astype(np.uint64)
    h1 = _mix64(h)
    h2 = _mix64(h ^ np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m)).astype(np.int64)


def bloom_params(capacity_per_bucket: int, fpp: float) -> tuple[int, int]:
    n = max(capacity_per_bucket, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)  # byte-align
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _set_bits(bits: bytearray, positions: np.ndarray) -> None:
    flat = positions.ravel()
    np_bits = np.frombuffer(bytes(bits), dtype=np.uint8).copy()
    np.bitwise_or.at(np_bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
    bits[:] = np_bits.tobytes()


def _test_bits(bits: bytes, positions: np.ndarray) -> np.ndarray:
    """positions: k x n -> n bools (all k bits set)."""
    np_bits = np.frombuffer(bits, dtype=np.uint8)
    hit = (np_bits[positions >> 3] & (1 << (positions & 7)).astype(np.uint8)) != 0
    return hit.all(axis=0)


def with_bucket(df: DataFrame, num_buckets: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.col(hash_col), F.lit(num_buckets)).cast("int")
    )


def empty_bloom(spark, num_buckets: int, capacity_per_bucket: int, fpp: float = 0.01) -> DataFrame:
    m, k = bloom_params(capacity_per_bucket, fpp)
    rows = [(b, m, k, bytes(m // 8)) for b in range(num_buckets)]
    return spark.createDataFrame(rows, BLOOM_SCHEMA)


def update_bloom(bloom: DataFrame, new_urls: DataFrame, num_buckets: int) -> DataFrame:
    """OR the new url_hashes into their shards (cogrouped, O(new))."""
    adds = with_bucket(new_urls.select("url_hash"), num_buckets)

    def merge(key, bloom_pdf: pd.DataFrame, adds_pdf: pd.DataFrame) -> pd.DataFrame:
        if bloom_pdf.empty:
            if adds_pdf.empty:
                return bloom_pdf
            # A missing shard with pending adds means the table has fewer
            # shards than num_buckets (mis-sharded resume / partial read);
            # dropping the adds silently would quietly degrade the filter.
            raise ValueError(
                f"bloom shard missing for bucket {key[0]} "
                f"(num_buckets={num_buckets}) — bloom table is mis-sharded"
            )
        row = bloom_pdf.iloc[0]
        if adds_pdf.empty:
            return bloom_pdf[["bucket", "m_bits", "k_hashes", "bits"]]
        m, k = int(row.m_bits), int(row.k_hashes)
        bits = bytearray(row.bits)
        pos = _bit_positions(adds_pdf.url_hash.to_numpy(np.int64), k, m)
        _set_bits(bits, pos)
        return pd.DataFrame(
            [{"bucket": int(row.bucket), "m_bits": m, "k_hashes": k, "bits": bytes(bits)}]
        )

    return (
        bloom.groupBy("bucket")
        .cogroup(adds.groupBy("bucket"))
        .applyInPandas(merge, BLOOM_SCHEMA)
    )


def bloom_probe(candidates: DataFrame, bloom: DataFrame, num_buckets: int) -> DataFrame:
    """Adds ``bloom_maybe`` (bool) to candidates; False => definitely new."""
    cand = with_bucket(candidates, num_buckets)
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("bloom_maybe", T.BooleanType(), False)]
    )

    def probe(key, cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        if bloom_pdf.empty:  # no shard -> nothing seen in this bucket
            cand_pdf = cand_pdf.copy()
            cand_pdf["bloom_maybe"] = False
            return cand_pdf
        row = bloom_pdf.iloc[0]
        pos = _bit_positions(
            cand_pdf.url_hash.to_numpy(np.int64), int(row.k_hashes), int(row.m_bits)
        )
        cand_pdf = cand_pdf.copy()
        cand_pdf["bloom_maybe"] = _test_bits(bytes(row.bits), pos)
        return cand_pdf

    return (
        cand.groupBy("bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def filter_unseen(
    candidates: DataFrame,
    url_seen: DataFrame,
    bloom: DataFrame | None = None,
    num_buckets: int = 64,
) -> DataFrame:
    """J1 novelty: candidates not present in url_seen (key: url_hash).

    Without a Bloom filter (the crawl's path): one LEFT ANTI join of the
    candidates against the seen keys.  When ``candidates`` is
    hash-partitioned on url_hash (the crawl's candidate aggregation is),
    only the seen keys are exchanged.

    With a Bloom filter the probe runs on KEYS ONLY: every byte through
    the Bloom cogroup shuffle, the Arrow round-trip of the pandas probe
    and the exact anti-join backstop is 8-byte hashes, never candidate
    payload columns.  Definite-new keys bypass the exact join; only
    Bloom-maybe keys are anti-joined (false-positive-safe backstop).  A
    semi-join against the candidates then recovers the payload rows,
    exchange-free on the fat side.  Duplicate candidate keys are safe on
    both paths: every row whose key is unseen is kept.

    The Bloom path still anti-joins its maybe keys against the whole seen
    set, and adds two cogrouped applyInPandas stages per iteration (probe,
    then :func:`update_bloom`) with their Arrow round-trips.  Measured at
    local[4] on a 4-core VM, four shuffle partitions, 64 shards of
    100,000-key capacity, 10,000 url_hash-partitioned candidates (half
    seen) against a checkpointed seen set with url strings, median of 3
    warm runs, seconds:

        seen keys   exact anti-join   Bloom probe   Bloom update
           10,000              0.29          1.60           0.75
          100,000              0.24          1.20           0.57
        1,000,000              0.36          1.32           0.50
        4,000,000              1.04          1.95           0.54

    The exact join won at every size, so the crawl never probes.
    """
    # SHUFFLE_HASH on the seen side: the membership table grows to the
    # full URL-seen set (10^10 at the north scale) — broadcasting it would
    # collect it through the driver every iteration.  A shuffle-hash anti
    # join partitions both sides on url_hash and scales with the cluster.
    seen = url_seen.select("url_hash").hint("SHUFFLE_HASH")
    if bloom is None:
        return candidates.join(seen, "url_hash", "left_anti")
    probed = bloom_probe(candidates.select("url_hash"), bloom, num_buckets)
    definite_new = probed.where(~F.col("bloom_maybe")).drop("bloom_maybe", "bucket")
    maybe = probed.where(F.col("bloom_maybe")).drop("bloom_maybe", "bucket")
    fresh = definite_new.unionByName(maybe.join(seen, "url_hash", "left_anti"))
    return candidates.join(fresh.hint("SHUFFLE_HASH"), "url_hash", "left_semi")
