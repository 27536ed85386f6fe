"""URL-seen Bloom filter: correctness + false-positive safety."""

import pyspark.sql.functions as F

from go_crawler_spark.operators import seen as seen_ops

BUCKETS = 8


def _urls(spark, ids):
    return spark.createDataFrame([(i, f"http://h.test/p/{i}") for i in ids],
                                 "url_hash long, url string")


def test_bloom_no_false_negatives(spark):
    """Every inserted key must probe positive (zero false negatives)."""
    inserted = _urls(spark, range(500))
    bloom = seen_ops.empty_bloom(spark, BUCKETS, capacity_per_bucket=100)
    bloom = seen_ops.update_bloom(bloom, inserted, BUCKETS)
    probed = seen_ops.bloom_probe(inserted, bloom, BUCKETS)
    assert probed.where(~F.col("bloom_maybe")).count() == 0


def test_filter_unseen_exact_semantics(spark):
    """filter_unseen with Bloom == plain LEFT ANTI join, always: the same
    candidate ROWS, payload columns and duplicate keys included (the
    Bloom path probes keys only and recovers rows by a semi-join)."""
    seen = _urls(spark, range(0, 300))
    candidates = _urls(spark, list(range(200, 500)) * 2).repartition(BUCKETS, "url_hash")
    bloom = seen_ops.empty_bloom(spark, BUCKETS, capacity_per_bucket=100)
    bloom = seen_ops.update_bloom(bloom, seen, BUCKETS)

    with_bloom = sorted(
        seen_ops.filter_unseen(candidates, seen, bloom, BUCKETS).collect()
    )
    without = sorted(seen_ops.filter_unseen(candidates, seen, None).collect())
    want = sorted(_urls(spark, list(range(300, 500)) * 2).collect())
    assert with_bloom == without == want


def test_bloom_undersized_still_safe(spark):
    """A saturated Bloom (capacity 10, 500 inserts) must degrade to the
    exact join — never drop a truly-new URL."""
    seen = _urls(spark, range(500))
    candidates = _urls(spark, range(400, 700))
    bloom = seen_ops.empty_bloom(spark, BUCKETS, capacity_per_bucket=10)
    bloom = seen_ops.update_bloom(bloom, seen, BUCKETS)
    got = {
        r.url_hash
        for r in seen_ops.filter_unseen(candidates, seen, bloom, BUCKETS).collect()
    }
    assert got == set(range(500, 700))


def test_bloom_incremental_update(spark):
    bloom = seen_ops.empty_bloom(spark, BUCKETS, capacity_per_bucket=100)
    bloom = seen_ops.update_bloom(bloom, _urls(spark, range(10)), BUCKETS)
    bloom = seen_ops.update_bloom(bloom, _urls(spark, range(10, 20)), BUCKETS)
    probed = seen_ops.bloom_probe(_urls(spark, range(20)), bloom, BUCKETS)
    assert probed.where(~F.col("bloom_maybe")).count() == 0
    assert bloom.count() == BUCKETS
