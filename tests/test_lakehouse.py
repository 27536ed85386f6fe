"""Snapshot table semantics: append, merge, time-travel, atomicity."""

from datetime import datetime, timezone

import pyspark.sql.functions as F

from go_crawler_spark import tables
from go_crawler_spark.lakehouse import Lakehouse

T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
T1 = datetime(2025, 1, 2, tzinfo=timezone.utc)
T2 = datetime(2025, 1, 3, tzinfo=timezone.utc)


def _seen(spark, rows):
    return spark.createDataFrame(rows, tables.URL_SEEN.schema)


def test_overwrite_read_empty(spark, tmp_warehouse):
    lake = Lakehouse(spark, tmp_warehouse)
    assert lake.read(tables.URL_SEEN).count() == 0
    lake.overwrite(tables.URL_SEEN, _seen(spark, [(1, "http://a", T0)]))
    assert lake.read(tables.URL_SEEN).count() == 1


def test_append_is_incremental(spark, tmp_warehouse):
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(tables.URL_SEEN, _seen(spark, [(1, "http://a", T0)]))
    lake.append(tables.URL_SEEN, _seen(spark, [(2, "http://b", T1)]))
    got = {r.url_hash for r in lake.read(tables.URL_SEEN).collect()}
    assert got == {1, 2}


def test_merge_greatest_timestamp_wins(spark, tmp_warehouse):
    """Reference J1: ON CONFLICT keep GREATEST(retrieved_at) (cdb.go:14-18)."""
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(tables.URL_SEEN, _seen(spark, [(1, "http://a", T1)]))
    # older update must NOT regress the timestamp
    lake.merge_upsert(
        tables.URL_SEEN, _seen(spark, [(1, "http://a", T0), (2, "http://b", T0)]),
        ["url_hash"], greatest_cols=["retrieved_at"],
    )
    got = {r.url_hash: r.retrieved_at for r in lake.read(tables.URL_SEEN).collect()}
    assert got[1].replace(tzinfo=timezone.utc) == T1  # kept newer
    assert got[2].replace(tzinfo=timezone.utc) == T0  # inserted


def test_merge_preserve_on_null(spark, tmp_warehouse):
    """Reference J4/S7: ES upsert preserves PageRank on re-index (es.go:128-154)."""
    lake = Lakehouse(spark, tmp_warehouse)
    docs = spark.createDataFrame(
        [(1, "http://a", "t1", "x1", T0, 0.5)], tables.DOCUMENTS.schema
    )
    lake.overwrite(tables.DOCUMENTS, docs)
    update = spark.createDataFrame(
        [(1, "http://a", "t2", "x2", T1, None)], tables.DOCUMENTS.schema
    )
    lake.merge_upsert(tables.DOCUMENTS, update, ["url_hash"], preserve_cols=["pagerank"])
    row = lake.read(tables.DOCUMENTS).collect()[0]
    assert row.title == "t2" and row.text == "x2"
    assert row.pagerank == 0.5  # preserved across reindex


def test_time_travel_and_rollback(spark, tmp_warehouse):
    lake = Lakehouse(spark, tmp_warehouse)
    s1 = lake.overwrite(tables.URL_SEEN, _seen(spark, [(1, "http://a", T0)]))
    s2 = lake.append(tables.URL_SEEN, _seen(spark, [(2, "http://b", T1)]))
    assert lake.read(tables.URL_SEEN, snapshot_id=s1).count() == 1
    assert lake.read(tables.URL_SEEN, snapshot_id=s2).count() == 2
    lake.set_current_snapshot("url_seen", s1)  # resume pins old snapshot
    assert lake.read(tables.URL_SEEN).count() == 1


def test_delete_where(spark, tmp_warehouse):
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(
        tables.URL_SEEN, _seen(spark, [(1, "http://a", T0), (2, "http://b", T2)])
    )
    lake.delete_where(tables.URL_SEEN, F.col("retrieved_at") < F.lit(T1))
    got = [r.url_hash for r in lake.read(tables.URL_SEEN).collect()]
    assert got == [2]


# -- bucket-partitioned tables: touched-bucket-only rewrites -----------------


def _bucketed_spec(n=8):
    return tables.URL_SEEN.with_buckets("url_hash", n)


def _bucket_of(spark, keys, n=8):
    """Buckets the given url_hash keys land in, via the engine's own
    bucket transform (murmur3-based, aligned with HashPartitioning)."""
    from go_crawler_spark.lakehouse import bucket_col

    df = spark.createDataFrame([(k,) for k in keys], "url_hash long")
    return {r.b for r in df.select(bucket_col("url_hash", n).alias("b")).collect()}


def _dirs_of(lake, spec):
    m = lake._read_manifest(spec.name)
    return list(m["snapshots"][m["current"]]["data_dirs"])


def _bucket_files(lake, spec):
    """{bucket_dir_rel: {file: (size, mtime_ns)}} for the current snapshot."""
    import os

    out = {}
    for d in _dirs_of(lake, spec):
        full = os.path.join(lake._table_dir(spec.name), d)
        out[d] = {
            f: (os.path.getsize(os.path.join(full, f)),
                os.stat(os.path.join(full, f)).st_mtime_ns)
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_bucketed_merge_touches_only_update_buckets(spark, tmp_warehouse):
    spec = _bucketed_spec(8)
    lake = Lakehouse(spark, tmp_warehouse)
    base = [(i, f"http://h/{i}", T0) for i in range(32)]
    lake.overwrite(spec, _seen(spark, base))
    before = _bucket_files(lake, spec)
    assert len(before) == 8  # one manifest entry per bucket

    # update touches exactly the buckets keys {3, 11} hash into
    want = {f"_bucket={b}" for b in _bucket_of(spark, [3, 11], 8)}
    lake.merge_upsert(
        spec, _seen(spark, [(3, "http://h/3", T2), (11, "http://h/11", T2)]),
        ["url_hash"], greatest_cols=["retrieved_at"],
    )
    after = _bucket_files(lake, spec)
    changed = {d for d in after if after[d] != before.get(d)}
    assert changed and all(d.rsplit("/", 1)[-1] in want for d in changed)
    # untouched buckets: identical files (same path, size, mtime)
    for d in before:
        if d.rsplit("/", 1)[-1] not in want:
            assert after[d] == before[d]
    got = {
        r.url_hash: r.retrieved_at.replace(tzinfo=timezone.utc)
        for r in lake.read(spec).collect()
    }
    assert len(got) == 32 and got[3] == T2 and got[11] == T2 and got[4] == T0


def test_bucketed_compact_reuses_untouched_buckets(spark, tmp_warehouse):
    spec = _bucketed_spec(8)
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(spec, _seen(spark, [(i, f"http://h/{i}", T0) for i in range(32)]))
    # appends land only in the buckets keys {9, 10} hash into
    touched = {f"_bucket={b}" for b in _bucket_of(spark, [9, 10], 8)}
    lake.append(spec, _seen(spark, [(9, "http://h/9b", T1), (10, "http://h/10b", T1)]))
    before = _bucket_files(lake, spec)

    def reconcile(df):
        return df.groupBy("url_hash").agg(
            F.max("url").alias("url"), F.max("retrieved_at").alias("retrieved_at")
        ).select("url_hash", "url", "retrieved_at")

    lake.compact_table(spec, reconcile)
    after = _bucket_files(lake, spec)
    # touched buckets consolidated to one dir each; others keep SAME files
    for d, files in before.items():
        if d.rsplit("/", 1)[-1] in touched:
            continue
        assert after[d] == files, f"untouched bucket rewritten: {d}"
    for t in touched:
        assert sum(1 for d in after if d.rsplit("/", 1)[-1] == t) == 1
    rows = {r.url_hash: r.url for r in lake.read(spec).collect()}
    assert rows[9] == "http://h/9b" and rows[10] == "http://h/10b"
    assert len(rows) == 32

    # idempotent: a second compact with nothing to do commits nothing new
    snap = lake.current_snapshot(spec.name)
    assert lake.compact_table(spec, reconcile) == snap


def test_bucketed_read_prunes_to_buckets(spark, tmp_warehouse):
    spec = _bucketed_spec(8)
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(spec, _seen(spark, [(i, f"http://h/{i}", T0) for i in range(32)]))
    from go_crawler_spark.lakehouse import bucket_col

    expected = {
        r.url_hash
        for r in spark.createDataFrame([(i,) for i in range(32)], "url_hash long")
        .where(bucket_col("url_hash", 8) == 5)
        .collect()
    }
    only = lake.read(spec, buckets=[5])
    got = {r.url_hash for r in only.collect()}
    assert got == expected and expected
    # pruning happens at the manifest level: the plan reads 1 dir not 8
    assert "_bucket=5" in only.inputFiles()[0]
    assert len({f.rsplit("/", 2)[1] for f in only.inputFiles()}) == 1


def test_expire_snapshots_vacuums_unreferenced_dirs(spark, tmp_warehouse):
    """Iceberg expire_snapshots semantics: old snapshots leave the
    manifest, data dirs referenced only by them are deleted from disk,
    and every retained snapshot (incl. time travel) still reads."""
    import os

    lake = Lakehouse(spark, tmp_warehouse)
    snaps = [lake.overwrite(tables.URL_SEEN, _seen(spark, [(0, "http://h/0", T0)]))]
    for i in range(1, 6):
        snaps.append(
            lake.append(tables.URL_SEEN, _seen(spark, [(i, f"http://h/{i}", T0)]))
        )
    tdir = lake._table_dir(tables.URL_SEEN.name)
    dirs_before = {d for d in os.listdir(tdir) if d.startswith("data-")}
    assert len(dirs_before) == 6

    out = lake.expire_snapshots(tables.URL_SEEN.name, keep_last=2)
    assert out["expired"] == snaps[:-2]
    m = lake._read_manifest(tables.URL_SEEN.name)
    assert set(m["snapshots"]) == set(snaps[-2:])
    # the two retained snapshots share the first 4 appends' dirs: those
    # stay; nothing the retained set references was deleted
    assert lake.read(tables.URL_SEEN).count() == 6
    assert lake.read(tables.URL_SEEN, snapshot_id=snaps[-2]).count() == 5
    # expired snapshot ids are really gone
    try:
        lake.read(tables.URL_SEEN, snapshot_id=snaps[0])
        raise AssertionError("expired snapshot still readable")
    except KeyError:
        pass


def test_expire_snapshots_deletes_replaced_bucket_dirs(spark, tmp_warehouse):
    """After compaction + expiry, the pre-compaction dirs of TOUCHED
    buckets are vacuumed while shared untouched-bucket dirs survive."""
    import os

    spec = _bucketed_spec(8)
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(spec, _seen(spark, [(i, f"http://h/{i}", T0) for i in range(32)]))
    lake.append(spec, _seen(spark, [(9, "http://h/9b", T1)]))

    def reconcile(df):
        from pyspark.sql import Window

        w = Window.partitionBy("url_hash").orderBy(F.desc("retrieved_at"))
        return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")

    lake.compact_table(spec, reconcile)
    pre = set(lake._read_manifest(spec.name)["snapshots"])
    lake.expire_snapshots(spec.name, keep_last=1)
    m = lake._read_manifest(spec.name)
    assert len(m["snapshots"]) == 1 and m["current"] in pre
    live = set(m["snapshots"][m["current"]]["data_dirs"])
    tdir = lake._table_dir(spec.name)
    on_disk = set()
    for root, _, files in os.walk(tdir):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(root, tdir))
    # every parquet left on disk is referenced by the retained snapshot
    assert on_disk == live
    rows = {r.url_hash: r.url for r in lake.read(spec).collect()}
    assert rows[9] == "http://h/9b" and len(rows) == 32


def test_legacy_bucket_transform_rejected(spark, tmp_warehouse):
    """A bucketed manifest written under a different (or unstamped)
    bucket transform must be rejected, not silently merged against the
    wrong bucket dirs (review r3 finding)."""
    import json

    import pytest

    spec = _bucketed_spec(8)
    lake = Lakehouse(spark, tmp_warehouse)
    lake.overwrite(spec, _seen(spark, [(i, f"http://h/{i}", T0) for i in range(8)]))
    p = lake._manifest_path(spec.name)
    m = json.load(open(p))
    del m["bucket_transform"]  # simulate a pre-v2 warehouse
    json.dump(m, open(p, "w"))
    with pytest.raises(ValueError, match="transform"):
        lake.append(spec, _seen(spark, [(9, "http://h/9", T1)]))
    with pytest.raises(ValueError, match="transform"):
        lake.read(spec, buckets=[1])


def test_ops_build_on_empty_snapshot(spark, tmp_warehouse):
    """An empty snapshot commits no data dir and runs no Spark job, yet
    appends, merges, compactions and expiry build on it like on any
    snapshot (the crawl seeds its edges/documents tables this way)."""
    import os

    spec = _bucketed_spec(8)
    lake = Lakehouse(spark, tmp_warehouse)
    rows = [(i, f"http://h/{i}", T0) for i in range(20)]

    empty = lake.overwrite_empty(spec)
    assert _dirs_of(lake, spec) == []
    assert lake.read(spec).count() == 0
    assert lake.compact_table(spec) == empty  # nothing to rewrite

    _, n = lake.append_counted(spec, _seen(spark, rows))
    assert n == 20
    assert {r.url_hash for r in lake.read(spec).collect()} == set(range(20))

    lake.overwrite_empty(spec)
    lake.merge_upsert(
        spec, _seen(spark, rows[:5]), ["url_hash"], greatest_cols=["retrieved_at"]
    )
    assert {r.url_hash for r in lake.read(spec).collect()} == set(range(5))

    lake.overwrite_empty(spec)
    out = lake.expire_snapshots(spec.name, keep_last=1)
    assert out["expired"] and lake.read(spec).count() == 0
    # the retained empty snapshot references no data dir: no bucket dir
    # of the expired snapshots survives
    assert not [
        d for d, _, _ in os.walk(lake._table_dir(spec.name))
        if os.path.basename(d).startswith("_bucket=")
    ]
