"""Snapshot-versioned parquet tables with MERGE semantics ("lakehouse-lite").

The production design for this engine is Iceberg: every persistent table
(frontier, url_seen, edges, documents) is an Iceberg table bucketed by
``url_hash``, mutated with ``MERGE INTO``, and the crawl checkpoints are
Iceberg snapshot ids.  This sandbox has no Iceberg runtime jar, so this
module provides the same contract on plain parquet:

* a table = a directory of immutable snapshot data dirs + a JSON manifest
  naming the data dirs that compose each snapshot (appends reuse parent
  dirs — O(delta) like Iceberg fast-append);
* writers produce a fully-written snapshot dir first, then atomically
  swap the manifest (rename) — a killed job never corrupts a table;
* readers pin a snapshot id — time travel — which is what crawl
  checkpoint/resume uses (see ``crawl.py``).

Replaces the reference's CockroachDB tables + migrations
(migrations/01_create_links_table.up.sql, 02_create_edges_table.up.sql)
and its in-memory stores (graph/store/memory/memory.go).

Bucketed specs (``TableSpec.with_buckets``) give the Iceberg
``bucket(N, col)`` layout: the manifest tracks PER-BUCKET data dirs, so
``merge_upsert`` and ``compact_table`` rewrite only the touched buckets
and untouched buckets keep their exact files — the crawl's frontier/
edges/documents state tables run this way, with maintenance cost
O(appended-to buckets) instead of O(table).  Swapping in a real Iceberg
``MERGE INTO`` / ``rewrite_data_files`` stays a one-line change per
call site.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

MANIFEST = "MANIFEST.json"


@dataclass
class TableSpec:
    name: str
    schema: T.StructType
    # Spark partitionBy columns for snapshot data dirs (bucket pruning).
    partition_by: list[str] = field(default_factory=list)
    # Iceberg-style bucket layout: data dirs are partitioned by
    # pmod(bucket_hash_col, num_buckets) and the manifest tracks PER-BUCKET
    # dirs, so merge/compact rewrite only touched buckets (the Iceberg
    # ``bucket(N, col)`` partition transform + rewrite_data_files shape).
    bucket_hash_col: str | None = None
    num_buckets: int = 0

    @property
    def bucketed(self) -> bool:
        return bool(self.bucket_hash_col) and self.num_buckets > 0

    def with_buckets(self, hash_col: str, n: int) -> "TableSpec":
        return TableSpec(self.name, self.schema, list(self.partition_by), hash_col, n)


# Version stamp of the bucket transform written into every bucketed
# manifest; bump whenever bucket_col's row->bucket mapping changes so a
# warehouse written under an older mapping fails loudly instead of
# silently merging/compacting against the wrong bucket dirs.
BUCKET_TRANSFORM = "pmod_murmur3_v2"


def bucket_col(hash_col: str, num_buckets: int) -> F.Column:
    """Iceberg-style bucket transform: pmod(murmur3(col), N).

    ``F.hash`` is the same Murmur3 expression Spark's HashPartitioning
    uses, so when ``num_buckets`` equals the shuffle partition count, a
    DataFrame that is already ``repartition(N, hash_col)``-partitioned is
    bucket-PURE per task — clustered writes (``clustered=True``) then
    need no extra exchange and still produce one file per touched bucket.
    (Iceberg's ``bucket(N, col)`` transform is likewise murmur3-based.)
    """
    return F.pmod(F.hash(F.col(hash_col)), F.lit(num_buckets)).cast("int")


class Lakehouse:
    """A warehouse directory holding snapshot-versioned tables."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), MANIFEST)

    def _read_manifest(self, name: str) -> dict:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return {"current": None, "snapshots": {}}
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, name: str, manifest: dict) -> None:
        d = self._table_dir(name)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(name))  # atomic swap

    @staticmethod
    def _check_buckets(spec: TableSpec, manifest: dict) -> None:
        """The bucket layout is a table property fixed at creation: bucket
        ids baked into existing dir names were computed with THAT count
        and THAT transform, so mixing either would silently mis-prune
        merges/compactions (rows looked up in the wrong bucket dir)."""
        if manifest["current"] is None:
            return
        have = manifest.get("num_buckets")
        if have not in (None, spec.num_buckets):
            raise ValueError(
                f"{spec.name}: table has num_buckets={have}, "
                f"spec says {spec.num_buckets} — bucket count is immutable"
            )
        if spec.bucketed:
            transform = manifest.get("bucket_transform")
            if transform != BUCKET_TRANSFORM and have is not None:
                raise ValueError(
                    f"{spec.name}: table was bucketed with transform "
                    f"{transform!r}, this engine writes {BUCKET_TRANSFORM!r}"
                    " — rewrite the table (overwrite) before bucketed ops"
                )

    def current_snapshot(self, name: str) -> str | None:
        return self._read_manifest(name)["current"]

    def set_current_snapshot(self, name: str, snapshot_id: str) -> None:
        """Roll a table back/forward to a known snapshot (resume path)."""
        m = self._read_manifest(name)
        if snapshot_id not in m["snapshots"]:
            raise KeyError(f"{name}: unknown snapshot {snapshot_id}")
        m["current"] = snapshot_id
        self._write_manifest(name, m)

    # -- read ---------------------------------------------------------------

    def read(
        self,
        spec: TableSpec,
        snapshot_id: str | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Read a snapshot; ``buckets`` prunes a bucketed table to the
        named buckets at the MANIFEST level (no file even listed — the
        Iceberg partition-pruning contract)."""
        m = self._read_manifest(spec.name)
        snap = snapshot_id or m["current"]
        if snap is None:
            return self.spark.createDataFrame([], spec.schema)
        rel_dirs = m["snapshots"][snap]["data_dirs"]
        if buckets is not None:
            self._check_buckets(spec, m)
            want = {f"_bucket={b}" for b in buckets}
            rel_dirs = [d for d in rel_dirs if os.path.basename(d) in want]
        if not rel_dirs:
            return self.spark.createDataFrame([], spec.schema)
        dirs = [os.path.join(self._table_dir(spec.name), d) for d in rel_dirs]
        df = self.spark.read.schema(_read_schema(spec)).parquet(*dirs)
        return df.select(*[f.name for f in spec.schema.fields])

    # -- write --------------------------------------------------------------

    def _new_data_dir(self, name: str, df: DataFrame, spec: TableSpec) -> str:
        data_dir = f"data-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._table_dir(name), data_dir)
        writer = df.write.mode("overwrite")
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        writer.parquet(path)
        return data_dir

    def _new_bucketed_dirs(
        self, name: str, df: DataFrame, spec: TableSpec, clustered: bool = False
    ) -> list[str]:
        """Write a bucketed data dir; returns the PER-BUCKET relative dirs.

        Rows are clustered by bucket before the write (one file per
        touched bucket, not tasks x buckets files) and the manifest gets
        one entry per bucket so later merges/compactions can swap
        individual buckets while untouched buckets keep their exact files.

        ``clustered=True`` asserts the input is ALREADY hash-partitioned
        on ``spec.bucket_hash_col`` with ``num_buckets`` partitions (the
        crawl's per-iteration deltas are), skipping the clustering
        exchange — the dynamic-partition write then emits one file per
        bucket with zero added shuffle.  A mis-declared ``clustered``
        only costs extra files per bucket dir, never correctness.
        """
        data_dir = f"data-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._table_dir(name), data_dir)
        bucketed = df.withColumn(
            "_bucket", bucket_col(spec.bucket_hash_col, spec.num_buckets)
        )
        if not clustered:
            bucketed = bucketed.repartition("_bucket")
        bucketed.write.mode("overwrite").partitionBy("_bucket").parquet(path)
        out = sorted(
            os.path.join(data_dir, d)
            for d in os.listdir(path)
            if d.startswith("_bucket=")
        )
        return out

    def _commit(self, spec: TableSpec, data_dirs: list[str], op: str) -> str:
        m = self._read_manifest(spec.name)
        self._check_buckets(spec, m)
        m["num_buckets"] = spec.num_buckets
        if spec.bucketed:
            m["bucket_transform"] = BUCKET_TRANSFORM
        snap_id = f"snap-{len(m['snapshots']):06d}-{uuid.uuid4().hex[:8]}"
        m["snapshots"][snap_id] = {
            "data_dirs": data_dirs,
            "op": op,
            "parent": m["current"],
            "ts": time.time(),
        }
        m["current"] = snap_id
        self._write_manifest(spec.name, m)
        return snap_id

    def overwrite(self, spec: TableSpec, df: DataFrame, clustered: bool = False) -> str:
        if spec.bucketed:
            dirs = self._new_bucketed_dirs(
                spec.name, _conform(df, spec), spec, clustered
            )
            return self._commit(spec, dirs, "overwrite")
        d = self._new_data_dir(spec.name, _conform(df, spec), spec)
        return self._commit(spec, [d], "overwrite")

    def overwrite_empty(self, spec: TableSpec) -> str:
        """Commit an empty snapshot: no data dir, no Spark job.  ``read``
        returns an empty frame with the spec schema for it, and appends,
        merges, compactions and expiry build on it like on any snapshot."""
        return self._commit(spec, [], "overwrite")

    def append(self, spec: TableSpec, df: DataFrame, clustered: bool = False) -> str:
        """Fast-append: new data dir + parent dirs, no rewrite of old data."""
        snap, _ = self.append_counted(spec, df, clustered)
        return snap

    def append_counted(
        self, spec: TableSpec, df: DataFrame, clustered: bool = False
    ) -> tuple[str, int]:
        """Append and return (snapshot_id, rows_written).

        The row count comes from the written parquet footers (driver-side
        metadata read) — no extra Spark job, the same trick Iceberg's
        snapshot summary uses.
        """
        m = self._read_manifest(spec.name)
        parent_dirs = (
            m["snapshots"][m["current"]]["data_dirs"] if m["current"] else []
        )
        if spec.bucketed:
            new_dirs = self._new_bucketed_dirs(
                spec.name, _conform(df, spec), spec, clustered
            )
            snap = self._commit(spec, parent_dirs + new_dirs, "append")
            n = sum(
                rows_in_dir(os.path.join(self._table_dir(spec.name), d))
                for d in new_dirs
            )
            return snap, n
        d = self._new_data_dir(spec.name, _conform(df, spec), spec)
        snap = self._commit(spec, parent_dirs + [d], "append")
        return snap, rows_in_dir(os.path.join(self._table_dir(spec.name), d))

    def append_tagged(
        self, spec: TableSpec, df: DataFrame, tag_col: str, clustered: bool = False
    ) -> tuple[str, dict[str, int]]:
        """One append JOB writing several logical deltas at once.

        ``df`` carries the spec columns plus ``tag_col``; the write is
        partitioned by the tag, so each tag lands in its own sub-dir of a
        single data dir — one Spark job, one commit, and per-tag row
        counts from the footers (the crawl fuses its two frontier deltas
        — attempt marks + newly discovered URLs — into one job this way).

        Bucketed spec: the write is partitioned by (tag, bucket) and the
        manifest tracks the per-bucket LEAF dirs, so tagged appends
        compose with touched-bucket merges/compactions exactly like plain
        appends.
        """
        m = self._read_manifest(spec.name)
        parent_dirs = (
            m["snapshots"][m["current"]]["data_dirs"] if m["current"] else []
        )
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in spec.schema.fields]
        out = df.select(*cols, F.col(tag_col))
        data_dir = f"data-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._table_dir(spec.name), data_dir)
        if spec.bucketed:
            out = out.withColumn(
                "_bucket", bucket_col(spec.bucket_hash_col, spec.num_buckets)
            )
            if not clustered:
                out = out.repartition("_bucket")
            out.write.mode("overwrite").partitionBy(tag_col, "_bucket").parquet(path)
        else:
            out.write.mode("overwrite").partitionBy(tag_col).parquet(path)
        tag_dirs = sorted(
            d for d in os.listdir(path) if d.startswith(f"{tag_col}=")
        )
        counts = {
            d.split("=", 1)[1]: rows_in_dir(os.path.join(path, d)) for d in tag_dirs
        }
        if spec.bucketed:
            new_dirs = sorted(
                os.path.join(data_dir, td, bd)
                for td in tag_dirs
                for bd in os.listdir(os.path.join(path, td))
                if bd.startswith("_bucket=")
            )
        else:
            new_dirs = [os.path.join(data_dir, d) for d in tag_dirs]
        snap = self._commit(spec, parent_dirs + new_dirs, "append")
        return snap, counts

    def merge_upsert(
        self,
        spec: TableSpec,
        updates: DataFrame,
        key_cols: list[str],
        *,
        greatest_cols: list[str] | None = None,
        preserve_cols: list[str] | None = None,
    ) -> str:
        """MERGE INTO semantics: upsert by key.

        * ``greatest_cols``: on match keep ``greatest(old, new)`` — the
          reference's ``GREATEST(links.retrieved_at, $2)`` upsert
          (graph/store/cdb/cdb.go:14-18).
        * ``preserve_cols``: on match keep the OLD value when the update's
          is null — the reference's ES upsert preserving PageRank on
          reindex (indexer/store/es/es.go:128-154).
        Everything else: new value wins; unmatched update rows insert.

        Unbucketed: full outer-join rewrite.  Bucketed spec: only the
        buckets the update delta touches are read, merged, and rewritten —
        untouched buckets keep their exact files (Iceberg ``MERGE INTO``
        on a bucket-partitioned table).
        """
        upd = _conform(updates, spec).dropDuplicates(key_cols)
        touched: list[int] | None = None
        if spec.bucketed:
            touched = sorted(
                r[0]
                for r in upd.select(
                    bucket_col(spec.bucket_hash_col, spec.num_buckets).alias("b")
                )
                .distinct()
                .collect()
            )
            old = self.read(spec, buckets=touched)
        else:
            old = self.read(spec)
        o, u = old.alias("o"), upd.alias("u")
        cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"u.{k}")) for k in key_cols]
        joined = o.join(u, cond, "full_outer")
        greatest_cols = greatest_cols or []
        preserve_cols = preserve_cols or []
        matched = F.col(f"u.{key_cols[0]}").isNotNull()
        cols = []
        for fld in spec.schema.fields:
            c = fld.name
            if c in key_cols:
                expr = F.coalesce(F.col(f"u.{c}"), F.col(f"o.{c}"))
            elif c in greatest_cols:
                expr = F.when(
                    matched, F.greatest(F.col(f"o.{c}"), F.col(f"u.{c}"))
                ).otherwise(F.coalesce(F.col(f"u.{c}"), F.col(f"o.{c}")))
            elif c in preserve_cols:
                expr = F.when(
                    matched, F.coalesce(F.col(f"u.{c}"), F.col(f"o.{c}"))
                ).otherwise(F.coalesce(F.col(f"u.{c}"), F.col(f"o.{c}")))
            else:
                expr = F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"o.{c}"))
            cols.append(expr.alias(c))
        merged = joined.select(*cols)
        if spec.bucketed:
            m = self._read_manifest(spec.name)
            cur_dirs = (
                m["snapshots"][m["current"]]["data_dirs"] if m["current"] else []
            )
            want = {f"_bucket={b}" for b in (touched or [])}
            keep = [d for d in cur_dirs if os.path.basename(d) not in want]
            new_dirs = self._new_bucketed_dirs(spec.name, _conform(merged, spec), spec)
            return self._commit(spec, keep + new_dirs, "merge")
        return self.overwrite(spec, merged)

    def compact_table(self, spec: TableSpec, reconcile=None, clustered: bool = False) -> str:
        """MoR maintenance (Iceberg ``rewrite_data_files``).

        Bucketed spec: ONLY buckets whose data spans more than one data
        dir are reconciled and rewritten; a single-dir bucket has no read
        amplification and its files are reused byte-identical.  Cost is
        O(appended-to buckets), sublinear in table size.  ``reconcile``
        (DataFrame -> DataFrame) must be key-local per bucket hash —
        true for every per-key reconcile in this engine.
        """
        if not spec.bucketed:
            df = self.read(spec)
            if reconcile is not None:
                df = reconcile(df)
            return self.overwrite(spec, df)
        m = self._read_manifest(spec.name)
        if m["current"] is None:
            return self.overwrite_empty(spec)
        dirs = m["snapshots"][m["current"]]["data_dirs"]
        from collections import Counter

        per_bucket = Counter(os.path.basename(d) for d in dirs)
        touched = sorted(
            int(b.split("=", 1)[1]) for b, c in per_bucket.items() if c > 1
        )
        if not touched:
            return m["current"]  # every bucket already single-dir
        df = self.read(spec, buckets=touched)
        if reconcile is not None:
            df = reconcile(df)
        new_dirs = self._new_bucketed_dirs(spec.name, _conform(df, spec), spec, clustered)
        want = {f"_bucket={b}" for b in touched}
        keep = [d for d in dirs if os.path.basename(d) not in want]
        return self._commit(spec, keep + new_dirs, "compact")

    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 16,
        keep_ids: tuple[str, ...] = (),
    ) -> dict:
        """Iceberg ``expire_snapshots`` + orphan-file vacuum.

        Time-travel history is what makes MoR maintenance safe, but
        un-expired snapshots pin every data file ever written — at a
        10^10-row frontier the table's storage grows without bound.
        This retains the current snapshot, the ``keep_last`` most recent
        commits, and any ``keep_ids`` (e.g. snapshot ids referenced by a
        resume checkpoint); everything older is dropped from the manifest
        and data dirs referenced by NO retained snapshot are deleted.
        Pure manifest arithmetic + local fs ops — no Spark job.
        """
        m = self._read_manifest(name)
        if m["current"] is None:
            return {"expired": [], "deleted_dirs": []}
        order = list(m["snapshots"])  # insertion order == commit order
        keep = set(order[-keep_last:]) | set(keep_ids) | {m["current"]}
        expired = [s for s in order if s not in keep]
        if not expired:
            return {"expired": [], "deleted_dirs": []}
        live_dirs: set[str] = set()
        for s in keep:
            live_dirs.update(m["snapshots"][s]["data_dirs"])
        dead_dirs: set[str] = set()
        for s in expired:
            dead_dirs.update(m["snapshots"][s]["data_dirs"])
        dead_dirs -= live_dirs
        tdir = self._table_dir(name)
        for d in sorted(dead_dirs):
            shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        # prune now-empty parent chains (a data-* root may hold only
        # _SUCCESS-style marker files once its leaf bucket dirs are gone)
        for d in sorted(dead_dirs):
            parent = os.path.dirname(d)
            while parent:
                p = os.path.join(tdir, parent)
                if not os.path.isdir(p):
                    break
                entries = os.listdir(p)
                if all(
                    e.startswith("_") and os.path.isfile(os.path.join(p, e))
                    for e in entries
                ):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    break
                parent = os.path.dirname(parent)
        expired_set = set(expired)
        for s in expired:
            del m["snapshots"][s]
        for snap in m["snapshots"].values():
            if snap.get("parent") in expired_set:
                snap["parent"] = None  # history truncated here
        self._write_manifest(name, m)
        return {"expired": expired, "deleted_dirs": sorted(dead_dirs)}

    def delete_where(self, spec: TableSpec, condition: F.Column) -> str:
        """Anti-delete rewrite (RemoveStaleEdges, graph/graph.go:43)."""
        return self.overwrite(spec, self.read(spec).where(~condition))

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)


def rows_in_dir(path: str) -> int:
    """Row count from parquet footers (no Spark job).

    Files are enumerated explicitly (recursive glob) rather than via
    pyarrow's directory discovery: discovery skips anything under a
    ``_``-prefixed name (default ``ignore_prefixes``), which would make
    bucketed layouts — ``_bucket=N`` subdirs — silently count as 0.
    """
    import glob as _glob

    import pyarrow.dataset as pads

    files = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    try:
        return pads.dataset(files, format="parquet").count_rows()
    except Exception as exc:
        # Never return a sentinel: a footer we just wrote failing to read
        # is corruption, and a -1 leaking into crawl metrics would make
        # the drain condition (selected==0) unreachable.
        raise RuntimeError(f"unreadable parquet footers under {path}") from exc


def _read_schema(spec: TableSpec) -> T.StructType:
    """Schema for reading data dirs: partition columns come from paths but
    we wrote them as data columns too via partitionBy; Spark reconstructs
    them — reading with the full schema works for both layouts."""
    return spec.schema


def _conform(df: DataFrame, spec: TableSpec) -> DataFrame:
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in spec.schema.fields]
    )
