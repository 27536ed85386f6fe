"""The crawl driver: iterative BFS over snapshot tables, checkpoint/resume.

One iteration == one reference "crawl pass" (service/crawler/crawler.go:
131-183), re-expressed as a declarative DataFrame plan:

    read frontier -> due filter (F9) -> politeness top-k per host (salted)
    -> robots filter -> prefetch guards (F1/F2) -> fetch join vs pages
    (F3/F4) -> pandas-UDF extract (X1-X5, F5-F8) -> explode links
    -> novelty (J1) -> MERGE frontier / edges (J2, U2)
    -> MERGE documents (S7) -> checkpoint iteration

Novelty is one exact anti-join of the candidates against the hot
frontier's keys: no Bloom is probed or updated inside the loop (the
Bloom path measured slower at every seen-set size tried, see
``seen.filter_unseen``).  Compaction writes the durable Bloom URL-seen
table, built from the frontier keys it holds at that point.

The "broadcast to two sinks" stage of the reference (pipeline/runners/
broadcast.go, graph-updater ∥ text-indexer) becomes checkpoint-once,
write-concurrently: one eager localCheckpoint of the extracted batch,
then the three sinks (documents, tagged frontier delta, edges) run as
concurrent Spark jobs over its blocks.  Every intra-iteration DataFrame
is a flat checkpointed plan, so per-iteration driver cost (Catalyst
analysis, broadcast builds) stays O(1) as the crawl state grows — the
property the N->4N scaling rule measures.

State tables use **merge-on-read**: every iteration only APPENDS its
delta (selected-row attempt marks, newly discovered URLs, new edges, new
document versions) — O(changes), never O(table) — and readers reconcile
per key (greatest-timestamp per url_hash; latest-crawl edge set per src;
latest document version).  Every ``compact_interval`` iterations the
tables are compacted to bound read amplification — and because all three
state tables are BUCKETED on their hash key (Iceberg ``bucket(N)``
layout), compaction reconciles and rewrites only the buckets that
accumulated delta dirs; never-appended-to buckets keep their exact
files.  With ``num_buckets`` equal to the shuffle partition count (the
default) every delta write is also CLUSTERED: bucket id == Spark
hash-partition id, so the dynamic-partition write emits one file per
bucket with no extra exchange.  This is exactly Iceberg's MoR +
maintenance-compaction pattern; with an Iceberg catalog the appends
become fast-appends and compaction becomes ``rewrite_data_files``.

Checkpoint/resume: after every iteration a record with the snapshot id of
every table plus metrics is appended to ``crawl_state.jsonl``.  A killed
job restarts with ``resume=True``: the driver pins all tables back to the
last *complete* iteration's snapshots and continues — partially-written
snapshots are unreachable garbage, never visible state.

Run via spark-submit:  ``spark-submit --py-files gcs.zip -m`` equivalent:
    python -m go_crawler_spark.crawl --warehouse /tmp/wh --pages <parquet>
           --seeds http://host0.test/p/0 [--resume]
"""

from __future__ import annotations

import argparse
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from go_crawler_spark import tables
from go_crawler_spark.functions import urlops
from go_crawler_spark.functions.textops import udf_extract_page
from go_crawler_spark.lakehouse import Lakehouse, TableSpec
from go_crawler_spark.operators import seen as seen_ops
from go_crawler_spark.operators.fetch import fetch_join, prefetch_filter
from go_crawler_spark.operators.frontier import due_filter, politeness_select, robots_filter

BLOOM_TABLE = TableSpec("bloom", seen_ops.BLOOM_SCHEMA)
STATE_FILE = "crawl_state.jsonl"


@dataclass
class CrawlConfig:
    reindex_threshold_days: float = 7.0  # reference default, main.go:76
    default_host_budget: int = 1_000_000  # effectively unbounded unless set
    salt_buckets: int = 16
    max_urls_per_iter: int | None = None
    max_iterations: int = 50
    bloom_buckets: int = 64
    bloom_capacity_per_bucket: int = 100_000
    bloom_fpp: float = 0.01
    compact_interval: int = 8  # MoR maintenance cadence (iterations)
    # Bucket count for the frontier/edges/documents state tables (the
    # Iceberg bucket(N, url_hash) layout).  None -> the session's shuffle
    # partition count, which makes every per-iteration delta write
    # CLUSTERED (bucket == Spark hash partition; zero added shuffle).
    # Fixed at table creation; a resume with a different count raises.
    state_buckets: int | None = None
    # Snapshots retained per state table at compaction (Iceberg
    # expire_snapshots); covers >keep_last/1 iterations of resume
    # history (one commit per table per iteration).  None/0 disables.
    snapshot_keep_last: int = 24
    politeness_mode: str = "exact"  # or "salted_quota" (see frontier.py)
    # F2 privnet guard wiring (operators/fetch.prefetch_filter): a real
    # deployment passes resolver=socket.gethostbyname (+fail_closed=True)
    # so NAMED private hosts are blocked; the no-DNS sandbox default
    # judges IP literals only (named hosts fail open, documented).
    privnet_dns: dict[str, str] | None = None
    privnet_resolver: "Callable[[str], str | None] | None" = None
    privnet_fail_closed: bool = False
    # Profiling mode: materialize the intra-iteration lazy checkpoints
    # eagerly at phase boundaries and record per-sink durations, so the
    # phase table attributes time to select / extract / each sink /
    # state_refresh instead of lumping lazily-deferred work into the
    # next consumer's phase.  Slightly changes job overlap — bench
    # attribution only, never the production default.
    profile_phases: bool = False
    seed_priority: float = 1.0
    # child priority = parent_depth decay (priority-ordered frontier)
    priority_decay: float = 0.5
    # RefinedWeb-style URL gate (functions/urlfilter.py) on DISCOVERED
    # out-links, applied at discovery upstream of every consumer — the
    # cheapest possible cut point: a blocked URL never becomes a
    # frontier vertex, an edge endpoint, Bloom state, or a politeness
    # slot.  Off by default (the
    # reference has no such gate; goldens unchanged).  The blocklist
    # DataFrame is passed to Crawler(url_blocklist=...) since a frozen
    # config can't carry a DataFrame.
    url_gate: bool = False
    url_word_weights: dict | None = None  # None -> urlfilter defaults
    url_score_threshold: float = 1.0
    extra: dict = field(default_factory=dict)


def _now() -> datetime:
    return datetime.now(timezone.utc)


def _with_url_cols(df: DataFrame) -> DataFrame:
    return df.withColumn("url_hash", urlops.url_hash_col("url")).withColumn(
        "host", urlops.host_col("url")
    )


def prepare_pages(pages: DataFrame, dedup: bool = True) -> DataFrame:
    """Attach the join key; ensure optional filter columns exist; enforce
    one row per URL.

    WARC corpora carry re-crawls of the same URL; without dedup the
    fetch join would emit one extracted/document row per page version,
    inflating the fetched metric and making read_documents tie-break
    nondeterministically.  Newest ``warc_ts`` wins (the reference's
    GREATEST(retrieved_at) instinct); rows without ``warc_ts`` fall back
    to any single row per url_hash.
    """
    from pyspark.sql import Window

    cols = pages.columns
    if "status" not in cols:
        pages = pages.withColumn("status", F.lit(200))
    if "content_type" not in cols:
        pages = pages.withColumn("content_type", F.lit("text/html"))
    pages = pages.withColumn("url_hash", urlops.url_hash_col("url"))
    if dedup:
        order = (
            F.desc("warc_ts") if "warc_ts" in cols else F.lit(1)
        )
        w = Window.partitionBy("url_hash").orderBy(order)
        pages = (
            pages.withColumn("_pg_rn", F.row_number().over(w))
            .where(F.col("_pg_rn") == 1)
            .drop("_pg_rn")
        )
    return pages


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        pages: DataFrame | None = None,
        config: CrawlConfig | None = None,
        host_budgets: DataFrame | None = None,
        robots: DataFrame | None = None,
        fetch_fn=None,
        url_blocklist: DataFrame | None = None,
    ):
        """``fetch_fn`` (DataFrame -> DataFrame) replaces the synthetic
        fetch join with a real fetch stage — e.g.
        ``operators.httpfetch.http_fetch_fn(...)`` for live HTTP.  It
        receives the politeness-selected, prefetch-filtered frontier
        slice and must return it + (html, status, content_type), already
        F3/F4-filtered; unreturned rows are marked as failed attempts."""
        if pages is None and fetch_fn is None:
            raise ValueError("need a pages table or a fetch_fn")
        self.spark = spark
        self.lake = Lakehouse(spark, warehouse)
        self.shuffle_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.cfg = config or CrawlConfig()
        # State tables are bucketed on their hash key (Iceberg bucket(N)
        # layout): merges/compactions rewrite only touched buckets, and
        # with num_buckets == shuffle partitions every delta write is
        # already bucket-pure per task (clustered: no extra exchange).
        nb = self.cfg.state_buckets or self.shuffle_partitions
        # Resume robustness: the bucket count is a TABLE property fixed at
        # creation.  An existing warehouse wins over the session default —
        # a resume under a different shuffle-partition setting adopts the
        # stored count (merely un-clustering the delta writes) instead of
        # failing; only an EXPLICIT conflicting state_buckets raises.
        existing = self.lake._read_manifest("frontier").get("num_buckets")
        if existing is not None and existing != nb:
            if self.cfg.state_buckets is not None:
                raise ValueError(
                    f"warehouse has state_buckets={existing}, config says "
                    f"{self.cfg.state_buckets} — bucket count is immutable"
                )
            nb = existing
        self._clustered = nb == self.shuffle_partitions
        self.t_frontier = tables.FRONTIER.with_buckets("url_hash", nb)
        self.t_edges = tables.EDGES.with_buckets("src_hash", nb)
        self.t_documents = tables.DOCUMENTS.with_buckets("url_hash", nb)
        # Cache the prepared corpus ONCE, hash-partitioned on the join key.
        # Without the cache every iteration re-scans the pages parquet AND
        # re-runs the per-url dedup window (a full shuffle of the html
        # payload); with the explicit url_hash partitioning the per-
        # iteration fetch join is CO-PARTITIONED — no pages exchange, no
        # driver-side broadcast build (broadcast builds were a serial
        # ~1-2s/iteration floor that killed N->4N scaling).  On a real
        # crawl fetch is network-bound and there is no pages table at all.
        self.pages = (
            prepare_pages(pages)
            .repartition(self.shuffle_partitions, "url_hash")
            .persist()
            if pages is not None
            else None
        )
        self.fetch_fn = fetch_fn or (lambda sel: fetch_join(sel, self.pages))
        # default join path keeps url_hash partitioning through the fetch
        # join, so the extract stage needs no extra repartition
        self._fetch_copartitioned = fetch_fn is None and pages is not None
        self.host_budgets = host_budgets
        self.robots = robots
        self.url_blocklist = url_blocklist
        self.state_path = os.path.join(warehouse, STATE_FILE)
        self.metrics: list[dict] = []
        # In-memory reconciled frontier (one row per url_hash), refreshed
        # per iteration via localCheckpoint: iterations read THIS instead
        # of re-scanning + re-reconciling the growing appended table from
        # disk (the appends stay — they are the durability/resume story).
        self._frontier: DataFrame | None = None
        # Pipelined durability sinks: the frontier/edges appends of
        # iteration i stay in flight while iteration i+1 computes, and are
        # joined just before i+1's own appends (per-table commit ordering)
        # — the reference's broadcast-to-sinks overlap extended ACROSS
        # iterations.  Holds (iteration, futures, partial snaps/metrics).
        self._pending: dict | None = None
        self._sink_pool = None

    # -- state / checkpointing ----------------------------------------------

    def _append_state(self, record: dict) -> None:
        with open(self.state_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def _load_state(self) -> list[dict]:
        if not os.path.exists(self.state_path):
            return []
        with open(self.state_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _checkpoint(self, iteration: int, snaps: dict[str, str], metrics: dict) -> None:
        self._append_state(
            {
                "iteration": iteration,
                "status": "complete",
                "snapshots": snaps,
                "metrics": metrics,
                # Bloom shard layout is baked into the persisted bit
                # arrays; recorded so a resume can refuse a mismatch
                # (silent mis-sharding = false negatives past the Bloom)
                "bloom_buckets": self.cfg.bloom_buckets,
                "ts": time.time(),
            }
        )

    def _get_sink_pool(self):
        if self._sink_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._sink_pool = ThreadPoolExecutor(
                max_workers=2, thread_name_prefix="gcs-sink"
            )
        return self._sink_pool

    def _resolve_pending(self) -> dict | None:
        """Join the in-flight frontier/edges appends of the previous
        iteration, finalize its metrics (footer counts) and write its
        checkpoint record.  The blocking time recorded as that iteration's
        ``sink_writes`` phase is the RESIDUAL critical-path cost — the
        part of the sink latency the next iteration's compute did not
        hide.  Called before the next iteration's appends (per-table
        manifest parent chain), before compaction, and at run end."""
        p, self._pending = self._pending, None
        if p is None:
            return None
        t_wait = time.time()
        p["snaps"]["frontier"], dcounts = p["f_delta"].result()
        p["snaps"]["edges"] = p["f_edges"].result()
        m = p["metrics"]
        m["selected"] = dcounts.get("marks", 0)
        m["new_urls"] = dcounts.get("new", 0)
        m["phases"]["sink_writes"] = round(time.time() - t_wait, 3)
        self._checkpoint(p["iteration"], p["snaps"], m)
        self.metrics.append({"iteration": p["iteration"], **m})
        return m

    def flush_pending(self) -> dict | None:
        """Public barrier for callers driving :meth:`run_iteration`
        directly: join the in-flight appends, finalize the iteration's
        counts/checkpoint (see the pipelined-sink contract there), and
        return its completed metrics dict (``None`` if nothing was
        pending)."""
        return self._resolve_pending()

    def resume_point(self) -> dict | None:
        complete = [
            r
            for r in self._load_state()
            if r["status"] == "complete" and isinstance(r.get("iteration"), int)
        ]
        return complete[-1] if complete else None

    def _pin_snapshots(self, record: dict) -> None:
        for name, snap in record["snapshots"].items():
            self.lake.set_current_snapshot(name, snap)
        self._frontier = None  # re-reconcile from the pinned snapshot

    # -- seeding --------------------------------------------------------------

    def seed(self, seed_urls: list[str] | None = None, seed_df: DataFrame | None = None) -> None:
        """Iteration 0: canonicalize seeds (X8) and initialize all tables.

        ``seed_df`` (a DataFrame with a ``url`` column of already-canonical
        URLs) seeds distributively — the path for bulk frontier loads
        (e.g. re-seeding a 10^10-URL frontier from a previous crawl's
        table), where a driver-side Python list would not fit.
        """
        if seed_df is not None:
            # JVM-side canonicalization mirroring canonicalize_url (X8):
            # trim + fragment strip + scheme lowercasing, http(s) only.
            # Without the fragment strip a seed like http://a/p#x would
            # get a url_hash that never merges with the canonical
            # http://a/p discovered later (duplicate frontier rows,
            # double fetch); without the scheme lowercase an
            # 'HTTP://...' seed would be silently dropped by the
            # case-sensitive prefix filter while the seed_urls path
            # (urlsplit lowercases the scheme) accepts it.
            # \s-strip, not F.trim: trim removes spaces only, so a CRLF
            # bulk-seed file would keep \r in the URL (and its hash)
            url = F.regexp_replace(
                F.regexp_replace(F.col("url"), r"^\s+|\s+$", ""), r"#.*$", ""
            )
            scheme_end = F.instr(url, "://")
            url = F.when(
                scheme_end > 0,
                F.concat(
                    F.lower(F.substring(url, 1, scheme_end - 1)),
                    F.substr(url, scheme_end),
                ),
            ).otherwise(url)
            base = (
                seed_df.select(url.alias("url"))
                .where(
                    F.col("url").startswith("http://")
                    | F.col("url").startswith("https://")
                )
            )
        else:
            canon = [u for u in (urlops.canonicalize_url(s) for s in seed_urls or []) if u]
            base = self.spark.createDataFrame([(u,) for u in canon], "url string")
        seeds = _with_url_cols(base).select(
            "url_hash",
            "url",
            "host",
            F.lit(self.cfg.seed_priority).alias("priority"),
            F.lit(0).alias("discovered_iter"),
            F.lit(None).cast("timestamp").alias("retrieved_at"),
            F.lit(None).cast("timestamp").alias("last_attempt"),
        ).dropDuplicates(["url_hash"])
        # Checkpoint first, so the seed plan runs once: the frontier write
        # and the hot frontier both read its blocks.
        seeds = seeds.localCheckpoint(eager=True)

        snaps = {
            # the checkpoint keeps dropDuplicates' url_hash partitioning:
            # clustered
            "frontier": self.lake.overwrite(
                self.t_frontier, seeds, clustered=self._clustered
            ),
            "edges": self.lake.overwrite_empty(self.t_edges),
            "documents": self.lake.overwrite_empty(self.t_documents),
        }
        self._frontier = seeds
        self._checkpoint(0, snaps, {"op": "seed"})
        # A Bloom table left by an earlier crawl in this warehouse holds
        # none of these seeds; compaction writes this crawl's.  Dropped
        # only after the seed record, which names no Bloom snapshot, so
        # every record a resume can pick stays pinnable.
        self.lake.drop(BLOOM_TABLE.name)

    # -- merge-on-read reconciled readers ------------------------------------

    @staticmethod
    def _reconcile_frontier(raw: DataFrame) -> DataFrame:
        """One row per url_hash with greatest timestamps (J1 GREATEST
        semantics) and first-discovery priority/depth.

        Attempt-mark delta rows are SLIM — null url/host/priority (only
        the key + timestamps change on an attempt) — so url/host come
        from the discovery row via first(ignorenulls).  Key-local, so it
        is a valid per-bucket ``compact_table`` reconcile."""
        return raw.groupBy("url_hash").agg(
            F.first("url", ignorenulls=True).alias("url"),
            F.first("host", ignorenulls=True).alias("host"),
            F.max("priority").alias("priority"),
            F.min("discovered_iter").alias("discovered_iter"),
            F.max("retrieved_at").alias("retrieved_at"),
            F.max("last_attempt").alias("last_attempt"),
        )

    @staticmethod
    def _reconcile_edges(raw: DataFrame) -> DataFrame:
        """Per source, only the latest crawl's edge set survives (U2
        RemoveStaleEdges); null-dst rows are re-crawl markers.  Key-local
        per src_hash (the edges bucket key)."""
        from pyspark.sql import Window

        w = Window.partitionBy("src_hash")
        return (
            raw.withColumn("_latest", F.max("updated_at").over(w))
            .where(
                (F.col("updated_at") == F.col("_latest"))
                & F.col("dst_hash").isNotNull()
            )
            .drop("_latest")
            .dropDuplicates(["src_hash", "dst_hash"])
        )

    @staticmethod
    def _reconcile_documents(raw: DataFrame) -> DataFrame:
        """Latest version per url_hash; pagerank carried from any version
        (preserved across reindex, J4).  Key-local per url_hash."""
        from pyspark.sql import Window

        wk = Window.partitionBy("url_hash")
        wo = wk.orderBy(F.desc("indexed_at"))
        return (
            raw.withColumn("_rn", F.row_number().over(wo))
            .withColumn("_pr", F.max("pagerank").over(wk))
            .where(F.col("_rn") == 1)
            .select(
                "url_hash", "url", "title", "text", "indexed_at",
                F.col("_pr").alias("pagerank"),
            )
        )

    @staticmethod
    def _refresh_frontier(
        frontier: DataFrame,
        marks: DataFrame,
        new_rows: DataFrame,
    ) -> DataFrame:
        """Next iteration's hot frontier, O(delta) instead of O(state).

        The hot frontier is already one row per url_hash, so the refresh
        is an UPDATE of the attempted keys' timestamps plus an APPEND of
        the newly discovered rows — not a re-aggregation of the whole
        state.  The previous formulation (``_reconcile_frontier`` over
        frontier ∪ marks ∪ new) re-shuffled the ENTIRE frontier — url and
        host strings included — every iteration: O(state) string bytes
        through the exchange, the dominant non-scaling byte stream at a
        10^10-row frontier.  This path shuffles only the slim marks
        (url_hash + two timestamps) for their per-key max, joins them
        against the frontier checkpoint (exchange-free on the frontier
        side when its HashPartitioning(url_hash) is reported — true in
        the recrawl steady state, where the previous refresh's join
        preserved it), and unions the new rows.

        Semantics vs the groupBy reconcile: identical — ``new_rows``
        keys are EXACTLY anti-joined against this frontier by
        ``filter_unseen``, so they union in directly.  Needing no
        defensive anti-join keeps an O(frontier-keys) exchange off the
        hot path AND keeps the refresh independent of the new-row COUNT,
        which lets the frontier/edges sinks (the count's source) pipeline
        across iterations.
        """
        upd = marks.groupBy("url_hash").agg(
            F.max("retrieved_at").alias("_r"),
            F.max("last_attempt").alias("_a"),
        )
        merged = frontier.join(upd, "url_hash", "left").select(
            "url_hash",
            "url",
            "host",
            "priority",
            "discovered_iter",
            F.greatest("retrieved_at", "_r").alias("retrieved_at"),
            F.greatest("last_attempt", "_a").alias("last_attempt"),
        )
        # Unconditional union: when no links were discovered the branch
        # scans already-materialized empty checkpoint blocks — O(tasks),
        # no data.  (The old code gated this on the footer-counted n_new,
        # which would serialize the refresh behind the frontier append.)
        return merged.unionByName(new_rows.select(*merged.columns))

    def read_frontier(self) -> DataFrame:
        """The reconciled frontier: the hot in-memory copy when the loop
        is running, else reconciled from the appended disk deltas (fresh
        Crawler / resume)."""
        if self._frontier is not None:
            return self._frontier
        return self._reconcile_frontier(self.lake.read(self.t_frontier))

    def read_edges(self) -> DataFrame:
        return self._reconcile_edges(self.lake.read(self.t_edges))

    def read_documents(self) -> DataFrame:
        return self._reconcile_documents(self.lake.read(self.t_documents))

    def compact(self, iteration: int) -> None:
        """MoR maintenance (Iceberg ``rewrite_data_files``): reconcile and
        rewrite ONLY the buckets that accumulated delta dirs since the
        last compaction — never-appended-to buckets keep their exact
        files — and rewrite the durable Bloom URL-seen table from the
        frontier keys, so it covers every frontier key as of this
        compaction.  Novelty inside the loop never reads it (it is exact,
        see run_iteration); its reader is the persisted-state side
        (``perfbench``'s ``seen.*`` metrics probe it)."""
        # compaction rewrites frontier/edges: any in-flight pipelined
        # appends must commit first (run() already orders this; the
        # guard makes direct compact() calls safe too)
        self._resolve_pending()
        cfg = self.cfg
        bloom = seen_ops.update_bloom(
            seen_ops.empty_bloom(
                self.spark, cfg.bloom_buckets, cfg.bloom_capacity_per_bucket,
                cfg.bloom_fpp,
            ),
            self.read_frontier().select("url_hash"),
            cfg.bloom_buckets,
        )
        c = self._clustered
        snaps = {
            "frontier": self.lake.compact_table(
                self.t_frontier, self._reconcile_frontier, clustered=c
            ),
            "edges": self.lake.compact_table(
                self.t_edges, self._reconcile_edges, clustered=c
            ),
            "documents": self.lake.compact_table(
                self.t_documents, self._reconcile_documents, clustered=c
            ),
            "bloom": self.lake.overwrite(BLOOM_TABLE, bloom),
        }
        self._checkpoint(iteration, snaps, {"op": "compact"})
        # Snapshot expiry + orphan vacuum (Iceberg expire_snapshots):
        # without it every superseded delta file is pinned forever and
        # state storage grows without bound.  Runs AFTER the checkpoint,
        # so the retained window always covers the resume point.
        if self.cfg.snapshot_keep_last:
            for t in ("frontier", "edges", "documents", "bloom"):
                self.lake.expire_snapshots(
                    t, keep_last=self.cfg.snapshot_keep_last
                )

    # -- one iteration ---------------------------------------------------------

    def run_iteration(self, iteration: int, run_start: datetime) -> dict:
        """One BFS iteration: select → fetch → extract(+docs sink) →
        novelty → submit frontier/edges appends → refresh hot state.

        PIPELINED-SINK CONTRACT: the returned metrics dict is
        PROVISIONAL — ``fetched`` and ``phases`` are exact, but
        ``selected``/``new_urls`` are ``None`` until the iteration's
        in-flight appends resolve (their values come from the appends'
        parquet footers), and the iteration's checkpoint record is
        written at that same point.  ``run()`` resolves automatically
        (next iteration / compaction / loop exit); callers driving
        iterations manually MUST call :meth:`flush_pending` before
        reading those counts, relying on the checkpoint, or exiting —
        the dict is filled in place, so the reference returned here
        becomes complete once flushed."""
        cfg = self.cfg
        pass_ts = _now()
        t0 = time.time()
        phases: dict[str, float] = {}

        def mark(name: str, since: float) -> float:
            now = time.time()
            phases[name] = round(now - since, 3)
            return now

        frontier = self.read_frontier()

        due = due_filter(frontier, pass_ts, cfg.reindex_threshold_days).where(
            F.col("last_attempt").isNull() | (F.col("last_attempt") < F.lit(run_start))
        )
        # Robots BEFORE politeness: a denied URL must not occupy a slot
        # of its host's budget (denied rows are never attempt-marked, so
        # post-selection filtering would let top-priority denied URLs
        # permanently starve the host's allowed URLs).  The robots dim is
        # a broadcast; this is one broadcast join over the due slice.
        due = robots_filter(due, self.robots)
        selected = politeness_select(
            due,
            self.host_budgets,
            cfg.default_host_budget,
            cfg.salt_buckets,
            cfg.max_urls_per_iter,
            mode=cfg.politeness_mode,
        )
        # Lazy localCheckpoint instead of persist(): downstream plans see
        # a flat LogicalRDD immediately, so every later job in this
        # iteration skips re-analyzing (and at worst re-executing) the
        # politeness/window lineage.  Catalyst plan analysis over the deep
        # iteration DAG — driver-side, serial — was the dominant share of
        # the per-iteration floor; truncation removes it.  Durability is
        # the lakehouse appends; intra-iteration checkpoint blocks live in
        # MEMORY_AND_DISK like any iterative Spark algorithm's.
        # One exchange to the engine's canonical url_hash partitioning at
        # selection time: the fetch join, the failed-attempt anti-join and
        # the marks write then all run exchange-free on this slice.
        selected = (
            selected.repartition(self.shuffle_partitions, "url_hash")
            .localCheckpoint(eager=cfg.profile_phases)
        )
        if cfg.profile_phases:
            t0 = mark("select", t0)
        attempted = prefetch_filter(
            selected,
            unresolved_private=cfg.privnet_fail_closed,
            dns=cfg.privnet_dns,
            resolver=cfg.privnet_resolver,
        )

        fetched = self.fetch_fn(attempted)
        # Explicit repartition before the extraction UDF: without it the
        # heavy Python stage inherits whatever partitioning the fetch join
        # produced (often the pages table's few parquet splits after AQE
        # broadcasts the small frontier side) and runs near-serial.  An
        # explicit N is respected by AQE (not re-coalesced), so extraction
        # parallelism tracks the cluster size — the property the N->4N
        # scaling criterion measures.
        if not self._fetch_copartitioned:
            # custom fetch stages (e.g. HTTP) inherit arbitrary partitioning;
            # re-key so the heavy Python stage parallelism tracks the cluster
            fetched = fetched.repartition(self.shuffle_partitions, "url_hash")
        extracted = (
            fetched.withColumn("_ex", udf_extract_page("url", "html"))
            .select(
                "url_hash",
                "url",
                "host",
                "priority",
                "discovered_iter",
                F.col("_ex.title").alias("title"),
                F.col("_ex.text").alias("text"),
                F.col("_ex.links").alias("links"),
            )
            # P4: compute once, feed all sinks.  LAZY (r5): the docs
            # append below is the materializing action, so each task
            # extracts its partition, saves the checkpoint block AND
            # streams rows into the documents parquet in one pass — the
            # text payload never round-trips the block manager and the
            # extract->sink scheduling barrier (a full straggler wave at
            # 4N) disappears.  The frontier/edges sinks still run as
            # concurrent jobs over the materialized blocks afterwards.
            .localCheckpoint(eager=False)
        )

        # -- discovered links -> novelty check (J1) --------------------------
        out_links = (
            extracted.select(
                F.col("url_hash").alias("src_hash"),
                F.col("discovered_iter").alias("src_iter"),
                F.col("priority").alias("src_priority"),
                F.explode("links").alias("lnk"),
            )
            .select(
                "src_hash",
                "src_iter",
                "src_priority",
                F.col("lnk.url").alias("url"),
                F.col("lnk.nofollow").alias("nofollow"),
            )
            .withColumn("url_hash", urlops.url_hash_col("url"))
        )
        if cfg.url_gate:
            from go_crawler_spark.functions.urlfilter import url_quality_filter

            # cut at DISCOVERY, upstream of every consumer: a gated URL
            # never becomes a frontier vertex, an edge endpoint, Bloom
            # state, or a politeness slot (the RefinedWeb point — URL
            # filtering is the cheapest gate in the pipeline)
            out_links = url_quality_filter(
                out_links,
                blocklist=self.url_blocklist,
                word_weights=cfg.url_word_weights,
                score_threshold=cfg.url_score_threshold,
            )
        out_links = out_links.localCheckpoint(eager=False)

        # Vertices to upsert: follow + nofollow links (U1).
        candidate_urls = (
            out_links.groupBy("url_hash")
            .agg(
                F.first("url").alias("url"),
                F.min("src_iter").alias("src_iter"),
                F.max("src_priority").alias("src_priority"),
            )
        )
        # membership check against the cached reconciled frontier — the
        # same key set as the raw appended table, without re-reading it.
        # Exact: one anti-join, no Bloom probe (see seen.filter_unseen).
        seen_keys = frontier.select("url_hash")
        new_links = seen_ops.filter_unseen(candidate_urls, seen_keys)
        new_rows = (
            _with_url_cols(new_links.select("url", "src_iter", "src_priority"))
            .select(
                "url_hash",
                "url",
                "host",
                (F.col("src_priority") * F.lit(cfg.priority_decay)).alias("priority"),
                (F.col("src_iter") + 1).alias("discovered_iter"),
                F.lit(None).cast("timestamp").alias("retrieved_at"),
                F.lit(None).cast("timestamp").alias("last_attempt"),
            )
            .localCheckpoint(eager=False)
        )

        # The `extracted` checkpoint above is the only serial
        # materialization (it happens inside the docs append — see the
        # checkpoint comment); the frontier/edges sinks read its blocks
        # and hit DIFFERENT tables, so they run as concurrent Spark jobs
        # — the reference's broadcast-to-sinks overlap (pipeline/runners/
        # broadcast.go).  Safe because every input is a flat checkpointed
        # plan: no Catalyst re-analysis, no cache races (the blocks are
        # fully materialized before the concurrent jobs launch).
        docs = extracted.select(
            "url_hash", "url", "title", "text",
            F.lit(pass_ts).alias("indexed_at"),
            F.lit(None).cast("double").alias("pagerank"),
        )
        # Attempt marks are SLIM: only (url_hash, timestamps) change on an
        # attempt — url/host/priority/discovered_iter live in the key's
        # discovery row and are re-derived at reconcile (first ignorenulls).
        # At a 10^10-row frontier this stops every iteration re-shipping
        # the URL+host strings of the whole selected slice through the
        # delta write and the state-refresh shuffle.
        _null_str = F.lit(None).cast("string")
        fetched_updates = extracted.select(
            "url_hash",
            _null_str.alias("url"),
            _null_str.alias("host"),
            F.lit(None).cast("double").alias("priority"),
            F.lit(None).cast("int").alias("discovered_iter"),
            F.lit(pass_ts).alias("retrieved_at"),
            F.lit(pass_ts).alias("last_attempt"),
        )
        failed_updates = (
            selected.select("url_hash")
            .join(
                extracted.select("url_hash").hint("SHUFFLE_HASH"),
                "url_hash",
                "left_anti",
            )
            .select(
                "url_hash",
                _null_str.alias("url"),
                _null_str.alias("host"),
                F.lit(None).cast("double").alias("priority"),
                F.lit(None).cast("int").alias("discovered_iter"),
                # a failed attempt does not bump retrieved_at (reference
                # bumps it only on pipeline completion); reconcile keeps
                # the old value via max()
                F.lit(None).cast("timestamp").alias("retrieved_at"),
                F.lit(pass_ts).alias("last_attempt"),
            )
        )
        # marks stays a lazy plan over the two checkpointed inputs (a
        # localCheckpoint of this Union trips a Catalyst constraint-rewrite
        # bug: NoSuchElementException in LogicalRDD.fromDataset); the plan
        # is two projections + one anti-join — cheap.
        marks = fetched_updates.unionByName(failed_updates)
        delta = marks.withColumn("_delta", F.lit("marks")).unionByName(
            new_rows.withColumn("_delta", F.lit("new"))
        )
        # No pair-dedup shuffle here: extract_links dedups links per page
        # and the frontier holds one row per url_hash, so (src, dst) is
        # already unique by construction — and read_edges' reconcile
        # dropDuplicates would absorb any violation.  Keeping the plan
        # shuffle-free also keeps it src_hash-partitioned, so the bucketed
        # edges append below is clustered (bucket-pure per task).
        new_edges = out_links.where(~F.col("nofollow")).select(  # F8
            "src_hash",
            F.col("url_hash").alias("dst_hash"),
            F.lit(pass_ts).alias("updated_at"),
        )
        markers = extracted.select(
            F.col("url_hash").alias("src_hash"),
            F.lit(None).cast("long").alias("dst_hash"),
            F.lit(pass_ts).alias("updated_at"),
        )

        def timed(tag, fn, *a):
            def call():
                ts = time.time()
                out = fn(*a)
                if cfg.profile_phases:
                    phases[tag] = round(time.time() - ts, 3)
                return out

            return call

        snaps = {}
        # Docs append FIRST and synchronously: it is the action that
        # materializes the lazy `extracted` checkpoint, so this one job
        # performs fetch + extraction + docs parquet write in a single
        # pass (VERDICT r4 item 4a — the sink that used to re-read the
        # text payload from the block manager now overlaps extraction
        # entirely).  The "extract" phase mark therefore lands AFTER it:
        # the phase means extraction+docs-write.  The two remaining sinks
        # are PIPELINED: submitted below, joined during the NEXT iteration
        # (so "sink_writes", recorded at resolve time, is only the
        # residual wait the next iteration's compute failed to hide).
        t_docs0 = time.time()
        snaps["documents"], n_fetched = self.lake.append_counted(
            self.t_documents, docs, self._clustered
        )
        if cfg.profile_phases:
            phases["sink_docs"] = round(time.time() - t_docs0, 3)
        t_ph = mark("extract", t0)
        # Join the PREVIOUS iteration's in-flight frontier/edges appends
        # now — their latency (job scheduling, shuffle barriers, dynamic-
        # partition commit: a per-iteration floor that does NOT shrink
        # with cores) has been overlapped by this iteration's select/
        # fetch/extract+docs work.  This iteration's appends must commit
        # AFTER them: the manifest parent chain is per table.
        self._resolve_pending()
        pool = self._get_sink_pool()
        # ONE tagged frontier append: attempt-marks + newly discovered
        # URLs in a single job/commit (J1 greatest(retrieved_at)
        # semantics via reconcile); per-tag footer counts = metrics
        f_delta = pool.submit(timed(
            "sink_frontier",
            self.lake.append_tagged,
            self.t_frontier,
            delta,
            "_delta",
            self._clustered,
        ))
        # edges + null-dst re-crawl markers (J2 + U2 via reconcile)
        f_edges = pool.submit(timed(
            "sink_edges",
            self.lake.append,
            self.t_edges,
            new_edges.unionByName(markers),
            self._clustered,
        ))
        t_ph = mark("sink_submit", t_ph)

        # -- state refresh: a LAZY checkpoint over already-materialized
        # blocks.  No extra job here — the next iteration's first consumer
        # materializes it (and the final iteration never pays for it).
        bloom_snap = self.lake.current_snapshot("bloom")
        if bloom_snap is not None:
            # the last compaction's snapshot; rewritten at the next one
            snaps["bloom"] = bloom_snap
        # Next iteration's hot frontier: reconcile(old ∪ this delta),
        # truncated so lineage stays flat across iterations.
        self._frontier = self._refresh_frontier(
            frontier, marks, new_rows
        ).localCheckpoint(eager=cfg.profile_phases)
        mark("state_refresh", t_ph)

        # Provisional metrics: selected/new_urls counts come from the
        # in-flight appends' parquet footers and are filled in (and the
        # iteration's checkpoint written) when the pending sinks resolve —
        # during the next iteration, or at the run-level flush.  n_fetched
        # is exact already (docs footers, synchronous): it alone decides
        # the drain (fetched==0 ⟹ extracted empty ⟹ no links ⟹ no
        # new URLs, so the old selected==0 ∧ new==0 test is implied one
        # iteration earlier with an identical final state).
        metrics = {
            "selected": None,
            "fetched": n_fetched,
            "new_urls": None,
            "elapsed_sec": round(time.time() - t0, 3),
            "phases": phases,
        }
        self._pending = {
            "iteration": iteration,
            "f_delta": f_delta,
            "f_edges": f_edges,
            "snaps": snaps,
            "metrics": metrics,
        }
        return metrics

    # -- the loop ---------------------------------------------------------------

    def run(
        self,
        seed_urls: list[str] | None = None,
        resume: bool = False,
        seed_df: DataFrame | None = None,
    ) -> list[dict]:
        if resume:
            rp = self.resume_point()
            if rp is None:
                raise RuntimeError("resume requested but no complete checkpoint")
            # The persisted Bloom table is sharded by the checkpoint's
            # bucket count, and its readers probe it with
            # cfg.bloom_buckets; a mismatched resume would leave it
            # silently mis-sharded (false negatives past the Bloom).
            have_bb = rp.get("bloom_buckets")
            if have_bb is not None and have_bb != self.cfg.bloom_buckets:
                raise ValueError(
                    f"resume with bloom_buckets={self.cfg.bloom_buckets} but "
                    f"checkpoint was written with {have_bb} — bloom bucket "
                    "count is immutable per warehouse"
                )
            self._pin_snapshots(rp)
            # one eager reconcile of the pinned snapshot seeds the hot
            # frontier cache (otherwise the first iteration would re-derive
            # the disk reconcile once per consuming job)
            self._frontier = self._reconcile_frontier(
                self.lake.read(self.t_frontier)
            ).localCheckpoint(eager=True)
            start_iter = rp["iteration"] + 1
        else:
            if not seed_urls and seed_df is None:
                raise ValueError("seed_urls or seed_df required for a fresh crawl")
            self.seed(seed_urls, seed_df=seed_df)
            start_iter = 1

        run_start = _now()
        try:
            for i in range(start_iter, self.cfg.max_iterations + 1):
                m = self.run_iteration(i, run_start)
                if i % self.cfg.compact_interval == 0:
                    # compact() resolves any in-flight appends itself
                    self.compact(i)
                if m["fetched"] == 0:
                    # Probably drained — but fetched==0 with selected>0
                    # (every selected URL failed its fetch while other
                    # due URLs remain beyond the politeness top-k cut)
                    # must NOT stop the crawl.  The exact drain test is
                    # the reference's selected==0 ∧ new==0; those counts
                    # live in this iteration's in-flight sink footers, so
                    # resolve it synchronously (the loop is idle anyway —
                    # fetched==0 means there is no compute to overlap)
                    # and apply the original condition.
                    self._resolve_pending()
                    if m["selected"] == 0 and m["new_urls"] == 0:
                        break
        except BaseException:
            # The loop's own failure is the root cause; join the in-flight
            # appends without letting a secondary sink error replace it.
            try:
                self._resolve_pending()
            except Exception:
                pass
            raise
        else:
            # Success path: a failed final append is a durability failure
            # and MUST surface.
            self._resolve_pending()
        finally:
            if self._sink_pool is not None:
                self._sink_pool.shutdown(wait=True)
                self._sink_pool = None
        return self.metrics


def main() -> None:
    ap = argparse.ArgumentParser(description="go_crawler_spark crawl driver")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--pages", required=True, help="parquet path of pages table")
    ap.add_argument("--seeds", nargs="*", default=[])
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-iterations", type=int, default=50)
    ap.add_argument("--host-budget", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--state-buckets", type=int, default=None,
        help="bucket(N) count for frontier/edges/documents "
        "(default: shuffle partition count; immutable per warehouse)",
    )
    ap.add_argument(
        "--snapshot-keep-last", type=int, default=24,
        help="snapshots retained per table at compaction (0 disables expiry)",
    )
    ap.add_argument(
        "--politeness-mode", choices=["exact", "salted_quota"], default="exact"
    )
    args = ap.parse_args()

    from go_crawler_spark.session import get_spark

    spark = get_spark("gcs-crawl", cpus=args.cpus)
    pages = spark.read.parquet(args.pages)
    cfg = CrawlConfig(
        max_iterations=args.max_iterations,
        default_host_budget=args.host_budget,
        state_buckets=args.state_buckets,
        snapshot_keep_last=args.snapshot_keep_last,
        politeness_mode=args.politeness_mode,
    )
    crawler = Crawler(spark, args.warehouse, pages, cfg)
    metrics = crawler.run(seed_urls=args.seeds or None, resume=args.resume)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
