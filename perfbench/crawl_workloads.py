"""bfs_crawl and steady_crawl: the crawl engine driven through its public calls.

Both workloads drive ``Crawler`` by the documented manual contract
(``seed`` -> ``run_iteration`` ... -> ``flush_pending`` -> ``compact``),
time each call from outside, and check the outputs against oracles that
share no code with the engine's Spark plans:

* per-iteration ``selected``/``fetched``/``new_urls`` against a pure-Python
  BFS over the synthetic corpus's link rule (bfs_crawl), or against the
  counts recorded for this corpus (steady_crawl, whose input does not
  depend on the seed);
* every crawled document's ``text`` against the corpus ``text`` column;
* PageRank scores summing to 1 over exactly the frontier's vertices;
* the top-k ``url_hash`` lists of each search against a DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import inspect
import os
import random
import re
import statistics
import time
from datetime import datetime, timezone

import pyspark.sql.functions as F

from go_crawler_spark import fixtures, rank
from go_crawler_spark.crawl import BLOOM_TABLE, Crawler, CrawlConfig
from go_crawler_spark.functions import urlops
from go_crawler_spark.functions.textops import udf_extract_text
from go_crawler_spark.graphx.pagerank import pagerank
from go_crawler_spark.operators import seen as seen_ops
from go_crawler_spark.operators.search import search

# The synthetic corpus (go_crawler_spark.fixtures.synth_pages) with
# bench.py's shape: 200 hosts, one mega-host owning 40% of the pages.
# Its content is fixed by fixtures.SEED, not by --seed.
N_HOSTS = 200
SKEW = 0.4
OUT_LINKS = 10

BFS_PAGES = 10_000
BFS_SEEDS = 200  # 2% of the corpus, drawn by --seed
BFS_ITERATIONS = 3
STEADY_PAGES = 120_000
STEADY_ITERATIONS = 2  # of at most STEADY_PAGES // 4 URLs each
# steady_crawl seeds the whole corpus, so its counts are the same for
# every --seed; recorded from this corpus.
STEADY_EXPECTED = {"selected": [30_000, 30_000], "fetched": [28_176, 28_194]}

PAGERANK_THRESHOLD = inspect.signature(pagerank).parameters[
    "driver_edge_threshold"
].default
SEARCH_K = 10
# (name, query, search() keyword arguments): OR match, AND match, phrase,
# and the ES function_score ordering (relevance + pagerank).
SEARCHES = [
    ("or", "alpha bravo", {}),
    ("and", "says echo", {"operator": "and"}),
    ("phrase", "says golf", {"mode": "phrase"}),
    ("function_score", "kilo lima", {"scoring": "function_score"}),
]
NEVER_SEEN_PROBES = 20_000


# -- corpus and oracles ---------------------------------------------------------


def ensure_corpus(spark, cache_dir: str, n_pages: int) -> str:
    """The corpus as parquet, generated once per (size, corpus seed)."""
    path = os.path.join(cache_dir, f"pages_n{n_pages}_s{fixtures.SEED}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        fixtures.synth_pages(
            spark, n_pages, n_hosts=N_HOSTS, skew=SKEW, out_links=OUT_LINKS,
            num_partitions=16,
        ).write.mode("overwrite").parquet(path)
    return path


def _url(page_id: int, n_pages: int) -> str:
    return fixtures.url_of(page_id, n_pages, N_HOSTS, SKEW)


def _fetchable(page_id: int) -> bool:
    # fixtures._page_row: 1 in 50 pages is a 404, 1 a 503, 1 non-html
    return fixtures._mix(page_id, 12) % 50 >= 3


def _targets(page_id: int, n_pages: int) -> set[int]:
    # fixtures._page_row: every kept link of page p resolves to
    # url_of(target); junk links (.png, ftp:, private IP) are dropped
    k = fixtures._mix(page_id, 4) % (OUT_LINKS + 1)
    return {fixtures._mix(page_id, 5, j) % n_pages for j in range(k)}


def bfs_oracle(n_pages: int, seed_ids: list[int], iterations: int) -> list[dict]:
    """Per-iteration counts of an unbounded BFS (no politeness cut)."""
    frontier = set(seed_ids)
    level = sorted(frontier)
    out = []
    for _ in range(iterations):
        if not level:
            break
        fetched = [p for p in level if _fetchable(p)]
        found: set[int] = set()
        for p in fetched:
            found |= _targets(p, n_pages)
        new = found - frontier
        frontier |= new
        out.append({"selected": len(level), "fetched": len(fetched), "new_urls": len(new)})
        level = sorted(new)
    return out


def bfs_seed_ids(seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(BFS_PAGES), BFS_SEEDS))


# -- one crawl pass ---------------------------------------------------------------


def crawl_config(workload: str, trace: bool) -> CrawlConfig:
    n = BFS_PAGES if workload == "bfs_crawl" else STEADY_PAGES
    steady = workload == "steady_crawl"
    return CrawlConfig(
        max_iterations=STEADY_ITERATIONS if steady else BFS_ITERATIONS,
        max_urls_per_iter=n // 4 if steady else None,
        bloom_buckets=64,
        bloom_capacity_per_bucket=max(n // 16, 1000),
        default_host_budget=n if steady else max(n // 3, 500),
        salt_buckets=16,
        politeness_mode="salted_quota",
        # compaction is called explicitly after the loop
        compact_interval=1_000_000,
        profile_phases=trace,
    )


class CrawlBench:
    """Set-up, timed passes and checks for one crawl workload."""

    NOMINAL_PASS_S = 20.0

    def __init__(self, ctx, workload: str):
        self.ctx = ctx
        self.steady = workload == "steady_crawl"
        self.n = STEADY_PAGES if self.steady else BFS_PAGES
        self.cfg = crawl_config(workload, ctx.trace)
        self.passes: list[dict] = []
        self.crawler: Crawler | None = None

    # set-up: corpus (generated once, then loaded), page cache, warm-up
    def setup(self) -> dict:
        spark, t = self.ctx.spark, time.time()
        self.corpus_path = ensure_corpus(spark, self.ctx.cache_dir, self.n)
        self.pages = spark.read.parquet(self.corpus_path)
        # the Crawler caches the prepared pages; later passes reuse the cache
        self.crawler = self._new_crawler()
        self.crawler.pages.count()
        corpus_s = time.time() - t
        t = time.time()
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        self.pages.limit(1000).select(udf_extract_text(F.col("html"))).collect()
        # The first execution (planning, codegen, JIT) is set-up, timed
        # into setup_s: a pass with one iteration reaches every code path.
        # The timed passes run warm; cold passes of identical code spread
        # up to 18% between runs.
        self._crawl_pass(lambda name: contextlib.nullcontext(), iterations=1)
        return {"corpus_s": corpus_s, "warmup_s": time.time() - t}

    def _new_crawler(self) -> Crawler:
        wh = self.ctx.fresh_dir("warehouse")
        return Crawler(self.ctx.spark, wh, self.pages, self.cfg)

    def run_pass(self, spans) -> dict:
        """One timed pass; returns its wall times and counts."""
        out = self._crawl_pass(spans)
        self.passes.append(out)
        return out

    def _crawl_pass(self, spans, iterations: int | None = None) -> dict:
        crawler = self.crawler or self._new_crawler()
        self.crawler = None
        if self.steady:
            seed_args = {"seed_df": self.pages.select("url")}
        else:
            seed_args = {
                "seed_urls": [_url(p, self.n) for p in bfs_seed_ids(self.ctx.seed)]
            }
        t0 = time.time()
        with spans("crawl.seed"):
            crawler.seed(**seed_args)
        run_start = datetime.now(timezone.utc)
        iter_s = []
        for i in range(1, (iterations or self.cfg.max_iterations) + 1):
            ti = time.time()
            with spans(f"crawl.iter.{i}"):
                m = crawler.run_iteration(i, run_start)
            iter_s.append(time.time() - ti)
            if m["fetched"] == 0:
                crawler.flush_pending()
                if m["selected"] == 0 and m["new_urls"] == 0:
                    break
        with spans("crawl.flush"):
            crawler.flush_pending()
        crawl_s = time.time() - t0
        out = {"crawler": crawler, "crawl_s": crawl_s, "iter_s": iter_s,
               "iterations": [dict(m) for m in crawler.metrics]}
        if not self.steady:
            with spans("lakehouse.compact"):
                t = time.time()
                crawler.compact(len(iter_s))
                out["compact_s"] = time.time() - t
            with spans("rank"):
                t = time.time()
                out["rank"] = rank.rank_and_persist(crawler)
                out["rank_s"] = time.time() - t
            docs = crawler.read_documents()
            out["search_s"], out["search_hits"] = {}, {}
            for name, query, kw in SEARCHES:
                with spans(f"search.{name}"):
                    t = time.time()
                    hits = search(docs, query, size=SEARCH_K, **kw).collect()
                    out["search_s"][name] = time.time() - t
                out["search_hits"][name] = [r.url_hash for r in hits]
        out["pass_s"] = time.time() - t0
        out["units"] = sum(m["fetched"] + m["new_urls"] for m in out["iterations"])
        return out

    # -- output checks (outside the timed window) ------------------------------

    def check(self, checks) -> None:
        expected = self._expected_counts()
        for k, p in enumerate(self.passes):
            got = [
                {f: m[f] for f in ("selected", "fetched", "new_urls")}
                for m in p["iterations"]
            ]
            checks.expect(f"pass{k}.iteration_counts", got == expected, f"{got} != {expected}")
        last = self.passes[-1]
        crawler = last["crawler"]
        spark = self.ctx.spark
        docs = crawler.read_documents()
        n_docs = docs.count()
        n_fetched = sum(m["fetched"] for m in last["iterations"])
        checks.expect("documents.count", n_docs == n_fetched, f"{n_docs} != {n_fetched}")
        corpus = spark.read.parquet(self.corpus_path).select(
            urlops.url_hash_col("url").alias("url_hash"), F.col("text").alias("want")
        )
        bad = docs.join(corpus, "url_hash", "left").where(
            F.col("want").isNull() | (F.col("text") != F.col("want"))
        ).count()
        checks.expect("documents.text", bad == 0, f"{bad} of {n_docs} differ")
        n_front = crawler.read_frontier().count()
        want_front = (
            self.n if self.steady
            else BFS_SEEDS + sum(m["new_urls"] for m in last["iterations"])
        )
        checks.expect("frontier.count", n_front == want_front, f"{n_front} != {want_front}")
        if not self.steady:
            self._check_rank(checks, crawler, last["rank"])
            self._check_search(checks, crawler, last["search_hits"])

    def _expected_counts(self) -> list[dict]:
        if self.steady:
            return [
                {"selected": s, "fetched": f, "new_urls": 0}
                for s, f in zip(STEADY_EXPECTED["selected"], STEADY_EXPECTED["fetched"])
            ]
        return bfs_oracle(self.n, bfs_seed_ids(self.ctx.seed), BFS_ITERATIONS)

    def _check_rank(self, checks, crawler, result) -> None:
        scores = result.scores
        total = scores.agg(F.sum("score")).first()[0] or 0.0
        checks.expect("rank.sum", abs(total - 1.0) <= 1e-6, f"sum={total!r}")
        ids = scores.select(F.col("id").alias("url_hash"))
        front = crawler.read_frontier().select("url_hash")
        extra = ids.join(front, "url_hash", "left_anti").count()
        missing = front.join(ids, "url_hash", "left_anti").count()
        checks.expect(
            "rank.vertices", extra == 0 and missing == 0,
            f"{extra} scored ids not in the frontier, {missing} frontier ids unscored",
        )
        edges = self.ranked_edge_count = self.ranked_edges(crawler)
        gap = abs(edges - PAGERANK_THRESHOLD) / PAGERANK_THRESHOLD
        checks.expect(
            "rank.edges_vs_threshold", gap >= 0.2,
            f"{edges} edges within 20% of driver_edge_threshold={PAGERANK_THRESHOLD}",
        )

    @staticmethod
    def ranked_edges(crawler) -> int:
        """Edges rank.rank() keeps: both endpoints are frontier vertices."""
        v = crawler.read_frontier().select("url_hash")
        return (
            crawler.read_edges()
            .join(v.withColumnRenamed("url_hash", "src_hash"), "src_hash", "left_semi")
            .join(v.withColumnRenamed("url_hash", "dst_hash"), "dst_hash", "left_semi")
            .count()
        )

    def _check_search(self, checks, crawler, hits) -> None:
        import duckdb

        path = self.ctx.fresh_dir("ranked_docs")
        crawler.read_documents().write.mode("overwrite").parquet(path)
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'"
            )
            for name, query, kw in SEARCHES:
                got = hits[name]
                want = [
                    r[0] for r in con.execute(search_oracle_sql(query, **kw)).fetchall()
                ]
                checks.expect(f"search.{name}", got == want, f"{got} != {want}")
        finally:
            con.close()

    # -- traced-run extras: layer measurements from outside --------------------

    def layer_metrics(self, spans) -> dict:
        last = self.passes[-1]
        crawler = last["crawler"]
        cfg = self.cfg
        iters = last["iterations"]
        out: dict[str, float] = {}
        n_iter = len(iters)
        ph = [m.get("phases", {}) for m in iters]

        def phase(name: str) -> float:
            return sum(p.get(name, 0.0) for p in ph)

        iter_s = last["iter_s"]
        small = min(range(n_iter), key=lambda i: iters[i]["fetched"])
        fetched = sum(m["fetched"] for m in iters)
        selected = sum(m["selected"] for m in iters)
        phase_sum = sum(sum(p.values()) for p in ph)
        out.update({
            "crawl.s": last["crawl_s"],
            "crawl.iterations": n_iter,
            "crawl.iter_s.p50": statistics.median(iter_s),
            "crawl.iter_s.max": max(iter_s),
            "crawl.floor_s": iter_s[small],
            "crawl.state_refresh_s": phase("state_refresh"),
            "crawl.phase_gap_s": last["crawl_s"] - phase_sum,
            "crawl.pages_per_iter.max": max(m["selected"] for m in iters),
            "crawl.pages_per_iter_over_cap": (
                max(m["selected"] for m in iters) / cfg.max_urls_per_iter
                if cfg.max_urls_per_iter else 0.0
            ),
            "frontier.select_s": phase("select"),
            "frontier.selected": selected,
            "fetch.fetched": fetched,
            "fetch.fetched_over_selected": fetched / selected if selected else 0.0,
            "extract.s": phase("extract"),
            "extract.pages": fetched,
            "lakehouse.sink_docs_s": phase("sink_docs"),
            "lakehouse.sink_frontier_s": phase("sink_frontier"),
            "lakehouse.sink_edges_s": phase("sink_edges"),
            "lakehouse.sink_residual_s": phase("sink_writes"),
            "seen.new": sum(m["new_urls"] for m in iters),
        })
        n_bytes = n_files = 0
        for root, _, files in os.walk(crawler.lake.root):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        out["lakehouse.bytes_written"] = n_bytes
        out["lakehouse.files_written"] = n_files
        n_edges = crawler.read_edges().count()
        out["extract.links_per_page"] = n_edges / fetched if fetched else 0.0
        # the reconciled reads a fresh reader does from the disk deltas
        with spans("lakehouse.read_reconcile"):
            t = time.time()
            reader = Crawler(self.ctx.spark, crawler.lake.root, self.pages, cfg)
            for df in (reader.read_frontier(), reader.read_edges(), reader.read_documents()):
                df.write.format("noop").mode("overwrite").save()
            out["lakehouse.read_reconcile_s"] = time.time() - t
        out["lakehouse.compact_s"] = last.get("compact_s", 0.0)
        out.update(self._seen_metrics(crawler, spans))
        if not self.steady:
            out.update(self._rank_metrics(crawler, last, spans))
        return out

    def _seen_metrics(self, crawler, spans) -> dict:
        """Bloom state read back from disk, its observed false-positive rate
        on never-seen keys, and one timed novelty probe."""
        import numpy as np

        spark, cfg = self.ctx.spark, self.cfg
        # the disk Bloom is current after seed/compaction; steady_crawl
        # never compacts, so flush the in-memory shards the same way
        if self.steady:
            crawler.compact(cfg.max_iterations)
        bloom = crawler.lake.read(BLOOM_TABLE)
        fills = []
        for r in bloom.collect():
            bits = np.frombuffer(r.bits, dtype=np.uint8)
            fills.append(int(np.unpackbits(bits).sum()) / r.m_bits)
        front = crawler.read_frontier().select("url_hash")
        probes = spark.range(NEVER_SEEN_PROBES).select(
            F.format_string("http://never-seen-%d.test/q/%d", F.lit(self.ctx.seed), "id")
            .alias("url")
        ).select(urlops.url_hash_col("url").alias("url_hash"))
        probes = probes.join(front, "url_hash", "left_anti").localCheckpoint()
        n_probes = probes.count()
        maybe = seen_ops.bloom_probe(probes, bloom, cfg.bloom_buckets).where(
            "bloom_maybe"
        ).count()
        # one novelty pass over crawl-shaped candidates: every known edge
        # target (all seen) plus the never-seen keys (all new)
        cand = crawler.read_edges().select(
            F.col("dst_hash").alias("url_hash")
        ).distinct().unionByName(probes).localCheckpoint()
        n_cand = cand.count()
        with spans("seen.probe"):
            t = time.time()
            n_new = seen_ops.filter_unseen(cand, front, bloom, cfg.bloom_buckets).count()
            seen_s = time.time() - t
        return {
            "seen.s": seen_s,
            "seen.candidates": n_cand,
            "seen.probe_new": n_new,
            "seen.bloom_fill": statistics.median(fills),
            "seen.bloom_fill.max": max(fills),
            "seen.bloom_fp_rate": maybe / n_probes if n_probes else 0.0,
        }

    def _rank_metrics(self, crawler, last, spans) -> dict:
        with spans("rank.pagerank_only"):
            t = time.time()
            res = rank.rank(crawler)
            res.scores.write.format("noop").mode("overwrite").save()
            pr_s = time.time() - t
        edges = self.ranked_edge_count
        vertices = crawler.read_frontier().count()
        out = {
            "rank.s": last["rank_s"],
            "rank.pagerank_s": pr_s,
            "rank.persist_s": max(last["rank_s"] - pr_s, 0.0),
            "rank.edges": edges,
            "rank.vertices": vertices,
            "rank.supersteps": last["rank"].supersteps,
            "rank.edges_over_threshold": edges / PAGERANK_THRESHOLD,
            "search.s": sum(last["search_s"].values()),
        }
        for name, s in last["search_s"].items():
            out[f"search.{name}_s"] = s
        return out


# -- DuckDB search oracle ------------------------------------------------------------

_TOKS = "list_filter(regexp_split_to_array(lower({c}), '[^\\p{{L}}\\p{{N}}]+'), x -> x <> '')"


def _q_tokens(query: str) -> list[str]:
    return [t for t in re.split(r"[\W_]+", query.lower()) if t]


def search_oracle_sql(
    query: str, mode: str = "match", operator: str = "or", scoring: str = "pagerank"
) -> str:
    """search() semantics (operators/search.py) over a ``documents`` view,
    written independently in DuckDB SQL: BM25 best_fields over text and
    title for ``match``, occurrences/tokens over text for ``phrase``."""
    toks = _q_tokens(query)
    if mode == "phrase":
        m = len(toks)
        lit = "[" + ", ".join(f"'{t}'" for t in toks) + "]"
        occ = f"len(list_filter(range(1, len(tt) - {m - 2}), i -> tt[i:i+{m - 1}] = {lit}))"
        scored = f"""
          SELECT url_hash, pagerank, {occ}::DOUBLE / len(tt) AS score,
                 {occ} > 0 AS matched
          FROM (SELECT *, {_TOKS.format(c='text')} AS tt FROM documents)"""
    else:
        parts, stats = [], ["count(*)::DOUBLE AS n"]
        for fld, alias in (("text", "tt"), ("title", "ti")):
            stats.append(f"avg(len({alias}))::DOUBLE AS avgdl_{alias}")
            terms, hits = [], []
            for i, t in enumerate(toks):
                stats.append(
                    f"sum(CASE WHEN list_contains({alias}, '{t}') THEN 1 ELSE 0 END)::DOUBLE"
                    f" AS df_{alias}_{i}"
                )
                tf = f"len(list_filter({alias}, x -> x = '{t}'))::DOUBLE"
                terms.append(
                    f"ln((n - df_{alias}_{i} + 0.5) / (df_{alias}_{i} + 0.5) + 1.0)"
                    f" * ({tf} * 2.2) / ({tf} + 1.2 * (0.25 + 0.75 * len({alias})"
                    f" / greatest(avgdl_{alias}, 1e-9)))"
                )
                hits.append(f"{tf} > 0")
            joiner = " AND " if operator == "and" else " OR "
            ok = f"(({joiner.join(hits)}) AND len({alias}) > 0)"
            parts.append((ok, f"CASE WHEN {ok} THEN {' + '.join(terms)} ELSE 0.0 END"))
        scored = f"""
          SELECT url_hash, pagerank, greatest({parts[0][1]}, {parts[1][1]}) AS score,
                 {parts[0][0]} OR {parts[1][0]} AS matched
          FROM (SELECT *, {_TOKS.format(c='text')} AS tt,
                          {_TOKS.format(c='title')} AS ti FROM documents)
          CROSS JOIN (SELECT {', '.join(stats)} FROM (
              SELECT {_TOKS.format(c='text')} AS tt, {_TOKS.format(c='title')} AS ti
              FROM documents))"""
    if scoring == "function_score":
        order = "score + coalesce(pagerank, 0.0) DESC, url_hash"
    else:
        order = "pagerank DESC NULLS LAST, score DESC, url_hash"
    return f"SELECT url_hash FROM ({scored}) WHERE matched ORDER BY {order} LIMIT {SEARCH_K}"
