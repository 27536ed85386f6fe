"""End-to-end crawl: reference golden web, oracle equivalence, resume.

Mirrors crawler/crawler_integration_test.go:45-122 (exact final link set,
exact title/content strings) and adds the crawl-equivalence + resume tests
from SURVEY.md §5.
"""

import pyspark.sql.functions as F
import pytest

from go_crawler_spark import fixtures, tables
from go_crawler_spark.crawl import Crawler, CrawlConfig
from tests.oracle_crawler import oracle_crawl


def _frontier_map(crawler):
    rows = crawler.read_frontier().collect()
    return {r.url: r.discovered_iter for r in rows}


def _url_by_hash(crawler):
    rows = crawler.read_frontier().select("url_hash", "url").collect()
    return {r.url_hash: r.url for r in rows}


def test_integration_golden_web(spark, tmp_warehouse):
    """The reference's integration test, on Spark."""
    pages = fixtures.golden_pages(spark)
    crawler = Crawler(
        spark, tmp_warehouse, pages, CrawlConfig(max_iterations=5, bloom_buckets=4)
    )
    crawler.run(seed_urls=["http://srv1.test", "http://srv2.test"])

    # exact final link set (crawler_integration_test.go:75-81)
    assert set(_frontier_map(crawler)) == {
        "http://srv1.test",
        "http://srv2.test",
        "http://google.com/absolute/path",
        "http://google.com/relative",
        "http://google.com/ignore-me",
    }

    # exact indexed title/content for both fetched pages (…:83-90)
    docs = {
        r.url: r for r in crawler.read_documents().collect()
    }
    assert set(docs) == {"http://srv1.test", "http://srv2.test"}
    for d in docs.values():
        assert d.title == fixtures.GOLDEN_EXPECTED_TITLE
        assert d.text == fixtures.GOLDEN_EXPECTED_TEXT
        assert d.indexed_at is not None

    # edges: follow links only — no edge to the nofollow target (F8)
    by_hash = _url_by_hash(crawler)
    edges = {
        (by_hash[r.src_hash], by_hash[r.dst_hash])
        for r in crawler.read_edges().collect()
    }
    assert edges == {
        (s, d)
        for s in ("http://srv1.test", "http://srv2.test")
        for d in ("http://google.com/relative", "http://google.com/absolute/path")
    }


N_PAGES, N_HOSTS = 300, 8


@pytest.fixture(scope="module")
def synth(spark):
    pages_df = fixtures.synth_pages(spark, N_PAGES, N_HOSTS, skew=0.3, out_links=6)
    rows = pages_df.collect()
    pages_dict = {
        r.url: {
            "html": bytes(r.html),
            "status": r.status,
            "content_type": r.content_type,
        }
        for r in rows
    }
    seeds = fixtures.seed_urls(N_PAGES, N_HOSTS, skew=0.3)
    return pages_df, pages_dict, seeds


def test_oracle_equivalence_synthetic(spark, tmp_warehouse, synth):
    """Same seeds -> identical URL-seen set, BFS depths, edges, and
    byte-identical extracted text vs the pure-Python oracle."""
    pages_df, pages_dict, seeds = synth
    depth, o_edges, o_docs, o_iters = oracle_crawl(pages_dict, seeds)

    crawler = Crawler(
        spark, tmp_warehouse, pages_df, CrawlConfig(max_iterations=30, bloom_buckets=8)
    )
    crawler.run(seed_urls=seeds)

    got = _frontier_map(crawler)
    assert got == depth  # same URL-seen set AND same BFS discovery depth

    by_hash = _url_by_hash(crawler)
    got_edges = {
        (by_hash[r.src_hash], by_hash[r.dst_hash])
        for r in crawler.read_edges().collect()
    }
    assert got_edges == o_edges

    got_docs = {
        r.url: (r.title, r.text)
        for r in crawler.read_documents().collect()
    }
    assert got_docs == o_docs  # byte-identical title + text per url

    # the per-iteration fetched counts match the oracle's BFS rounds
    got_fetched = [m["fetched"] for m in crawler.metrics if m["fetched"] or m["selected"]]
    assert got_fetched[: len(o_iters)] == [len(s) for s in o_iters]

    # and the expected-text column of the corpus agrees with extraction
    mismatches = (
        crawler.read_documents()
        .join(pages_df.select("url", F.col("text").alias("exp_text")), "url")
        .where(F.col("text") != F.col("exp_text"))
        .count()
    )
    assert mismatches == 0


def test_resume_after_kill(spark, tmp_warehouse, synth):
    """Kill after iteration k -> resume -> identical final state."""
    pages_df, pages_dict, seeds = synth
    depth, *_ = oracle_crawl(pages_dict, seeds)

    # phase 1: run only 2 iterations ("killed" mid-crawl)
    c1 = Crawler(
        spark, tmp_warehouse, pages_df, CrawlConfig(max_iterations=2, bloom_buckets=8)
    )
    c1.run(seed_urls=seeds)
    partial = _frontier_map(c1)
    assert partial != depth  # genuinely interrupted

    # phase 2: fresh Crawler over the same warehouse, resume
    c2 = Crawler(
        spark, tmp_warehouse, pages_df, CrawlConfig(max_iterations=30, bloom_buckets=8)
    )
    c2.run(resume=True)
    assert _frontier_map(c2) == depth


def test_politeness_budget_enforced(spark, tmp_warehouse, synth):
    """Per-host budget: no iteration fetches more than budget URLs/host."""
    pages_df, pages_dict, seeds = synth
    budgets = spark.createDataFrame(
        [("host0.test", 5)], tables.HOST_BUDGETS_SCHEMA
    )
    crawler = Crawler(
        spark,
        tmp_warehouse,
        pages_df,
        CrawlConfig(max_iterations=10, default_host_budget=7, bloom_buckets=8),
        host_budgets=budgets,
    )
    crawler.run(seed_urls=seeds)

    frontier = crawler.read_frontier()
    per_iter_host = (
        frontier.where(F.col("retrieved_at").isNotNull())
        .groupBy("host", "retrieved_at")
        .count()
        .collect()
    )
    for r in per_iter_host:
        cap = 5 if r.host == "host0.test" else 7
        assert r["count"] <= cap, (r.host, r["count"])


def test_robots_disallow(spark, tmp_warehouse):
    pages = fixtures.golden_pages(spark)
    robots = spark.createDataFrame(
        [("srv2.test", ["/"])], tables.ROBOTS_SCHEMA
    )
    crawler = Crawler(
        spark, tmp_warehouse, pages,
        CrawlConfig(max_iterations=3, bloom_buckets=4), robots=robots,
    )
    crawler.run(seed_urls=["http://srv1.test", "http://srv2.test"])
    docs = {r.url for r in crawler.read_documents().collect()}
    assert docs == {"http://srv1.test"}  # srv2 denied by robots


def test_compaction_reuses_untouched_bucket_files(spark, tmp_warehouse, synth):
    """State-table maintenance is O(appended-to buckets), not O(table):
    after a multi-iteration crawl, compacting the bucketed frontier/edges/
    documents reuses the EXACT files of every bucket that accumulated no
    delta dirs, and the reconciled state is unchanged."""
    import os

    pages_df, pages_dict, seeds = synth
    cfg = CrawlConfig(
        max_iterations=3,
        bloom_buckets=8,
        compact_interval=1000,  # no auto-compact: we drive it explicitly
        state_buckets=64,  # many buckets so a small crawl leaves some untouched
        default_host_budget=20,
    )
    crawler = Crawler(spark, tmp_warehouse, pages_df, cfg)
    crawler.run(seed_urls=seeds)

    def bucket_files(spec):
        m = crawler.lake._read_manifest(spec.name)
        dirs = m["snapshots"][m["current"]]["data_dirs"]
        out = {}
        for d in dirs:
            full = os.path.join(crawler.lake._table_dir(spec.name), d)
            out[d] = {
                f: (os.path.getsize(os.path.join(full, f)),
                    os.stat(os.path.join(full, f)).st_mtime_ns)
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
        return out

    pre_frontier = {
        r.url_hash: (r.url, r.retrieved_at) for r in crawler.read_frontier().collect()
    }
    pre_edges = {
        (r.src_hash, r.dst_hash) for r in crawler.read_edges().collect()
    }

    from collections import Counter

    specs = [crawler.t_frontier, crawler.t_edges, crawler.t_documents]
    before = {s.name: bucket_files(s) for s in specs}
    # the crawl must have left BOTH kinds: multi-dir (appended-to) buckets
    # and single-dir (untouched) buckets, or the test proves nothing
    per_bucket = Counter(
        d.rsplit("/", 1)[-1] for d in before["frontier"]
    )
    assert any(c > 1 for c in per_bucket.values())
    assert any(c == 1 for c in per_bucket.values())

    crawler.compact(iteration=999)

    for spec in specs:
        after = bucket_files(spec)
        counts = Counter(d.rsplit("/", 1)[-1] for d in before[spec.name])
        untouched = {b for b, c in counts.items() if c == 1}
        for d, files in before[spec.name].items():
            if d.rsplit("/", 1)[-1] in untouched:
                assert after.get(d) == files, f"{spec.name}: rewrote untouched {d}"
        # appended-to buckets consolidated to exactly one dir each
        after_counts = Counter(d.rsplit("/", 1)[-1] for d in after)
        assert all(c == 1 for c in after_counts.values()), after_counts

    # reconciled state identical after compaction (fresh crawler, disk read)
    c2 = Crawler(spark, tmp_warehouse, pages_df, cfg)
    post_frontier = {
        r.url_hash: (r.url, r.retrieved_at) for r in c2.read_frontier().collect()
    }
    assert post_frontier == pre_frontier
    assert {(r.src_hash, r.dst_hash) for r in c2.read_edges().collect()} == pre_edges


def test_resume_adopts_existing_bucket_count(spark, tmp_warehouse, synth):
    """A resume under a different shuffle-partition setting must adopt
    the warehouse's stored bucket count (table property), not fail or
    mis-prune; an explicitly conflicting state_buckets raises."""
    import pytest

    pages_df, _, seeds = synth
    cfg = CrawlConfig(max_iterations=2, bloom_buckets=8, state_buckets=16)
    c1 = Crawler(spark, tmp_warehouse, pages_df, cfg)
    c1.run(seed_urls=seeds)
    before = {r.url_hash for r in c1.read_frontier().collect()}

    # same warehouse, bucket count left to the session default (32 != 16)
    c2 = Crawler(spark, tmp_warehouse, pages_df, CrawlConfig(max_iterations=3, bloom_buckets=8))
    assert c2.t_frontier.num_buckets == 16  # adopted, not session default
    c2.run(resume=True)
    assert {r.url_hash for r in c2.read_frontier().collect()} >= before

    with pytest.raises(ValueError, match="immutable"):
        Crawler(spark, tmp_warehouse, pages_df, CrawlConfig(state_buckets=8))


def test_robots_denied_urls_do_not_consume_budget(spark, tmp_warehouse):
    """A robots-denied high-priority URL must not occupy its host's
    politeness slot: robots filtering runs BEFORE selection, so allowed
    URLs on the same host still get fetched (review r3 finding)."""
    import pyspark.sql.functions as F
    from go_crawler_spark import fixtures

    pages = fixtures.synth_pages(spark, 30, n_hosts=1, skew=0.0, out_links=0)
    robots = spark.createDataFrame(
        [("host0.test", ["/p/0", "/p/1"])], "host string, robots_disallow array<string>"
    )
    cfg = CrawlConfig(max_iterations=4, bloom_buckets=4, default_host_budget=1)
    c = Crawler(spark, tmp_warehouse, pages, cfg, robots=robots)
    # seeds: two denied URLs (highest priority) + one allowed
    # NB p/2 is a deterministic 503 in the fixture; p/3 is a 200
    c.run(seed_urls=["http://host0.test/p/0", "http://host0.test/p/1",
                     "http://host0.test/p/3"])
    docs = {r.url for r in c.read_documents().collect()}
    assert "http://host0.test/p/3" in docs  # allowed URL was not starved
    assert not {"http://host0.test/p/0", "http://host0.test/p/1"} & docs


def test_resume_rejects_changed_bloom_buckets(spark, tmp_warehouse, synth):
    """The persisted Bloom shard layout is bucketed; a resume with a
    different bloom_buckets must fail loudly, not silently mis-shard."""
    import pytest

    pages_df, _, seeds = synth
    c1 = Crawler(spark, tmp_warehouse, pages_df,
                 CrawlConfig(max_iterations=2, bloom_buckets=8))
    c1.run(seed_urls=seeds)
    c2 = Crawler(spark, tmp_warehouse, pages_df,
                 CrawlConfig(max_iterations=3, bloom_buckets=16))
    with pytest.raises(ValueError, match="bloom"):
        c2.run(resume=True)


def test_url_gate_blocks_discovered_candidates(spark, tmp_warehouse):
    """RefinedWeb URL gate at the frontier: a blocklisted discovered
    domain never enters the frontier/seen-set, seeds and other
    discoveries are untouched, and with the gate off (default) the
    golden link set is the reference's (proving default-off parity)."""
    pages = fixtures.golden_pages(spark)
    bl = spark.createDataFrame([("google.com",)], "domain string")
    crawler = Crawler(
        spark, tmp_warehouse, pages,
        CrawlConfig(max_iterations=5, bloom_buckets=4, url_gate=True),
        url_blocklist=bl,
    )
    crawler.run(seed_urls=["http://srv1.test", "http://srv2.test"])
    # every google.com discovery (absolute/relative/ignore-me) is gated;
    # the seeds themselves are not candidates and crawl normally
    assert set(_frontier_map(crawler)) == {
        "http://srv1.test",
        "http://srv2.test",
    }
    docs = {r.url for r in crawler.read_documents().collect()}
    assert docs == {"http://srv1.test", "http://srv2.test"}
    # no edge may point at a gated URL
    assert crawler.read_edges().count() == 0


def test_manual_iteration_flush_pending_contract(spark, tmp_warehouse):
    """Callers driving run_iteration() directly (not via run()) get a
    PROVISIONAL metrics dict — selected/new_urls None, no checkpoint —
    until flush_pending() joins the in-flight appends; the dict is then
    completed IN PLACE and the iteration's checkpoint record exists."""
    from go_crawler_spark.crawl import _now

    pages = fixtures.golden_pages(spark)
    crawler = Crawler(
        spark, tmp_warehouse, pages,
        CrawlConfig(max_iterations=5, bloom_buckets=4),
    )
    crawler.seed(["http://srv1.test"])
    m = crawler.run_iteration(1, _now())
    assert m["fetched"] == 1                      # exact immediately
    assert m["selected"] is None and m["new_urls"] is None
    # checkpoint deferred: the latest complete record is still the seed
    assert crawler.resume_point()["iteration"] == 0

    done = crawler.flush_pending()
    assert done is m                              # same dict, completed
    assert m["selected"] == 1 and m["new_urls"] is not None
    assert crawler.resume_point()["iteration"] == 1
    assert crawler.flush_pending() is None        # idempotent


def test_all_failed_fetch_iteration_does_not_drain(spark, tmp_warehouse):
    """An iteration where every SELECTED URL fails its fetch (selected>0,
    fetched==0) must not end the crawl while other due URLs remain beyond
    the politeness/global cap — the reference drains only on
    selected==0 ∧ new==0.  With the pipelined sinks those counts live in
    the in-flight append's footers, so the loop must resolve them before
    judging the drain (crawl.py run()); a bare fetched==0 break would
    stop here one iteration early and never index the live seeds."""
    pages = fixtures.golden_pages(spark)
    live = ["http://srv1.test", "http://srv2.test"]
    # politeness order at equal priority is url_hash ASC: pick a dead seed
    # whose xxhash64 sorts before both live seeds so the max_urls_per_iter=1
    # first iteration selects ONLY the dead URL
    cands = [f"http://dead{i}.test" for i in range(40)]
    hashes = {
        r.url: r.h
        for r in spark.createDataFrame(
            [(u,) for u in cands + live], "url string"
        ).select("url", F.xxhash64("url").alias("h")).collect()
    }
    floor = min(hashes[u] for u in live)
    dead = next(u for u in cands if hashes[u] < floor)

    crawler = Crawler(
        spark, tmp_warehouse, pages,
        CrawlConfig(max_iterations=8, bloom_buckets=4, max_urls_per_iter=1),
    )
    crawler.run(seed_urls=[dead] + live)

    # the corner actually happened: iteration 1 selected one URL, fetched none
    m1 = crawler.metrics[0]
    assert m1["selected"] == 1 and m1["fetched"] == 0 and m1["new_urls"] == 0
    # and the crawl went on to fetch the live seeds afterwards
    docs = {r.url for r in crawler.read_documents().collect()}
    assert set(live) <= docs



def _bloom_misses(bloom, keys, buckets):
    """Keys the Bloom filter does not hold (must be none)."""
    from go_crawler_spark.operators import seen as seen_ops

    probed = seen_ops.bloom_probe(keys.select("url_hash"), bloom, buckets)
    return probed.where(~F.col("bloom_maybe")).count()


def test_compaction_bloom_covers_frontier(spark, tmp_warehouse, synth):
    """Novelty in the loop is exact and writes no Bloom; compaction writes
    the durable Bloom table from the frontier keys, so it holds every
    frontier key, and a resume from a record naming it finishes with the
    oracle's URL-seen set and depths."""
    from go_crawler_spark.crawl import BLOOM_TABLE

    pages_df, pages_dict, seeds = synth
    depth, *_ = oracle_crawl(pages_dict, seeds)
    cfg = dict(bloom_buckets=8, compact_interval=2)
    c1 = Crawler(spark, tmp_warehouse, pages_df, CrawlConfig(max_iterations=3, **cfg))
    c1.run(seed_urls=seeds)

    records = c1._load_state()
    assert [r["iteration"] for r in records] == [0, 1, 2, 2, 3]
    assert records[3]["metrics"]["op"] == "compact"
    # seed and iterations 1-2 record no Bloom; the compaction writes one
    # and iteration 3 records that snapshot
    assert ["bloom" in r["snapshots"] for r in records] == [
        False, False, False, True, True
    ]
    snap = records[3]["snapshots"]["bloom"]
    assert records[4]["snapshots"]["bloom"] == snap
    bloom = c1.lake.read(BLOOM_TABLE, snap)
    assert bloom.count() == 8
    at_compaction = c1.lake.read(c1.t_frontier, records[3]["snapshots"]["frontier"])
    assert at_compaction.count() > len(set(seeds))
    assert _bloom_misses(bloom, at_compaction, 8) == 0

    c2 = Crawler(spark, tmp_warehouse, pages_df, CrawlConfig(max_iterations=30, **cfg))
    c2.run(resume=True)
    assert _frontier_map(c2) == depth
    c2.compact(iteration=99)
    assert _bloom_misses(c2.lake.read(BLOOM_TABLE), c2.read_frontier(), 8) == 0


def test_reseed_drops_earlier_bloom(spark, tmp_warehouse, synth):
    """A re-seed drops the Bloom table an earlier crawl's compaction left
    in the warehouse (it holds none of the new seeds), after writing the
    seed record, so the record a resume picks never names it."""
    pages_df, _, seeds = synth
    cfg = CrawlConfig(max_iterations=1, bloom_buckets=8)
    c1 = Crawler(spark, tmp_warehouse, pages_df, cfg)
    c1.run(seed_urls=seeds[:1])
    c1.compact(iteration=1)
    assert c1.lake.current_snapshot("bloom") is not None
    assert "bloom" in c1.resume_point()["snapshots"]

    c2 = Crawler(spark, tmp_warehouse, pages_df, cfg)
    c2.seed(seeds[1:])
    assert c2.lake.current_snapshot("bloom") is None
    assert "bloom" not in c2.resume_point()["snapshots"]
    c2.run(resume=True)
    assert [m["iteration"] for m in c2.metrics] == [1]
