"""Plan-shape assertions: pushdown, pruning, codegen, join strategy.

These lock in the properties SURVEY.md §4 delegates to Catalyst — if a
refactor breaks filter pushdown or accidentally forces a cartesian join,
these fail before any benchmark notices.
"""

import pyspark.sql.functions as F

from go_crawler_spark import plans

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    pushed = plans.pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed


def test_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    scans = plans.read_schema_columns(df)
    assert scans and set(scans[0]) == {"l_orderkey", "l_quantity"}


def test_whole_stage_codegen_on_native_ops(spark):
    # bpe_token_estimate is regexp/length-based (codegen-able); the
    # tokenizer path uses higher-order functions which Spark evaluates
    # outside codegen by design.
    from go_crawler_spark.functions.textstats import bpe_token_estimate_col

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", bpe_token_estimate_col("text")
    )
    assert plans.has_codegen(df)


def test_small_dims_broadcast(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.legacy_queries()["star_join_revenue"](spark, SF)
    strategies = plans.join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_anti_join_not_cartesian(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["anti_join_unseen"](spark, SF)
    assert "CartesianProduct" not in plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plans.formatted_plan(df)


def _tiny_frontier(spark):
    return spark.createDataFrame(
        [(i, f"http://h{i%3}.test/p/{i}", f"h{i%3}.test", 1.0, 0, None, None)
         for i in range(100)],
        "url_hash long, url string, host string, priority double, "
        "discovered_iter int, retrieved_at timestamp, last_attempt timestamp",
    )


def test_politeness_default_budget_plan(spark):
    """Plain budget: ONE shuffle, with a map-side partial top-k
    (WindowGroupLimit Partial) so the mega-host never serializes a task."""
    from go_crawler_spark.operators.frontier import politeness_select

    out = politeness_select(_tiny_frontier(spark), default_budget=5)
    plan = plans.formatted_plan(out)
    assert plans.shuffle_count(out) == 1, plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_politeness_overrides_salted_plan(spark):
    """Per-host overrides: the explicit salted two-phase top-k (2 shuffles
    for the windows + the broadcast side stays broadcast)."""
    from go_crawler_spark import tables
    from go_crawler_spark.operators.frontier import politeness_select

    budgets = spark.createDataFrame([("h0.test", 2)], tables.HOST_BUDGETS_SCHEMA)
    out = politeness_select(_tiny_frontier(spark), budgets, default_budget=5)
    plan = plans.formatted_plan(out)
    assert plans.shuffle_count(out) <= 3, plan
    assert "BroadcastHashJoin" in plan, plan
    # correctness: caps enforced
    import pyspark.sql.functions as F
    counts = {r.host: r["count"] for r in out.groupBy("host").count().collect()}
    assert counts["h0.test"] == 2
    assert all(v <= 5 for v in counts.values())


def test_politeness_salted_quota_budget_and_cap(spark):
    """salted_quota: per-host total <= budget; global cap <= max_urls;
    no per-host global sort anywhere in the plan."""
    import pyspark.sql.functions as F
    from go_crawler_spark.operators.frontier import politeness_select

    rows = [(i, f"http://h{i % 3}.test/{i}", f"h{i % 3}.test", 1.0, 0, None, None)
            for i in range(600)]
    df = spark.createDataFrame(
        rows,
        "url_hash long, url string, host string, priority double, "
        "discovered_iter int, retrieved_at timestamp, last_attempt timestamp",
    )
    out = politeness_select(df, None, default_budget=37, salt_buckets=16,
                            mode="salted_quota")
    per_host = {r.host: r.c for r in out.groupBy("host").agg(F.count("*").alias("c")).collect()}
    assert all(c <= 37 for c in per_host.values()) and per_host

    capped = politeness_select(df, None, default_budget=1000, salt_buckets=16,
                               max_urls_per_iter=50, mode="salted_quota")
    n = capped.count()
    assert n <= 50
    # deterministic across invocations
    a = {r.url_hash for r in capped.collect()}
    b = {r.url_hash for r in politeness_select(
        df, None, default_budget=1000, salt_buckets=16,
        max_urls_per_iter=50, mode="salted_quota").collect()}
    assert a == b


def test_seed_df_bulk_seeding(spark, tmp_warehouse):
    """Distributed frontier seeding from a DataFrame matches list seeding."""
    from go_crawler_spark import fixtures
    from go_crawler_spark.crawl import Crawler, CrawlConfig

    pages = fixtures.synth_pages(spark, 200, 4, skew=0.3, out_links=4)
    cr = Crawler(spark, tmp_warehouse, pages, CrawlConfig(max_iterations=2, bloom_buckets=4))
    cr.run(seed_df=pages.select("url"))
    fr = cr.read_frontier()
    assert fr.count() >= 200  # every corpus URL seeded (plus discoveries)
    assert cr.metrics[0]["fetched"] > 0


def test_robots_txt_parse_and_filter(spark, tmp_warehouse):
    """robots.txt body -> disallow dimension -> crawl respects it."""
    from go_crawler_spark import fixtures
    from go_crawler_spark.crawl import Crawler, CrawlConfig
    from go_crawler_spark.operators.frontier import parse_robots_txt, robots_table

    body = """
# comments ignored
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /p/1
"""
    assert parse_robots_txt(body, "gcs-crawler/1.0") == ["/p/1"]
    assert parse_robots_txt(body, "evilbot") == ["/"]

    pages = fixtures.synth_pages(spark, 60, 1, skew=0.0, out_links=4)
    robots = robots_table(spark, [("host0.test", body)])
    cr = Crawler(
        spark, tmp_warehouse, pages,
        CrawlConfig(max_iterations=6, bloom_buckets=4), robots=robots,
    )
    cr.run(seed_df=pages.select("url"))
    fetched = {r.url for r in cr.read_documents().collect()}
    # /p/1* is disallowed as a prefix; nothing under it may be fetched
    assert fetched and not any("/p/1" in u for u in fetched)


def test_bm25_stats_join_is_broadcast(spark):
    """BM25's 1-row corpus-stats dimension must reach the documents scan
    as a broadcast, never a shuffle or cartesian over the corpus."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["search_bm25_ranked"](spark, SF)
    p = plans.formatted_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # broadcast 1-row cross join
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_phrase_and_native_simhash_plans_python_free(spark):
    """Token-positional phrase match and the pure-Column SimHash must
    stay JVM-side: no Python evaluation anywhere in their plans."""
    from go_crawler_spark.functions.dedup import simhash_col_native
    from go_crawler_spark.functions.textstats import tokens_col
    from go_crawler_spark.operators.search import phrase_match

    d = spark.read.parquet(f"{SF}/documents.parquet")
    matched, occ = phrase_match(tokens_col("text"), ["hash", "join"])
    for df in (
        d.where(matched).select("doc_id", occ.alias("occ")),
        d.select("doc_id", simhash_col_native("text")),
    ):
        p = plans.formatted_plan(df)
        assert "Python" not in p and "ArrowEval" not in p, p[:500]


def test_seed_df_uppercase_scheme_survives(spark, tmp_warehouse):
    """Bulk seed_df canonicalization lowercases the scheme so
    'HTTP://...' seeds merge with the urlsplit-lowercased seed_urls
    path instead of being silently dropped (review r3 finding)."""
    from go_crawler_spark.crawl import Crawler, CrawlConfig
    from go_crawler_spark import fixtures

    pages = fixtures.synth_pages(spark, 20, n_hosts=2, skew=0.3)
    c = Crawler(spark, tmp_warehouse, pages, CrawlConfig(max_iterations=1, bloom_buckets=4))
    seeds = spark.createDataFrame(
        [("HTTP://host0.test/p/0#frag",), ("https://host1.test/p/1",),
         ("ftp://nope.test/x",)],
        "url string",
    )
    c.seed(seed_df=seeds)
    got = {r.url for r in c.read_frontier().collect()}
    assert got == {"http://host0.test/p/0", "https://host1.test/p/1"}


def test_plan_helpers_count_and_split_correctly(spark):
    """join_strategies returns ONE entry per physical join; pushed_filters
    keeps comma-bearing filters whole (review r3 batch 4)."""
    import __spark_entry__ as entry_mod

    star = entry_mod.legacy_queries()["star_join_revenue"](spark, SF)
    assert len(plans.join_strategies(star)) == len(
        [l for l in plans.formatted_plan(star).splitlines()
         if l.strip().startswith("(") and "Join" in l.split(")")[1][:30]]
    )
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .where(F.col("l_linenumber").isin(2, 4, 6))
        .select("l_orderkey")
    )
    pf = plans.pushed_filters(df)
    assert any(p.startswith("GreaterThan(") and p.endswith(")") for p in pf), pf
    assert all(p.count("(") == p.count(")") for p in pf), pf


def test_robots_crawl_delay_does_not_merge_groups():
    """Any non-user-agent directive ends a group's agent list (RFC 9309):
    a Crawl-delay between groups must not merge their agents."""
    from go_crawler_spark.operators.frontier import parse_robots_txt

    txt = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots_txt(txt, user_agent="a") == []       # a's group: no rules
    assert parse_robots_txt(txt, user_agent="b") == ["/x"]   # b's group intact


def test_repetition_stats_zero_shuffle_python_free(spark):
    """The Gopher repetition filters must stay one codegen'd projection:
    no Exchange (per-doc sorted-array run-lengths, not a gram groupBy)
    and no Python evaluation."""
    from go_crawler_spark.functions.textstats import repetition_stats

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = repetition_stats(d)
    p = plans.formatted_plan(df)
    assert plans.shuffle_count(df) == 0, p[:800]
    assert "Python" not in p and "ArrowEval" not in p, p[:500]


def test_duplicate_spans_plan_shape(spark):
    """Exact-substring span dedup: ids+hashes shuffles only — no
    cartesian, no broadcast-NLJ, no Python; the duplicate-key side of
    the semi join is pre-aggregated (HashAggregate feeds the join)."""
    from go_crawler_spark.functions.dedup import duplicate_ngram_spans

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = duplicate_ngram_spans(d, n=8)
    p = plans.formatted_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Python" not in p and "ArrowEval" not in p, p[:500]
    assert "LeftSemi" in p, p[:500]


def test_robots_rule_cap_bounds_hostile_bodies():
    """A hostile robots.txt cannot impose unbounded rules (broadcast
    bloat + per-URL prefix-scan multiplication in robots_filter)."""
    from go_crawler_spark.operators.frontier import (
        MAX_ROBOTS_RULES,
        parse_robots_txt,
    )

    body = "User-agent: *\n" + "\n".join(
        f"Disallow: /p{i}" for i in range(MAX_ROBOTS_RULES * 3)
    )
    rules = parse_robots_txt(body)
    assert len(rules) == MAX_ROBOTS_RULES
    assert rules[0] == "/p0"          # first rules win
    assert parse_robots_txt(body, max_rules=10) == [f"/p{i}" for i in range(10)]


def test_filter_unseen_probe_is_keys_only(spark):
    """The slim novelty kernel (VERDICT r4): every byte through the
    Bloom probe's Arrow stage is 8-byte hashes — the ArrowEvalPython
    node's input must not carry the candidates' url/host strings; the
    fat columns re-enter only via the final left-semi join."""
    from go_crawler_spark.operators import seen as seen_ops

    cands = spark.createDataFrame(
        [(i, f"http://h{i%3}.test/p/{i}", f"h{i%3}.test") for i in range(50)],
        "url_hash long, url string, host string",
    )
    url_seen = spark.createDataFrame([(i,) for i in range(0, 50, 2)], "url_hash long")
    bloom = seen_ops.update_bloom(
        seen_ops.empty_bloom(spark, num_buckets=4, capacity_per_bucket=100),
        url_seen, num_buckets=4,
    )

    out = seen_ops.filter_unseen(cands, url_seen, bloom, num_buckets=4)
    got = {r.url_hash for r in out.collect()}
    assert got == set(range(1, 50, 2))  # behavior: odd hashes are unseen
    assert set(out.columns) == {"url_hash", "url", "host"}  # payload recovered

    plan = plans.formatted_plan(out)
    probe_lines = [
        ln for ln in plan.splitlines() if "ArrowEvalPython" in ln or "FlatMapCoGroups" in ln
    ]
    assert probe_lines, "bloom probe stage missing from plan"
    for ln in probe_lines:
        assert "url#" not in ln and "host#" not in ln, ln
    assert "LeftSemi" in plan


def test_filter_unseen_exact_plan_is_one_anti_join(spark):
    """Without a Bloom (the crawl's path) the novelty plan is
    Python-free: no cogrouped pandas stage, no Arrow round-trip, and
    exactly one join — a LEFT ANTI of the url_hash-partitioned candidates
    against the seen keys (no keys-only anti-join + semi-join recovery)."""
    from go_crawler_spark.operators import seen as seen_ops

    cands = spark.createDataFrame(
        [(i, f"http://h{i%3}.test/p/{i}", f"h{i%3}.test") for i in range(50)],
        "url_hash long, url string, host string",
    ).repartition(8, "url_hash")
    url_seen = spark.createDataFrame([(i,) for i in range(0, 50, 2)], "url_hash long")

    out = seen_ops.filter_unseen(cands, url_seen, None)
    # before execution: AQE's executed plan would list the join twice
    # (final and initial plan)
    plan = plans.formatted_plan(out)
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert len(plans.join_strategies(out)) == 1
    assert plan.count("Join type: LeftAnti") == 1
    assert "LeftSemi" not in plan

    assert {r.url_hash for r in out.collect()} == set(range(1, 50, 2))
    assert set(out.columns) == {"url_hash", "url", "host"}


def test_paragraph_dedup_plan_shape(spark):
    """Paragraph dedup must be Python-free, never cartesian, and the
    winner side of the join must be a pre-aggregated HashAggregate (the
    map-side-combine shape that absorbs the boilerplate hot key) —
    not a window, which would funnel every occurrence of a hot
    paragraph into one partition."""
    from go_crawler_spark.functions.dedup import paragraph_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = paragraph_dedup(d)
    p = plans.formatted_plan(df)
    assert "Python" not in p and "ArrowEval" not in p, p[:500]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p, p[:500]
    assert "HashAggregate" in p


def test_lm_score_plan_shape(spark):
    """LM scoring stays JVM-side end to end: no Python, no cartesian
    pair generation (the only cross join is the broadcast 1-row vocab
    scalar), and the count-model joins are equi-joins."""
    from go_crawler_spark.functions import lm

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = lm.score_perplexity(d, lm.train_bigram_lm(d))
    p = plans.formatted_plan(df)
    assert "Python" not in p and "ArrowEval" not in p, p[:500]
    assert "CartesianProduct" not in p, p[:800]
    # the vocab scalar joins as a broadcast nested loop over ONE row —
    # assert it is broadcast, and that no non-broadcast NLJ exists
    assert "BroadcastExchange" in p


def test_semdedup_jvm_assignment_broadcasts_centroids(spark):
    """The small-C assignment path must broadcast the centroid table
    (never shuffle the corpus against it) and drop the embedding before
    the argmax aggregation (the slim-projection invariant: no
    'embedding' column may appear above the centroid join in the
    aggregate's input)."""
    from go_crawler_spark.functions import semdedup

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    assigned = semdedup.assign_clusters(e, semdedup.centroids_by_id(e, 8))
    p = plans.formatted_plan(assigned)
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_merged_dup_coverage_zero_shuffle_python_free(spark):
    """The published-rule merged coverage must keep the repetition
    invariants: one codegen'd projection, no Exchange, no Python."""
    from go_crawler_spark.functions.textstats import repetition_stats_merged

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = repetition_stats_merged(d)
    p = plans.formatted_plan(df)
    assert plans.shuffle_count(df) == 0, p[:800]
    assert "Python" not in p and "ArrowEval" not in p, p[:500]


def test_gopher_dup_structure_zero_shuffle_python_free(spark):
    """The line/paragraph half of Gopher's repetition table must be one
    shuffle-free, Python-free projection like its n-gram siblings."""
    from go_crawler_spark.functions.textstats import gopher_dup_structure

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = gopher_dup_structure(d)
    p = plans.formatted_plan(df)
    assert plans.shuffle_count(df) == 0, p[:800]
    assert "Python" not in p and "ArrowEval" not in p, p[:500]


def test_boilerplate_lines_broadcast_anti_join(spark):
    """The offender table (one row per boilerplate line) must reach the
    corpus side as a broadcast LEFT ANTI join — never a shuffled join
    on the hot line-hash key, never a cartesian."""
    from go_crawler_spark.functions.dedup import boilerplate_lines

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = boilerplate_lines(d, min_doc_frac=0.05)
    p = plans.formatted_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p[:800]
