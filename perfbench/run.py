"""Crawl-engine benchmark: one workload per run on local[<cores>].

    python3 perfbench/run.py --workload bfs_crawl --seed 1 --seconds 25 --trace 0

Run from the repository root.  Workloads, metrics and the reasons for
both are declared in BENCHMARK.json; this file reads the metric names and
units from there.  A run

1. starts one Spark session on local[<cores>] with as many shuffle
   partitions as cores (AQE on), the repository root on the Python
   workers' path, and every scratch file under ``.perfbench_work/``;
2. sets up: generates the inputs once into ``.perfbench_cache/`` or loads
   them, then warms the JVM and the Python workers (``setup_s``);
3. runs ``--seconds`` // the workload's nominal pass time timed passes
   (at least one), sampling CPU and RSS of the whole process tree, and
   reports the median pass;
4. checks the outputs outside the timed window;
5. prints one JSON line: end-to-end metrics with ``--trace 0``; with
   ``--trace 1`` the per-layer table, from ``CrawlConfig(profile_phases=
   True)``, the Spark event log and the benchmark's own spans.

``--cores`` overrides the core count (the single-core baseline in
``perfbench/scaling.py`` uses it).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bfs_crawl", "steady_crawl", "corpus_ops")


class Checks:
    """Counts output checks; a failed one is reported on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)


class Spans:
    """Benchmark-side spans around public calls, kept in memory."""

    def __init__(self):
        self.rows: list[tuple[str, float, float]] = []
        self.prefix = ""

    @contextlib.contextmanager
    def __call__(self, name: str):
        name, t = self.prefix + name, time.time()
        try:
            yield
        finally:
            self.rows.append((name, t, time.time()))


class Context:
    def __init__(self, spark, seed: int, trace: bool, cache_dir: str, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.trace = trace
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work_dir, f"{tag}-{self._n}")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None)
    return ap.parse_args(argv)


def _steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    for need in ("go_crawler_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = args.cores or len(os.sched_getaffinity(0))
    cache_dir = os.path.join(ROOT, ".perfbench_cache")
    work_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    os.makedirs(cache_dir, exist_ok=True)
    # Python workers import go_crawler_spark: they need the root on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp_dir
    # no JVM (launcher or driver) writes its perf counters to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        return _run(args, spec, cores, cache_dir, work_dir, tmp_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, spec, cores, cache_dir, work_dir, tmp_dir) -> int:
    from perfbench import eventlog, proctree

    t0 = time.time()
    from go_crawler_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        # a 2 GB heap instead of the session's 8 GB default keeps the
        # run small on a shared machine; the workloads need far less
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}",
        "spark.sql.adaptive.enabled": "true",
    }
    log_dir = os.path.join(work_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(eventlog.event_log_conf(log_dir))
    spark = get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)
    session_s = time.time() - t0
    ctx = Context(spark, args.seed, bool(args.trace), cache_dir, work_dir)
    if args.workload == "corpus_ops":
        from perfbench.corpus_ops import CorpusOpsBench

        bench = CorpusOpsBench(ctx)
    else:
        from perfbench.crawl_workloads import CrawlBench

        bench = CrawlBench(ctx, args.workload)

    checks = Checks()
    spans = Spans()
    timing = {}
    passes, layers = [], {}
    try:
        setup = bench.setup()
        window0, steal0 = time.time(), _steal_s()
        timing["setup_s"] = window0 - t0
        # a pass count fixed by --seconds, not by how fast the passes ran:
        # a timing-dependent count mixes slower first passes into some
        # medians and not others
        n_passes = max(1, int(args.seconds // bench.NOMINAL_PASS_S))
        with proctree.PeakRss() as rss:
            for k in range(n_passes):
                cpu0 = proctree.tree_cpu_s()
                py0 = proctree.tree_cpu_s(python_workers_only=True)
                spans.prefix = f"p{k}/"
                p = bench.run_pass(spans)
                p["cpu_s"] = proctree.tree_cpu_s() - cpu0
                p["python_cpu_s"] = proctree.tree_cpu_s(python_workers_only=True) - py0
                passes.append(p)
        spans.prefix = "post/"
        timing["window_s"] = time.time() - window0
        timing["window_steal_s"] = _steal_s() - steal0
        t_check = time.time()
        bench.check(checks)
        if args.trace:
            layers = bench.layer_metrics(spans)
    except Exception:
        traceback.print_exc()
        checks.attempted += 1
        checks.failed += 1
    finally:
        timing["check_s"] = time.time() - t_check if "window_s" in timing else 0.0
        _stop_jvm(spark)
        timing["total_s"] = time.time() - t0
    attempted = checks.attempted + sum(
        len(p.get("iterations", ())) + len(p.get("search_s", {})) + len(p.get("leaf_s", {}))
        + (1 if "rank_s" in p else 0)
        for p in passes
    )
    if not passes:
        metrics = {}
    elif args.trace:
        metrics = _layer_table(spec, layers, spans, log_dir, passes, setup, session_s, rss.peak)
    else:
        metrics = _end_to_end(spec, passes, setup, session_s)
    print(json.dumps({"config": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{cores}]", "shuffle_partitions": cores,
        "aqe": True, "passes": len(passes),
        "timing_s": {k: round(v, 2) for k, v in timing.items()},
        "pass_detail_s": [_detail(p) for p in passes],
    }}))
    print(json.dumps({
        "correct": checks.failed == 0 and bool(passes),
        "attempted": max(attempted, 1),
        "failed": checks.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _detail(p: dict) -> dict:
    out = {k: round(p[k], 2) for k in ("crawl_s", "compact_s", "rank_s") if k in p}
    if "iter_s" in p:
        out["iter_s"] = [round(v, 2) for v in p["iter_s"]]
    for k in ("search_s", "leaf_s"):
        if k in p:
            out[k] = {n: round(v, 2) for n, v in p[k].items()}
    return out


def _units_per_s(p: dict) -> float:
    # crawls: bench.py's headline, (fetched + new_urls) / seed->drain wall;
    # corpus_ops: leaves completed per second
    return p["units"] / p.get("crawl_s", p["pass_s"])


def _end_to_end(spec, passes, setup, session_s) -> dict:
    values = {
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "units_per_s": statistics.median(_units_per_s(p) for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "setup_s": session_s + setup["corpus_s"] + setup["warmup_s"],
    }
    return {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec["end_to_end"]
    }


def _layer_table(spec, layers, spans, log_dir, passes, setup, session_s, peak_rss) -> dict:
    from perfbench import eventlog

    last = passes[-1]
    values = dict(layers)
    rows = eventlog.per_span(log_dir, spans.rows)
    prefix = f"p{len(passes) - 1}/"
    whole = eventlog.total(rows, prefix)
    iters = eventlog.total(rows, prefix + "crawl.iter.")
    n_iter = len(last.get("iterations", ())) or 1
    fetched = sum(m["fetched"] for m in last.get("iterations", ()))
    values.update({
        "session.jobs_per_iter": iters["jobs"] / n_iter,
        "session.stages_per_iter": iters["stages"] / n_iter,
        "session.tasks_per_iter": iters["tasks"] / n_iter,
        "session.jobs": whole["jobs"],
        "session.task_cpu_s": whole["task_cpu_s"],
        "session.task_run_s": whole["task_run_s"],
        "session.gc_s": whole["gc_s"],
        "session.shuffle_write_bytes": whole["shuffle_write_bytes"],
        "session.shuffle_read_bytes": whole["shuffle_read_bytes"],
        "session.spill_bytes": whole["spill_bytes"],
        "session.python_cpu_s": last["python_cpu_s"],
        "session.peak_rss_mb": peak_rss / 2**20,
        "extract.py_cpu_ms_per_page": 1e3 * last["python_cpu_s"] / fetched if fetched else 0.0,
        "trace.pass_s": last["pass_s"],
        "trace.cpu_s": last["cpu_s"],
        "setup.session_s": session_s,
        "setup.corpus_s": setup["corpus_s"],
        "setup.warmup_s": setup["warmup_s"],
    })
    # an idle layer reads 0 on this workload
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer"]
    }


if __name__ == "__main__":
    sys.exit(main())
