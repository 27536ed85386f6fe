"""corpus_ops: the corpus operators behind ``__spark_entry__.queries()``.

Each leaf is ``queries()[name](spark, data_dir)`` collected to the driver,
in the fixed order of ``LEAVES`` (``bench.py``'s order), so the inputs
are the same for every --seed.  A seeded order was tried: leaves reuse
work earlier ones left behind, and the pass total moved by about 12%
between two orders, more than the run-to-run noise.  Set-up runs every
leaf once (its first execution); the timed passes run warm.  The leaves
read the ``documents``, ``embeddings`` and ``events`` tables shipped in
``perfbench/data`` (the sf0.01 test tables, the only ones they read).
Outside the timed window the collected rows are hash-compared with
DuckDB running its ``oracle_sql()``; ``bpe_merges`` has no SQL oracle and
is checked for rows only, its documented exemption.

Two oracles take about a minute in DuckDB (``corpus_prepared``,
``dedup_minhash_pairs``), so the oracle digests are recorded in
``oracle_digests.json`` with a hash of the SQL and of the data they came
from; a leaf whose SQL or data no longer matches is re-run in DuckDB.
Re-record with ``PYTHONPATH=. python3 perfbench/corpus_ops.py``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import time

import __spark_entry__ as entry

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "oracle_digests.json")
TABLES = ("documents", "embeddings", "events")

# One or two leaves per functions.* module, in bench.py's order, sized so
# a cold pass fits the run: the full 40-leaf bench.py list takes about
# 55 s cold on local[4].
LEAVES = [
    "dedup_exact_survivors",      # functions.dedup
    "dedup_minhash_pairs",        # functions.dedup (MinHash kernel)
    "knn_join_exact",             # functions.simsearch
    "lm_perplexity_scores",       # functions.lm
    "nb_quality_scores",          # functions.classifier
    "bpe_merges",                 # functions.bpe
    "packed_sequences",           # functions.packing
    "gopher_repetition_full",     # functions.textstats
    "corpus_prepared",            # functions.corpus (funnel)
    "pii_scrubbed",               # functions.scrub
    "text_quality_stats",         # functions.textstats
    "search_bm25_ranked",         # operators.search over the sf documents
]
ROWS_ONLY = {"bpe_merges"}


def _all_queries() -> dict:
    return {**entry.legacy_queries(), **entry.queries()}


def _all_sql() -> dict:
    return {**entry.legacy_oracle_sql(), **entry.oracle_sql()}


def _sha(text: bytes) -> str:
    return hashlib.sha256(text).hexdigest()


def _data_sha() -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA_DIR, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _duckdb():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(DATA_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_digests(names, cache_path: str | None = None) -> dict[str, dict]:
    """name -> {"columns", "digest", "rows"} of DuckDB running oracle_sql()[name].

    Served from the recorded file (or ``cache_path``) when the SQL text and
    the data hash both match; otherwise computed now and cached."""
    sql, data_sha = _all_sql(), _data_sha()
    known = {}
    for path in (DIGESTS, cache_path):
        if path and os.path.exists(path):
            with open(path) as f:
                known.update(json.load(f))
    out, fresh, con = {}, {}, None
    try:
        for name in names:
            key = f"{name}:{_sha(sql[name].encode())}:{data_sha}"
            if key not in known:
                con = con or _duckdb()
                odf = con.execute(sql[name]).df()
                cols = list(odf.columns)
                known[key] = fresh[key] = {
                    "columns": sorted(cols),
                    "digest": _digest(odf.to_dict("records"), cols),
                    "rows": len(odf),
                }
            out[name] = known[key]
    finally:
        if con is not None:
            con.close()
    if fresh and cache_path:
        with open(cache_path, "w") as f:
            json.dump({**known, **fresh}, f, indent=1, sort_keys=True)
    return out


def _digest(rows: list[dict], columns: list[str]) -> str:
    """Order-free hash of a result, floats rounded to 6 places."""
    norm = []
    for row in rows:
        vals = []
        for c in sorted(columns):
            v = row[c]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(str(v))
        norm.append("\x1f".join(vals))
    return hashlib.sha256("\x1e".join(sorted(norm)).encode()).hexdigest()


class CorpusOpsBench:
    NOMINAL_PASS_S = 20.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.passes: list[dict] = []

    def setup(self) -> dict:
        spark, t = self.ctx.spark, time.time()
        missing = [q for q in LEAVES if q not in _all_queries()]
        if missing:
            raise RuntimeError(f"leaves not registered: {missing}")
        for name in TABLES:
            spark.read.parquet(os.path.join(DATA_DIR, f"{name}.parquet")).count()
        corpus_s = time.time() - t
        t = time.time()
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        # The first execution of each leaf (planning, codegen, Python
        # worker start) is set-up here, timed into setup_s; the timed
        # passes run warm.  Cold passes of identical code spread about 20%
        # between runs, every leaf slower or faster together.
        self.first_s = self._leaves(lambda name: contextlib.nullcontext())
        return {"corpus_s": corpus_s, "warmup_s": time.time() - t}

    def _leaves(self, span) -> dict[str, float]:
        qs = _all_queries()
        leaf_s, self.results = {}, {}
        for name in LEAVES:
            with span(name):
                t = time.time()
                # collected rather than written to bench.py's noop sink: the
                # oracle check needs the rows, and a second execution per
                # leaf does not fit the run budget
                df = qs[name](self.ctx.spark, DATA_DIR)
                self.results[name] = (df.columns, [r.asDict() for r in df.collect()])
                leaf_s[name] = time.time() - t
        return leaf_s

    def run_pass(self, spans) -> dict:
        t0 = time.time()
        leaf_s = self._leaves(lambda name: spans(f"corpus_ops.{name}"))
        out = {"pass_s": time.time() - t0, "leaf_s": leaf_s, "units": len(LEAVES)}
        self.passes.append(out)
        return out

    def check(self, checks) -> None:
        """Checks the last pass's rows (every pass runs the same plans)."""
        want = oracle_digests(
            [n for n in LEAVES if n not in ROWS_ONLY],
            os.path.join(self.ctx.cache_dir, "oracle_digests.json"),
        )
        for name in LEAVES:
            columns, rows = self.results[name]
            if name in ROWS_ONLY:
                checks.expect(f"{name}.rows", len(rows) > 0, "no rows")
                continue
            w = want[name]
            ok = (
                sorted(columns) == w["columns"]
                and len(rows) == w["rows"] > 0
                and _digest(rows, columns) == w["digest"]
            )
            checks.expect(f"{name}.oracle", ok, f"{len(rows)} rows, hash mismatch")

    def layer_metrics(self, spans) -> dict:
        last = self.passes[-1]
        out = {"corpus_ops.s": last["pass_s"], "corpus_ops.first_s": sum(self.first_s.values())}
        for name in LEAVES:
            out[f"corpus_ops.{name}_s"] = last["leaf_s"][name]
            out[f"corpus_ops.first.{name}_s"] = self.first_s[name]
        return out


if __name__ == "__main__":
    # record the DuckDB oracle digests shipped beside this file
    if os.path.exists(DIGESTS):
        os.remove(DIGESTS)
    oracle_digests([n for n in LEAVES if n not in ROWS_ONLY], DIGESTS)
