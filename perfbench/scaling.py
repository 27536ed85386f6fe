"""Single-core baseline: steady_crawl traced at local[1] and at local[4].

    python3 perfbench/scaling.py [--seed N]

Runs ``perfbench/run.py --workload steady_crawl --trace 1`` twice, the
single-core run pinned to one CPU with ``taskset``, and prints each
phase's 1->4 efficiency, ``(t_1 / t_4) / 4``.  These are the only two
levels a 4-core machine offers for the north rule's N -> 4N; the result
is evidence, not a gate.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PHASES = [
    "crawl.s", "frontier.select_s", "extract.s", "lakehouse.sink_docs_s",
    "lakehouse.sink_frontier_s", "lakehouse.sink_edges_s",
    "lakehouse.sink_residual_s", "crawl.state_refresh_s",
]


def _traced(cores: int, seed: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", "steady_crawl",
        "--seed", str(seed), "--seconds", "1", "--trace", "1", "--cores", str(cores),
    ]
    cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"local[{cores}] run failed its checks:\n{out.stderr[-2000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    seed = ap.parse_args().seed
    one, four = _traced(1, seed), _traced(4, seed)
    rows = {
        k: {
            "local1_s": one[k],
            "local4_s": four[k],
            "efficiency": (one[k] / four[k]) / 4 if four[k] else None,
        }
        for k in PHASES
    }
    print(json.dumps(rows, indent=1))


if __name__ == "__main__":
    main()
