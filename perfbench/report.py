"""Per-layer table from the records that run.py keeps.

    python3 perfbench/report.py [results_dir]

For each workload: the median end-to-end metrics of the untraced runs,
the median per-layer metrics of the traced runs, each with the
end-to-end metric it should move, and the tracing overhead (median
traced ``wall_s`` minus median untraced ``wall_s``).
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

# layer metric prefix -> the bounded end-to-end metric it should move,
# and in brackets the unbounded wall figure it should move
MOVES = {
    "peak_rss_mb": "(none: varies by more than a tenth between runs)",
    "wall_s": "(end-to-end wall figure, unbounded: co-tenant CPU steal moves it)",
    "latency_s_": "(end-to-end wall figure, unbounded: co-tenant CPU steal moves it)",
    "build_s_p50": "(end-to-end wall figure, unbounded: co-tenant CPU steal moves it)",
    "probe_s_p50": "(end-to-end wall figure, unbounded: co-tenant CPU steal moves it)",
    "session.": "setup_s",
    "sources.scan_s": "cpu_s (latency_s_p50)",
    "sources.sink": "build_cpu_s_p50 (latency_s_p50)",
    "suite.": "build_cpu_s_p50, probe_cpu_s_p50 (build_s_p50, probe_s_p50)",
    "exec.wall_s": "cpu_s (wall_s)",
    "exec.task_": "cpu_s (wall_s)",
    "exec.gc_s": "cpu_s (wall_s)",
    "exec.core_util": "cpu_s (wall_s)",
    "exec.": "cpu_s (latency_s_p50)",
    "operators.": "cpu_s (latency_s_tail)",
    "plan.": "cpu_s (wall_s; explains them)",
    "artifacts.": "probe_cpu_s_p50, peak_rss_mb (probe_s_p50)",
    "streaming.define_s": "setup_s",
    "streaming.state_": "cpu_s, peak_rss_mb (latency_s_tail)",
    "streaming.rows_updated": "cpu_s, peak_rss_mb (latency_s_tail)",
    "streaming.backlog": "(latency_s_tail)",
    "streaming.generator": "(latency_s_tail)",
    "streaming.nodata": "probe_cpu_s_p50 (probe_s_p50)",
    "streaming.": "build_cpu_s_p50 (latency_s_p50)",
}


def moves(name: str) -> str:
    return next(v for k, v in MOVES.items() if name.startswith(k))


def main() -> None:
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(".perfbench/results")
    runs = [json.loads(p.read_text()) for p in sorted(root.glob("*.json"))]
    for wl in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == wl and not r["trace"]]
        traced = [r for r in runs if r["workload"] == wl and r["trace"]]
        print(f"## {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        for title, group, key in (("end to end", plain, "end_to_end"), ("per layer", traced, "per_layer")):
            if not group:
                continue
            print(f"{title}:")
            # records kept from an older benchmark version may lack a metric
            for name in dict.fromkeys(n for r in group for n in r[key]):
                med = statistics.median(r[key][name] for r in group if name in r[key])
                note = "" if key == "end_to_end" else f"  -> {moves(name)}"
                print(f"  {name:34s} {med:12.4f}{note}")
        if plain and traced:
            over = statistics.median(r["end_to_end"]["wall_s"] for r in traced) - statistics.median(
                r["end_to_end"]["wall_s"] for r in plain
            )
            print(f"tracing overhead on wall_s: {over:+.3f} s")
        failed = sum(r["failed"] for r in plain + traced)
        print(f"failed operations: {failed} of {sum(r['attempted'] for r in plain + traced)}\n")


if __name__ == "__main__":
    main()
