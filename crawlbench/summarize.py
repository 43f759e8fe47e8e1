"""Summarize saved benchmark outputs.

    python3 crawlbench/run.py --workload crawl_dirty --seed 1 \\
        --seconds 1 --trace 0 > out/crawl_dirty-1.out
    ...
    python3 crawlbench/summarize.py out/*.out

For every workload and end-to-end metric: run count, median, first and
third quartile (``statistics.quantiles(n=4)``) and spread, the
quartile distance as a share of the median, next to the metric's bound
in ``BENCHMARK.json``. For traced runs: the median of every per-layer
metric, and the tracing overhead, the median traced pass wall time
minus the median untraced one.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(paths: list[Path]) -> list[tuple[dict, dict]]:
    """(record, result) of every output that ends in a result line."""
    runs = []
    for p in paths:
        lines = [ln for ln in p.read_text().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            print(f"skipped {p}: no result", file=sys.stderr)
            continue
        record = json.loads(lines[-2]).get("record", {})
        runs.append((record, json.loads(lines[-1])))
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pass_walls(record: dict) -> list[float]:
    return [p["window"][1] - p["window"][0] for p in record.get("passes", []) if not p["error"]]


def summarize(runs: list[tuple[dict, dict]], bounds: dict[str, float]) -> list[str]:
    out = []
    groups: dict[tuple[str, int], list[tuple[dict, dict]]] = defaultdict(list)
    for rec, res in runs:
        groups[(rec.get("workload", "?"), rec.get("trace", 0))].append((rec, res))
    for (workload, traced), group in sorted(groups.items()):
        failed = sum(res["failed"] for _, res in group)
        attempted = sum(res["attempted"] for _, res in group)
        seeds = sorted(rec.get("seed") for rec, _ in group)
        out.append(
            f"== {workload} trace={traced}: {len(group)} runs, seeds {seeds}, "
            f"{attempted - failed}/{attempted} passes correct"
        )
        metrics: dict[str, list[float]] = defaultdict(list)
        for _, res in group:
            for name, m in res["metrics"].items():
                metrics[name].append(m["value"])
        if not traced:
            out.append(f"  {'metric':28} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
                       f"{'spread':>7} {'bound':>6}")
            for name, vals in metrics.items():
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else float("nan")
                bound = bounds.get(name)
                flag = ""
                if bound is not None:
                    flag = " OVER" if spread > bound else (" >1/3" if spread > bound / 3 else "")
                out.append(
                    f"  {name:28} {len(vals):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                    f"{spread:7.3f} {bound if bound is not None else '':>6}{flag}"
                )
        else:
            for name, vals in metrics.items():
                if any(vals):
                    out.append(f"  {name:42} {statistics.median(vals):12.4f}")
            traced_wall = [w for rec, _ in group for w in pass_walls(rec)]
            untraced_wall = [
                w for (wl, tr), g in groups.items() if wl == workload and not tr
                for rec, _ in g for w in pass_walls(rec)
            ]
            if traced_wall and untraced_wall:
                t, u = statistics.median(traced_wall), statistics.median(untraced_wall)
                out.append(
                    f"  tracing overhead: traced pass {t:.2f} s - untraced pass {u:.2f} s "
                    f"= {t - u:+.2f} s ({(t - u) / u:+.1%})"
                )
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("outputs", nargs="+", type=Path)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print("\n".join(summarize(load(args.outputs), bounds)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
