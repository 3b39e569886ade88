#!/usr/bin/env python3
"""Per-layer table across workloads, from the traced runs' raw records.

    python3 perfbench/table.py [.bench_data/last-<workload>-trace1.json ...]

With no arguments it reads every .bench_data/last-*-trace1.json. Each
per-layer metric is printed per workload, then as a rate, so workloads of
different lengths compare: warm-pass metrics per second of warm pass,
cold-pass metrics per second of the cold pass, residue per second of all
passes. Ratios have no rate.
"""

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def seconds(raw, metric):
    """The wall time a metric accrued over."""
    passes = raw["passes"]
    if metric in stats.COLD_LAYERS:
        return passes[0]["wall_s"]
    if metric.startswith("materialize."):
        return sum(p["wall_s"] for p in passes)
    if metric in stats.SUMMED_LAYERS:
        return statistics.median(p["wall_s"] for p in stats.warm_passes(raw))
    return None


def main(paths):
    if not paths:
        paths = sorted(Path(".bench_data").glob("last-*-trace1.json"))
    raws = [json.loads(Path(p).read_text()) for p in paths]
    names = [r["workload"] for r in raws]
    layers = [stats.per_layer(r) for r in raws]
    print("| metric | " + " | ".join(names) + " | per second: "
          + " | ".join(names) + " |")
    print("|---" * (1 + 2 * len(names)) + "|")
    for metric in layers[0]:
        vals = [l[metric] for l in layers]
        rates = []
        for r, v in zip(raws, vals):
            s = seconds(r, metric)
            rates.append(f"{v / s:.4g}" if s else "—")
        print(f"| `{metric}` | " + " | ".join(f"{v:.4g}" for v in vals) + " | "
              + " | ".join(rates) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
