#!/usr/bin/env python3
"""Compare two sets of benchmark records; refuse across hardware keys.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds record lines as ``run.py`` prints and appends them to
``perfbench/.work/results.jsonl``. For each workload and end-to-end metric
of BENCHMARK.json this prints both medians, each side's quartile spread
(share of its median) and the change of the medians (share of the base),
marking a change worse than the metric's bound. Exit codes: 0 no regression,
1 a regression beyond a bound, 3 refused because the records were not all
taken under one hardware key (CPU count, memory, Python/Spark/pyarrow).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _records(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line)["record"] for line in f if line.strip()]


def _spread(vals: list[float]) -> float:
    if len(vals) < 2:
        return 0.0
    q = statistics.quantiles(vals, n=4)
    return (q[2] - q[0]) / statistics.median(vals)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (_records(p) for p in argv)
    keys = {json.dumps(r["hardware"], sort_keys=True) for r in base + new}
    if len(keys) != 1:
        print("refused: records come from different hardware keys:",
              *sorted(keys), sep="\n  ", file=sys.stderr)
        return 3
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    worse = False
    workloads = sorted({r["workload"] for r in base + new})
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            b, n = ([r["metrics"][name]["value"] for r in recs
                     if r["workload"] == w and not r["trace"]]
                    for recs in (base, new))
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb
            loss = change if m["better"] == "lower" else -change
            flag = "REGRESSED" if loss > bound else ""
            worse |= bool(flag)
            print(f"{w:8s} {name:12s} base {mb:12.4f} (n={len(b)}, spread "
                  f"{_spread(b):.3f})  new {mn:12.4f} (n={len(n)}, spread "
                  f"{_spread(n):.3f})  change {change:+.3f} bound {bound} "
                  f"{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
