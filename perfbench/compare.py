"""Compare two benchmark result sets.

    python3 perfbench/compare.py <before.jsonl> <after.jsonl>

A result set is the file ``run.py --results FILE`` appends to: one JSON
record per run.  For each workload and metric this prints both sides'
median and quartiles and the change of the median.  It flags

- ``REGRESSION``: an end-to-end metric whose median got worse by more
  than its bound in BENCHMARK.json;
- ``MOVED``: a per-layer metric whose median moved by more than both
  sides' interquartile range and by more than 5 % — the single layer an
  end-to-end change came from.

Exit status 1 when any end-to-end metric regressed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
MOVE_SHARE = 0.05
# Host-speed stamp of each run: a side whose median differs from the
# other's by more than a few percent ran in another host phase.
CALIBRATION = "host.calibration_jvm_sum_s"


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over the runs in the file."""
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            record = json.loads(line)
            for name, metric in record["metrics"].items():
                out[record["workload"]][name].append(float(metric["value"]))
            calibration = record.get("extras", {}).get("calibration_jvm_sum_s")
            if calibration is not None:
                out[record["workload"]][CALIBRATION].append(calibration)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def bench_spec() -> dict[str, dict]:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    metrics = {m["name"]: dict(m, kind="end_to_end") for m in spec["end_to_end"]}
    metrics.update({m["name"]: dict(m, kind="per_layer") for m in spec["per_layer"]})
    return metrics


def verdict(spec: dict | None, before: list[float], after: list[float]) -> str:
    b1, b, b3 = quartiles(before)
    a1, a, a3 = quartiles(after)
    if spec is None:
        return ""
    if spec["kind"] == "end_to_end":
        worse = (a - b) if spec["better"] == "lower" else (b - a)
        if b and worse / abs(b) > spec["bound"]:
            return "REGRESSION"
        return ""
    spread = max(b3 - b1, a3 - a1)
    if abs(a - b) > spread and abs(a - b) > MOVE_SHARE * max(abs(b), 1e-12):
        return "MOVED"
    return ""


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    spec = bench_spec()
    regressed = False
    header = f"{'metric':36s} {'before q1/med/q3':>32s} {'after q1/med/q3':>32s} {'change':>8s}"
    for workload in sorted(set(before) | set(after)):
        print(f"\n== {workload}\n{header}")
        names = sorted(set(before[workload]) | set(after[workload]))
        for name in names:
            b, a = before[workload].get(name), after[workload].get(name)
            if not b or not a:
                print(f"{name:36s} only in {'after' if a else 'before'}")
                continue
            bq, aq = quartiles(b), quartiles(a)
            change = (aq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
            flag = verdict(spec.get(name), b, a)
            regressed |= flag == "REGRESSION"
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"{name:36s} {fmt(bq):>32s} {fmt(aq):>32s} {change:+8.1%} {flag}")
    return 1 if regressed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
