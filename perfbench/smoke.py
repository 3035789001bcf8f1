"""Smoke check of the benchmark itself, at tiny size (sf0.001).

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced with ``--size tiny
--seconds 1`` and asserts that

- each run exits 0, reports ``correct`` with nothing failed, and prints
  every metric BENCHMARK.json names for its mode, with that unit;
- every traced run's spans carry operation ids, and every span that
  names a parent names one that exists (and some spans do have parents);
- no run directory is left behind.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_spans(path: str) -> list[str]:
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    ids = {s["id"] for s in spans}
    problems = []
    if not any(s["parent"] is not None for s in spans):
        problems.append("no span has a parent")
    orphans = [s["name"] for s in spans if s["parent"] is not None and s["parent"] not in ids]
    if orphans:
        problems.append(f"spans with a missing parent: {sorted(set(orphans))}")
    if not any(s["op"] for s in spans if s["name"] == "bench.op"):
        problems.append("no operation span carries an operation id")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            before = len(problems)
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            where = f"{workload} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{where}: exit {proc.returncode}: {proc.stderr[-1500:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{where}: {result['failed']}/{result['attempted']} failed")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != expected[trace]:
                missing = sorted(set(expected[trace]) - set(got))
                wrong = sorted(k for k in got if expected[trace].get(k) not in (None, got[k]))
                problems.append(f"{where}: missing {missing}, wrong unit {wrong}, "
                                f"extra {sorted(set(got) - set(expected[trace]))}")
            if trace:
                spans = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-s7.json")
                problems += [f"{where}: {p}" for p in check_spans(spans)]
            print(f"{where}: {'ok' if len(problems) == before else 'FAILED'}")
    if os.path.exists(os.path.join(ROOT, ".perfbench_runs")):
        problems.append("a run directory was left behind under .perfbench_runs/")
    for problem in problems:
        print("SMOKE FAIL", problem)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
