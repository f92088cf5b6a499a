#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at scale factor 0.001.

    python3 perfbench/smoke.py

Runs one traced run of each workload run.py knows (those in
BENCHMARK.json and pgsql_sf0.01) with `--seconds 0`, which gives the
fewest passes a traced run makes: two, so that every statement runs
traced once. It prints the metrics each run printed. It
checks that each run exits 0, that every end-to-end and per-layer metric
the benchmark defines is printed with a unit, and that the last line has
exactly the keys correct, attempted, failed and metrics and reports no
failed statement. Exits non-zero on the first violation. It also prints
the outcome of each run's layer coverage check (see run.py).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import ROOT, WORKLOADS

# printed by every run besides the metrics BENCHMARK.json lists
ALSO_PRINTED = ("write_p50_ms", "failed_share", "jvm_peak_rss_mb")


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"smoke: FAILED: {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    for workload in WORKLOADS:
        cmd = spec["command"] + [
            "--workload", workload, "--seed", "1", "--seconds", "0",
            "--trace", "1", "--scale", "0.001",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        check(proc.returncode == 0, f"{workload} exited {proc.returncode}\n{proc.stderr[-3000:]}")
        lines = proc.stdout.strip().splitlines()
        printed = {}
        for line in lines[:-2]:
            parts = line.split()
            if len(parts) == 3:
                printed[parts[0]] = parts[2]
                print(f"{workload} {line}")
        for name in e2e + layers + list(ALSO_PRINTED):
            check(bool(printed.get(name)), f"{workload}: {name} not printed with a unit")
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
        check(set(result) == {"correct", "attempted", "failed", "metrics"},
              f"{workload}: result keys {sorted(result)}")
        check(set(result["metrics"]) == set(layers),
              f"{workload}: traced metrics differ from per_layer: "
              f"{sorted(set(result['metrics']) ^ set(layers))}")
        check(all(m["unit"] for m in result["metrics"].values()), f"{workload}: empty unit")
        check(result["correct"] and result["failed"] == 0, f"{workload}: {record['errors']}")
        # the layer coverage check measures the engine, not the benchmark,
        # so its outcome is shown rather than asserted
        print(f"{workload}: layer coverage >= 0.9 for every statement: "
              f"{record['self_time_coverage_ok']}; under it: {record['low_coverage']}")
        print(f"{workload}: ok, {len(printed)} metrics printed, {result['attempted']} statements")
    return 0


if __name__ == "__main__":
    sys.exit(main())
