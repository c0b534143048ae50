"""Self-test of the traced benchmark run.

    python3 perfbench/selftest.py [--seed N] [--seconds S]

Runs every workload once with ``--trace 1`` and checks that:

- every ``per_layer`` metric of ``BENCHMARK.json`` is reported;
- job, stage, task, pin and scanned-row counts repeat exactly across the
  warm passes (jobs, stages and SQL executions are keyed by id, so
  status-store eviction cannot shrink them);
- each workload shows the split it was chosen for: ``curate`` spends at
  least 90% of its build+write time building (construction-time jobs),
  ``pipes`` at least 25%;
- every sink matched its oracle.

Exits 1 and names the failed checks if any fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import REPEATS_EXACTLY  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_BUILD_SHARE = {"curate": 0.90, "pipes": 0.25}


def check(workload: str, record: dict, spec: dict) -> list[str]:
    bad = []
    metrics = record["result"]["metrics"]
    missing = [m["name"] for m in spec["per_layer"] if m["name"] not in metrics]
    if missing:
        bad.append(f"missing per-layer metrics {missing}")
    warm = record["pass_layers"][1:]
    for key in REPEATS_EXACTLY:
        seen = [w.get(key, 0) for w in warm]
        if len(set(seen)) != 1:
            bad.append(f"{key} differs across warm passes: {seen}")
    build = metrics["build.driver_s"]["value"] + metrics["build.job_s"]["value"]
    share = build / (build + metrics["exec.wall_s"]["value"])
    print(f"{workload}: build share of build+write {share:.1%}")
    if share < MIN_BUILD_SHARE[workload]:
        bad.append(f"build share {share:.1%} < {MIN_BUILD_SHARE[workload]:.0%}")
    if not record["result"]["correct"]:
        bad.append(f"oracle mismatch: {record['verify']}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for workload in WORKLOADS:
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", "1"],
                       cwd=root, check=True, stdout=subprocess.DEVNULL)
        path = os.path.join(HERE, ".work", "results",
                            f"{workload}-seed{args.seed}-trace1.json")
        with open(path) as f:
            record = json.load(f)
        failures += [f"{workload}: {b}" for b in check(workload, record, spec)]
    for f in failures:
        print("FAIL " + f)
    print("selftest " + ("failed" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
