"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are record files written by ``run.py`` (under
``perfbench/.work/results``) or directories of them.  Records are grouped by
workload and trace mode; for each metric the medians of both sides, their
ratio and, for end-to-end metrics, whether NEW is worse than BASE by more
than the bound in ``BENCHMARK.json`` are printed.

Each side's failed/attempted flows are printed too.  The command exits 1
when an end-to-end metric is worse by more than its bound, or when NEW
fails a larger share of its flows than BASE: a timing of flows that raised
or missed their oracle is no gain.

Runs taken with different core counts are not comparable: the command
refuses (exit 2) when the two sides' ``nproc`` or ``SPARK_GRAFT_CPUS``
differ.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    records = []
    for f in files:
        with open(f) as fh:
            records.append(json.load(fh))
    return records


def cores(records: list[dict]) -> set[tuple[int, int]]:
    return {(r["host"]["nproc"], r["host"]["spark_graft_cpus"]) for r in records}


def values(records: list[dict]) -> dict:
    """(workload, trace) -> metric -> list of values."""
    out: dict = {}
    for r in records:
        for name, m in r["result"]["metrics"].items():
            out.setdefault((r["workload"], r["trace"]), {}).setdefault(
                name, []).append(m["value"])
    return out


def failures(records: list[dict]) -> dict:
    """(workload, trace) -> [failed, attempted] summed over the records."""
    out: dict = {}
    for r in records:
        f = out.setdefault((r["workload"], r["trace"]), [0, 0])
        f[0] += r["result"]["failed"]
        f[1] += r["result"]["attempted"]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cb, cn = cores(base), cores(new)
    if len(cb | cn) != 1:
        print(f"refusing to compare runs with different core counts: "
              f"base (nproc, SPARK_GRAFT_CPUS) {sorted(cb)}, new {sorted(cn)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    vb, vn = values(base), values(new)
    fb, fn = failures(base), failures(new)
    worse = 0
    for key in sorted(set(vb) & set(vn)):
        names = sorted(set(vb[key]) & set(vn[key]))
        print(f"{key[0]} (trace {key[1]}): {len(vb[key][names[0]])} base / "
              f"{len(vn[key][names[0]])} new runs, medians")
        (b_fail, b_all), (n_fail, n_all) = fb[key], fn[key]
        flag = ""
        if n_fail / n_all > b_fail / b_all:
            flag = "  MORE FAILED FLOWS"
            worse += 1
        print(f"  {'failed flows':24s} {b_fail}/{b_all} -> {n_fail}/{n_all}{flag}")
        for name in names:
            b = statistics.median(vb[key][name])
            n = statistics.median(vn[key][name])
            ratio = n / b if b else float("nan")
            flag = ""
            if name in e2e:
                lower = e2e[name]["better"] == "lower"
                change = (n - b) / b if lower else (b - n) / b
                if change > e2e[name]["bound"]:
                    flag = f"  WORSE by {change:.1%} (bound {e2e[name]['bound']:.0%})"
                    worse += 1
            print(f"  {name:24s} {b:12.6g} -> {n:12.6g}  x{ratio:.3f}{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
