"""Layered flow benchmark for cascading_flink_spark.

Runs one workload of registry flows in this process, on inputs generated
from the seed, and prints the result as the last line of standard output:

    python3 perfbench/run.py --workload pipes --seed 1 --seconds 12 --trace 0

A pass runs every flow of the workload once, in an order the seed permutes:
``queries()[flow](spark, data_dir)`` (build), then a parquet sink
``taps.Hfs(ParquetScheme(), ..., SinkMode.REPLACE).write`` (write).  The
first pass is the cold pass.  The workload's ``warmup`` passes follow,
untimed, while the JIT is still compiling; then the measured warm passes
run until ``--seconds`` have elapsed and at least ``warm_passes`` have
run.  Afterwards, untimed,
every sink is checked against the flow's DuckDB oracle and one more set-up
sample runs in a fresh process.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` attaches the
Spark jobs, stages and SQL metrics of every phase and reports the per-layer
metrics.  Full results, spans included, go to ``perfbench/.work/results``.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import benchenv  # noqa: E402
from tracing import MB, Span, StatusCollector, Tracer, phase_layers  # noqa: E402
from workloads import WORKLOADS, input_rows  # noqa: E402

# Each set-up sample is a fresh JVM (~7 s on 4 cores); two per run is what
# the run budget of the two workloads allows.
SETUP_SAMPLES = 2


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def host_block(spark, seed: int) -> dict:
    # the ceiling keeps git from reporting an enclosing repository's sha
    # when the checkout itself is not a git repository
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(benchenv.ROOT))
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=benchenv.ROOT, env=env,
                             capture_output=True, text=True, timeout=10).stdout.strip()
    except OSError:
        sha = ""
    return {
        "nproc": benchenv.nproc(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "git_sha": sha or "unknown",
        "seed": seed,
    }


def sink_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a written sink directory."""
    files = [e for e in os.scandir(path)
             if e.is_file() and not e.name.startswith(("_", "."))]
    return len(files), sum(e.stat().st_size for e in files)


def run_flow(ctx: dict, flow: str) -> None:
    from cascading_flink_spark.taps import Hfs, ParquetScheme, SinkMode

    tracer, collector = ctx["tracer"], ctx["collector"]
    sink = os.path.join(ctx["sink_dir"], flow)
    with tracer.span(flow, "flow") as fs:
        try:
            with tracer.span("build", "phase") as build:
                df = ctx["queries"][flow](ctx["spark"], ctx["data_dir"])
            pinned_bytes, gc_ms = 0.0, 0
            if collector is not None:
                with tracer.span("catalyst", "phase"):
                    fs.attrs["catalyst"] = collector.catalyst(df)
                collector.collect()
                pins = set(phase_layers(build)["pinned_rdds"])
                pinned_bytes = collector.pinned_bytes(pins)
                gc_ms = collector.gc_ms()
            with tracer.span("write", "phase"):
                Hfs(ParquetScheme(), sink, SinkMode.REPLACE).write(df)
            del df
            fs.attrs["sink_files"], fs.attrs["sink_bytes"] = sink_stats(sink)
            if collector is not None:
                fs.attrs["exec_gc_ms"] = collector.gc_ms() - gc_ms
                collector.collect()
                fs.attrs["pinned_bytes"] = max(
                    pinned_bytes, collector.pinned_bytes(pins))
        except Exception:  # a failing flow is counted and reported, not fatal
            fs.attrs["error"] = traceback.format_exc()[-4000:]
            ctx["errors"].setdefault(flow, fs.attrs["error"].strip().splitlines()[-1])


def run_passes(ctx: dict, flows: list[str], warmup: int, warm_passes: int,
               seconds: float) -> list:
    """Cold pass, ``warmup`` passes, then the measured warm passes."""
    tracer = ctx["tracer"]
    order_rng = random.Random(ctx["seed"])
    passes, warm_start = [], None
    while True:
        order = list(flows)
        order_rng.shuffle(order)
        with tracer.span(f"pass{len(passes)}", "pass", cold=not passes,
                         order=order) as ps:
            for flow in order:
                run_flow(ctx, flow)
        passes.append(ps)
        measured = len(passes) - 1 - warmup
        if measured == 0:
            warm_start = time.time()
        elif (measured >= warm_passes
              and time.time() - warm_start >= seconds):
            return passes


def flow_spans(pass_span) -> dict:
    return {c.name: c for c in pass_span.children if c.kind == "flow"}


def end_to_end(passes, warmup: int, setup_s: list[float], rows: int) -> dict:
    warm = passes[1 + warmup:]
    pass_s = statistics.median(p.wall for p in warm)
    slowest = statistics.median(max(f.wall for f in flow_spans(p).values())
                                for p in warm)
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "cold_pass_s": (passes[0].wall, "s"),
        "pass_s": (pass_s, "s"),
        "slowest_flow_s": (slowest, "s"),
        "input_rows_per_s": (rows / pass_s, "rows/s"),
    }


def pass_layers(pass_span) -> dict:
    """Per-layer sums over the flows of one traced pass."""
    out: dict[str, float] = {}

    def add(key, value):
        out[key] = out.get(key, 0.0) + value

    for fs in flow_spans(pass_span).values():
        phases = {c.name: c for c in fs.children if c.kind == "phase"}
        for name, prefix in (("build", "build"), ("write", "exec")):
            p = phases.get(name)
            if p is None:
                continue
            lay = phase_layers(p)
            for k in ("jobs", "stages", "tasks", "job_s", "task_s"):
                add(f"{prefix}.{k}", lay[k])
            if name == "build":
                add("build.driver_s", p.wall - lay["job_s"])
            else:
                add("exec.wall_s", p.wall)
                add("exec.failed_tasks", lay["failed_tasks"])
            add("shuffle.write_mb", lay["shuffle_write_mb"])
            add("shuffle.read_mb", lay["shuffle_read_mb"])
            add("spill.mb", lay["spill_mb"])
            add("pins.rdds", len(lay["pinned_rdds"]))
            for q in p.sql:
                add("scan.rows", q["scan_rows"])
                add("scan.mb", q["scan_bytes"] / MB)
                add("sink.rows", q["sink_rows"])
                add("python.worker_s", q["py_run_s"])
                add("python.boot_s", q["py_boot_s"])
                add("python.mb_sent", q["py_sent"] / MB)
                add("python.mb_received", q["py_recv"] / MB)
        cat = fs.attrs.get("catalyst", {})
        for k in ("analysis", "optimization", "planning"):
            add(f"catalyst.{k}_ms", cat.get(k, 0))
        add("plan.nodes", cat.get("plan_nodes", 0))
        add("exec.gc_s", fs.attrs.get("exec_gc_ms", 0) / 1000.0)
        add("pins.stored_mb", fs.attrs.get("pinned_bytes", 0.0) / MB)
        add("sink.mb", fs.attrs.get("sink_bytes", 0) / MB)
        add("sink.files", fs.attrs.get("sink_files", 0))
    out["scan.rows_per_out_row"] = (out.get("scan.rows", 0.0)
                                    / max(out.get("sink.rows", 0.0), 1.0))
    out["trace.pass_s"] = pass_span.wall
    return out


PER_LAYER_UNITS = {
    "session.import_s": "s", "session.start_s": "s",
    "build.driver_s": "s", "build.jobs": "count", "build.stages": "count",
    "build.tasks": "count", "build.job_s": "s", "build.task_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "plan.nodes": "count",
    "pins.rdds": "count", "pins.stored_mb": "MB",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "spill.mb": "MB",
    "scan.rows": "rows", "scan.mb": "MB", "scan.rows_per_out_row": "ratio",
    "python.worker_s": "s", "python.boot_s": "s",
    "python.mb_sent": "MB", "python.mb_received": "MB",
    "sink.mb": "MB", "sink.files": "count",
    "trace.pass_s": "s",
}

REPEATS_EXACTLY = ["build.jobs", "build.stages", "build.tasks", "exec.jobs",
                   "exec.stages", "exec.tasks", "pins.rdds", "scan.rows"]


def per_layer(passes, warmup: int,
              setups: list[dict]) -> tuple[dict, list[dict]]:
    layers = [pass_layers(p) for p in passes]
    warm = layers[1 + warmup:]
    out = {
        "session.import_s": (statistics.median(s["import_s"] for s in setups), "s"),
        "session.start_s": (statistics.median(s["start_s"] for s in setups), "s"),
    }
    for key, unit in PER_LAYER_UNITS.items():
        if key not in out:
            out[key] = (statistics.median(w.get(key, 0.0) for w in warm), unit)
    return out, layers


def verify(ctx: dict, flows: list[str], last_pass, table_names) -> dict:
    """Oracle-check every sink of the last pass; flow -> problems."""
    from verify import OracleChecker

    checker = OracleChecker(ctx["data_dir"], table_names,
                            int(os.environ["SPARK_GRAFT_CPUS"]),
                            os.path.join(benchenv.WORK, "tmp"))
    spans = flow_spans(last_pass)
    results = {}
    for flow in flows:
        t = time.time()
        if flow in ctx["errors"]:
            problems = [f"raised: {ctx['errors'][flow]}"]
        else:
            try:
                problems = checker.check(flow, os.path.join(ctx["sink_dir"], flow))
            except Exception as e:
                problems = [f"verify error: {type(e).__name__}: {e}"[:2000]]
        results[flow] = problems
        fs = spans[flow]
        fs.children.append(Span("verify", "phase", t, time.time(), parent=fs,
                                attrs={"ok": not problems}))
    checker.close()
    return results


def setup_probe() -> dict:
    probe = os.path.join(benchenv.HERE, "setup_probe.py")
    out = subprocess.run([sys.executable, probe], capture_output=True, text=True,
                         timeout=150, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    args = parse_args()
    if not benchenv.library_present():
        print(f"perfbench: no cascading_flink_spark checkout at {benchenv.ROOT}",
              file=sys.stderr)
        return 2
    spark, import_s, start_s = benchenv.start(T0)
    setups = [{"import_s": import_s, "start_s": start_s}]

    import __spark_entry__ as entry
    import datagen

    wl = WORKLOADS[args.workload]
    with open(datagen.__file__, "rb") as f:
        gen_id = hashlib.sha1(f.read()).hexdigest()[:10]
    data_dir = os.path.join(benchenv.WORK, "data", f"seed{args.seed}-{gen_id}")
    marker = os.path.join(data_dir, "_rows.json")
    if not os.path.exists(marker):
        rows = datagen.generate(data_dir, args.seed)
        with open(marker, "w") as f:
            json.dump(rows, f)
    with open(marker) as f:
        table_rows = json.load(f)

    tracer = Tracer()
    ctx = {
        "spark": spark, "seed": args.seed, "data_dir": data_dir,
        "sink_dir": os.path.join(benchenv.WORK, "sinks", args.workload),
        "queries": entry.queries(), "tracer": tracer, "errors": {},
        "collector": StatusCollector(spark, tracer) if args.trace else None,
    }
    host = host_block(spark, args.seed)
    with tracer.span(args.workload, "workload"):
        passes = run_passes(ctx, wl["flows"], wl["warmup"], wl["warm_passes"],
                            args.seconds)
    benchenv.stop(spark)

    checks = verify(ctx, wl["flows"], passes[-1], datagen.TABLES)
    failed = sorted(f for f, problems in checks.items() if problems)
    for _ in range(SETUP_SAMPLES - 1):
        setups.append(setup_probe())

    rows = input_rows(args.workload, table_rows)
    if args.trace:
        metrics, layers = per_layer(passes, wl["warmup"], setups)
    else:
        metrics, layers = end_to_end(passes, wl["warmup"],
                                     [s["import_s"] + s["start_s"]
                                      for s in setups], rows), None
    result = {
        "correct": not failed,
        "attempted": len(wl["flows"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": args.workload, "trace": args.trace, "host": host,
        "seconds": args.seconds, "input_rows": rows, "table_rows": table_rows,
        "setup_samples": setups, "result": result,
        "warmup": wl["warmup"],
        "passes": [{"cold": i == 0, "wall_s": p.wall, "order": p.attrs["order"],
                    "flows": {n: f.wall for n, f in flow_spans(p).items()}}
                   for i, p in enumerate(passes)],
        "pass_layers": layers, "verify": checks, "spans": tracer.finish(),
    }
    out_dir = os.path.join(benchenv.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("host " + json.dumps(host))
    print(f"workload {args.workload}: {len(wl['flows'])} flows, {rows} input "
          f"rows per pass, {len(passes) - 1 - wl['warmup']} measured warm "
          f"passes; record {out_path}")
    for flow, problems in checks.items():
        print(f"  {'PASS' if not problems else 'FAIL'} {flow}"
              + (": " + "; ".join(problems) if problems else ""))
    for k, m in result["metrics"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
