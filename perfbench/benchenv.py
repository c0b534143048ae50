"""Process environment, session start and teardown shared by the benchmark
(``run.py``) and its set-up probe (``setup_probe.py``).

Everything the benchmark or Spark writes stays under ``perfbench/.work`` of
the checkout: generated inputs, sinks, Spark's local dirs, JVM and Python
temp files, and result files.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def library_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "cascading_flink_spark")))


def prepare() -> None:
    """Set the environment Spark, its Python workers and child probes inherit.

    Python workers are started by the JVM, not from the checkout root, so
    ``PYTHONPATH`` must name the checkout for them to import the library."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    # PerfDisableSharedMem: no /tmp/hsperfdata_<user> file per JVM
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                "-XX:+PerfDisableSharedMem")
    env["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start(t0: float, app: str = "perfbench"):
    """Import the library and registry, start the session.

    Returns ``(spark, import_s, start_s)``, timed from ``t0``, the moment
    the calling script began."""
    prepare()
    import __spark_entry__  # noqa: F401  (the registry the flows come from)
    from cascading_flink_spark.session import get_spark
    t1 = time.time()
    spark = get_spark(app, cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, time.time() - t1


def stop(spark) -> None:
    """Stop the session and wait until its JVM process has exited."""
    from pyspark import SparkContext
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
