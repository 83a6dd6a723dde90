"""Process plumbing shared by the workloads: the work directory, the
Spark session, warm-up, weather anchors, memory and shutdown.

Every file the benchmark writes lives under the work directory inside
the checkout; ``TMPDIR``, the JVM's ``java.io.tmpdir``, Spark's local
dirs, the warehouse, stream checkpoints and the event log all point
there.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

# driver heap for every workload: the host is shared, and the inputs
# here are far below what the catalog's 16g default is sized for
DRIVER_MEM = "4g"


class Context:
    """What one run owns: its arguments, its directories and the
    session it has open."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_BASE, f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        for d in (self.tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:
            pass


def prepare_env(ctx: Context) -> None:
    """Point every temp location at the work directory. Must run before
    the first Spark or tempfile use, because both read it once."""
    os.environ["TMPDIR"] = ctx.tmp
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, spark-submit's launcher included: no /tmp perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.tmp}"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = "-XX:ReservedCodeCacheSize=512m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the program's pickled functions by module
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = ctx.tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(ctx: Context, app: str, extra: dict[str, str] | None = None):
    """``session.get_spark`` with bench.py's overrides, plus the work
    directory and, on a traced run, an uncompressed event log."""
    from westtopologies_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.cleaner.periodicGC.interval": "30min",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.sql.streaming.checkpointLocation": ctx.path("checkpoints"),
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    conf.update(extra or {})
    ctx.spark = get_spark(app, extra_conf=conf)
    return ctx.spark


def stop_session(ctx: Context) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None


@contextlib.contextmanager
def untimed_checks(spark):
    """Output checks run after the measurement with adaptive execution
    off: results are the same, and on these small inputs AQE's
    re-planning makes a cold check of the batch role pipeline take
    about twice as long."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def jvm_probe_df(spark):
    # bench.py's fixed tiny Spark job: the JVM-visible host tracer
    return spark.range(0, 250_000).selectExpr("sum(id) AS s")


def calibrate(probe_df) -> dict[str, float]:
    """bench.py's ``_cal`` anchors: a fixed pure-Python loop and one run
    of the fixed Spark job, in ms. Recorded, never used to adjust."""
    t0 = time.perf_counter()
    s = 0
    for j in range(5_000_000):
        s += j
    py_ms = (time.perf_counter() - t0) * 1000
    t0 = time.perf_counter()
    probe_df.collect()
    jvm_ms = (time.perf_counter() - t0) * 1000
    return {"py_ms": round(py_ms, 2), "jvm_ms": round(jvm_ms, 2)}


def weather(probe_df) -> dict:
    return {**calibrate(probe_df), "loadavg": list(os.getloadavg())}


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this Python
    process, in MB."""
    proc = _jvm_proc()
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024.0


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - already gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=20)
