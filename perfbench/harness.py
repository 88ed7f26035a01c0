"""Shared run machinery: the Spark session, the closed timed loop, the
operation record and the lake measurements."""

from __future__ import annotations

import os
import platform
import random
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

from procstat import cpu_split
from tracing import Tracer

import bench  # the repo's headline bench: ambient-CPU probes, pinned rows

HZ = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(tmp: str, trace: bool):
    """The engine's session factory on local[nproc], with every scratch
    directory inside this run's temp root and, when tracing, an
    uncompressed single-file event log."""
    from urban_mobility_data_lakehouse_spark.session import get_spark

    n = nproc()
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # The factory's engine confs are kept; its heap and collector are
    # not.  Under its 8 GB G1 heap the peak resident memory of one
    # analytics run ranged from 4.1 to 5.9 GB over five seeds, beyond
    # the peak_rss_mb bound, and G1's concurrent threads add to the
    # CPU time per op; a 2 GB serial-collector heap holds both steady.
    confs = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={jtmp} -XX:+UseSerialGC",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]",
        shuffle_partitions=n, extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Context:
    """One workload run: its session, temp root, seed, timed loop and
    the record of every operation."""

    def __init__(self, tmp: str, seed: int, seconds: float):
        self.spark = None  # started after the inputs are generated
        self.tmp = tmp
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tracer: Tracer | None = None
        self.ops: list[dict] = []
        self.problems: list[str] = []
        self.inputs: dict = {}
        self.after_op_hooks: list = []

    # -- operations -------------------------------------------------------

    @contextmanager
    def op(self, name: str, kind: str, **attrs):
        """Time one operation.  Its body raising counts the op failed;
        the loop goes on.  Bookkeeping outside the timed interval (CPU
        split, after-op hooks) is done only when tracing."""
        rec = {"name": name, "kind": kind, "ms": None, "ok": True, **attrs}
        cpu0 = cpu_split() if self.tracer else None
        tree0 = bench._tree_busy_jiffies()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(name, op=True) as span:
                    rec["span"] = span["id"]
                    yield rec
            else:
                yield rec
        except Exception as exc:  # an engine failure is a failed op
            rec["ok"] = False
            rec["raised"] = True
            self.problem(f"{name}: {type(exc).__name__}: {exc}")
            traceback.print_exc()
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        rec["cpu_ms"] = (bench._tree_busy_jiffies() - tree0) * 1000.0 / HZ
        if cpu0 is not None:
            cpu1 = cpu_split()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            for hook in self.after_op_hooks:
                hook(rec)
        self.ops.append(rec)

    def span(self, name: str, **attrs):
        """A child span of the running op when tracing, else nothing."""
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, **attrs)

    def check(self, rec: dict, ok: bool, message: str) -> None:
        if not ok:
            rec["ok"] = False
            self.problem(f"{rec['name']}: {message}")

    def problem(self, message: str) -> None:
        self.problems.append(message)
        print(f"# CHECK FAILED {message}", file=sys.stderr, flush=True)

    # -- closed loop ------------------------------------------------------

    def loop(self, round_fn, min_rounds: int = 1, max_rounds: int | None = None):
        """Run rounds back to back, starting another only while it is
        expected to end within `seconds`.  Returns the loop's wall time
        and the ambient CPU (cores busy outside this process tree)."""
        b0, t0 = bench._total_busy_jiffies(), bench._tree_busy_jiffies()
        start = time.perf_counter()
        walls: list[float] = []
        while max_rounds is None or len(walls) < max_rounds:
            r0 = time.perf_counter()
            round_fn(len(walls))
            walls.append(time.perf_counter() - r0)
            elapsed = time.perf_counter() - start
            if (len(walls) >= min_rounds
                    and elapsed + statistics.fmean(walls) > self.seconds):
                break
        wall = time.perf_counter() - start
        ambient = (
            (bench._total_busy_jiffies() - b0)
            - (bench._tree_busy_jiffies() - t0)
        ) / (HZ * wall)
        return wall, max(0.0, ambient)


# -- lake measurements ----------------------------------------------------

def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def lake_tables(lake) -> list[tuple[str, str]]:
    return [
        (schema, name)
        for schema in sorted(os.listdir(lake.root))
        if os.path.isdir(os.path.join(lake.root, schema))
        for name in lake.list_tables(schema)
    ]


def lake_versions(lake) -> int:
    return sum(len(lake.snapshots(s, t)) for s, t in lake_tables(lake))


def plain_bytes(spark, lake, out_dir: str) -> dict[str, int]:
    """Per table: bytes of its live rows written once by a plain
    DataFrame.write.parquet."""
    out = {}
    for schema, name in lake_tables(lake):
        path = os.path.join(out_dir, f"{schema}.{name}")
        lake.read(spark, schema, name).write.parquet(path)
        out[f"{schema}.{name}"] = dir_bytes(path)
    return out


def git_commit(root: str) -> str:
    """The checked-out commit, read from .git without running git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref_path = os.path.join(root, ".git", ref[5:])
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def environment(spark, root: str, seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": git_commit(root),
        "seed": seed,
    }
