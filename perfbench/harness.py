"""Run environment shared by the workloads: the Spark session, timing,
the result line and file accounting."""

from __future__ import annotations

import gc
import os
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat
from tracing import Tracer

#: Heap of the one local JVM: leaves most of a 15 GiB machine free (the
#: package default of 24g does not fit).
DRIVER_MEM = "4g"


@dataclass
class Result:
    #: metric name -> unit, for every metric the run may report
    units: dict[str, str]
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)

    def op(self, ok: bool, what: str = "") -> bool:
        """Count one attempted operation; a failed or wrong one also
        counts as failed and is reported on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)
        return ok

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def as_json(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": self.units[k]} for k, v in self.metrics.items()},
        }


@dataclass
class Sample:
    wall_s: float = 0.0
    cpu_s: float = 0.0


@contextmanager
def measure():
    """Wall and process-tree CPU seconds of the block."""
    s = Sample()
    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    try:
        yield s
    finally:
        s.wall_s = time.perf_counter() - t0
        s.cpu_s = procstat.tree_cpu_s() - cpu0


@dataclass
class Env:
    cache: str
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    spark: object = None
    tracer: Tracer = field(default_factory=lambda: Tracer(None, False))
    peak_rss_mb: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_session(self):
        """Start the one Spark session of the run: ``local[cores]`` with
        ``cores`` shuffle partitions, UI and console progress off, every
        scratch file inside the run directory; the event log only on the
        traced run."""
        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        # read by the launcher scripts, so set before the JVM starts
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = local
        tempfile.tempdir = local  # the gateway launcher's handshake files
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # -UsePerfData: no hsperfdata files under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -Dderby.system.home={local} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            # one plain JSON-lines file, read once at the end of the run
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        from knot_another_pipeline_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def note_rss(self) -> None:
        """Sample the tree's resident memory; called between operations."""
        self.peak_rss_mb = max(self.peak_rss_mb, procstat.tree_rss_mb())

    def quiesce(self) -> None:
        """Untimed: collect garbage in the JVM and here, so one
        iteration's garbage is not paid by the next."""
        self.note_rss()
        gc.collect()
        self.spark._jvm.System.gc()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.note_rss()
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have exited."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        started = procstat.tree_pids()[1:]
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        # Python workers outlive the JVM briefly and are re-parented, so
        # wait on the processes seen before shutdown, not on the tree.
        while (rest := [p for p in started if procstat.alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def data_files(root: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(suffix) and not f.startswith(".")
    )
