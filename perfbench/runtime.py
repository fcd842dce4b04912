"""Process-level plumbing: where the benchmark writes, the Spark session it
drives, the driver JVM's memory, spans, and the result line.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(Spark local dirs, the JVM's temp dir, event logs, checkpoints, generated
inputs), which is wiped at start and at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: driver heap for every run: small enough to share the machine, and the
#: inputs are sized so no workload spills at this heap
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Point every scratch location at the work directory before the JVM
    starts (the gateway launcher reads TMPDIR, Spark reads
    SPARK_LOCAL_DIRS)."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


class SparkProcess:
    """The program's own session (``session.get_spark``) plus the handles
    needed to read the driver JVM's peak RSS and to stop it for good."""

    def __init__(self, app: str, event_log: bool):
        from m12_kafkastreams_python_azure_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed-size heap and fixed generation sizes: the resident
            # set then follows what the run keeps live, not the collector's
            # run-to-run resizing decisions
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"
            ),
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=app, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM (VmHWM)."""
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def gc_seconds(self) -> float:
        """Total collection time the driver JVM has spent so far."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def full_gc(self) -> None:
        """Collect the whole driver heap, so each timed stretch starts from
        the same heap state instead of inheriting a nearly full old
        generation (and its full collection) from earlier work."""
        self.spark._jvm.java.lang.System.gc()

    def pinned_bytes(self) -> int:
        """Bytes held by persisted RDD blocks right now (memory + disk)."""
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def stop(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it to exit
        (its Python workers are its children and end with it)."""
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Checked:
    """Counts checked operations; a wrong or missing result is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """In-memory spans recorded around calls into the program's layers.
    With ``enabled`` false every span is a no-op. Parents are tracked per
    thread; spans of one operation in other threads (the REST handler)
    share its request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, request)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            span.end = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1000 for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


def note(msg: str) -> None:
    """Human-readable progress and detail, on stderr so the last stdout
    line stays the result."""
    print(msg, file=sys.stderr, flush=True)
