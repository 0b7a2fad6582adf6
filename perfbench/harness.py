"""Run bookkeeping shared by the workloads: the Spark session's lifetime,
the timed operation loop, failure accounting and the result line."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from stats import p50, tail, vm_hwm_mb
from spans import Tracer

#: end-to-end metric -> unit; every workload reports all of them
E2E_UNITS = {
    "setup_s": "s",
    "heap_retained_mb": "MB",
    "op_s.p50": "s",
    "round_s.p50": "s",
    "rows_per_s": "1/s",
}


@dataclass
class Ops:
    """Attempted and failed operations of the timed phase."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, why: str, n: int = 1) -> None:
        """Count ``n`` attempted operations as failed (an output check that
        fails after the timed phase fails operations already attempted)."""
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(why)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def timed_loop(seconds: float, round_: Callable[[int], int], ops: Ops, min_rounds: int = 1) -> None:
    """Run ``round_(i)`` for i = 0, 1, ... until ``seconds`` of wall time
    have passed and at least ``min_rounds`` rounds have run (the round in
    flight finishes). A round returns how many operations it attempted; one
    that raises counts as one attempted, failed operation."""
    t0 = time.perf_counter()
    i = 0
    while i < min_rounds or time.perf_counter() - t0 < seconds:
        try:
            ops.attempted += round_(i)
        except Exception as exc:  # one failed operation must not end the run
            ops.attempted += 1
            ops.fail(f"round {i}: {type(exc).__name__}: {exc}"[:300])
            traceback.print_exc(file=sys.stderr)
        i += 1


@dataclass
class Run:
    """One benchmark run: arguments, session, tracer and results."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    root: str  # the checkout: program sources and tools/
    work: str  # scratch directory inside the checkout
    spark: object | None = None
    tracer: Tracer | None = None
    setup_s: float = 0.0
    get_spark_s: float = 0.0
    ops: Ops = field(default_factory=Ops)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.traced:
            self.tracer = Tracer(lambda: self.spark.sparkContext if self.spark else None)

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name

    def setup(self, prepare: Callable[[object], None] | None = None) -> None:
        """Start the session in a fresh JVM, then ``prepare(spark)``: the
        cold start every daily batch or backfill application pays."""
        from securities_pricing_data_pipeline_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark()
        self.get_spark_s = time.perf_counter() - t0
        if prepare is not None:
            prepare(self.spark)
        self.setup_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.resolve_jobs()

    def record_e2e(
        self, op_s: list[float], round_s: list[float], rows_per_s: float,
        heap_mb: float | None = None,
    ) -> None:
        """The end-to-end metrics every workload reports; ``heap_mb`` is
        measured now unless the workload measured it earlier."""
        value, pct, n = tail(op_s)
        self.info["op_s.tail"] = {"value": value, "percentile": pct, "samples": n}
        self.info["attempted"] = self.ops.attempted
        self.info["failed_share"] = self.ops.failed_share
        self.info["peak_rss_mb"] = self.peak_rss_mb()
        values = {
            "setup_s": self.setup_s,
            "heap_retained_mb": self.heap_retained_mb() if heap_mb is None else heap_mb,
            "op_s.p50": p50(op_s),
            "round_s.p50": p50(round_s),
            "rows_per_s": rows_per_s,
        }
        self.e2e = {k: (values[k], unit) for k, unit in E2E_UNITS.items()}

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM plus this process."""
        jvm = self.spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(pid) + vm_hwm_mb()

    def heap_retained_mb(self) -> float:
        """Driver JVM heap still in use after a full collection: what the
        session keeps (cached tables, broadcast and plan caches). Spark's
        context cleaner frees unreferenced blocks asynchronously after a
        collection, so this is the lowest of three collect-and-read steps.
        Python is collected first, so that no dropped DataFrame still holds
        its JVM objects through the gateway."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        used = []
        for _ in range(3):
            jvm.java.lang.System.gc()
            used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
            time.sleep(0.2)
        return min(used)

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def result(self) -> dict:
        """The result line. A run in which no operation completed has no
        timings; it still reports its attempted and failed counts."""
        metrics = self.layers if self.traced else self.e2e
        return {
            "correct": self.ops.failed == 0 and bool(metrics),
            "attempted": self.ops.attempted,
            "failed": self.ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def isolate_environment(work: str, cpus: int) -> None:
    """Run the program at its defaults on ``local[cpus]``, with every file
    Spark and the JVM write kept under ``work``."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_UI", "SPARK_DRIVER_MEM"):
            del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
