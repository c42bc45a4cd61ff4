"""Shared pieces of the benchmark: the per-run state, set-up, the box
calibration probe, output checks and summary statistics."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3  # set-ups per run; setup_s is their median
CALIB_ROWS = 100_000_000


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def blocks_held(spark) -> int:
    """CacheManager entries plus RDD blocks still in storage."""
    from py4j.protocol import Py4JError

    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        n = int(cm.numCachedEntries())
    except Py4JError:  # a Spark without the counter exposes only emptiness
        n = 0 if cm.isEmpty() else 1
    return n + len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@dataclass
class Run:
    """What a workload gets: its arguments, a scratch directory inside the
    checkout, and the session once ``setup`` made it."""

    seed: int
    seconds: float
    trace: bool
    work: Path
    spark: object = None
    setup_times: list[float] = field(default_factory=list)
    calib: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)  # printed above the summary

    def spark_conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def setup(self, warm) -> object:
        """Start the session and warm it ``SETUPS`` times; the first start
        launches the JVM, later ones start a fresh SparkContext in it."""
        from osmart_etl_spark.session import get_spark

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
            self.spark.sparkContext.setLogLevel("ERROR")
            warm(self.spark)
            self.setup_times.append(time.perf_counter() - t0)
        return self.spark

    def calibrate(self) -> None:
        """The fixed CPU probe from bench.py (xxhash64 fold, no I/O, no
        shuffle), at half its size; like bench.py it runs twice and keeps
        the second. It attributes box weather and moves with no code."""
        for _ in range(2):
            t0 = time.perf_counter()
            self.spark.range(0, CALIB_ROWS, 1, 32).selectExpr(
                "bit_xor(xxhash64(id)) AS s"
            ).collect()
            wall = time.perf_counter() - t0
        self.calib.append(wall)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {name} {detail}".rstrip())

    def stop(self) -> None:
        """Stop the session and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def isolate(work: Path) -> None:
    """Keep every temporary file of this process and its children inside
    the checkout."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = str(tmp)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
