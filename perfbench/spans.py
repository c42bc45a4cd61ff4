"""Per-layer tracing from outside the program.

``Tracer.install()`` replaces the public functions of each layer with
timing wrappers, both where a function is defined and wherever another
package module bound it at import time (``pipelines/inventory.py`` binds
``read_committed``, ``upsert_versioned`` and ``write_append`` that way).
``Tracer.remove()`` puts every original back.

Each call records its wall time, its self time (wall time minus the time
of wrapped calls made inside it) and, for coarse spans only, the Spark
jobs it launched: the rise in the status tracker's highest job id. Fine
spans such as ``current_version`` skip the job count, because the
status-tracker round trip would cost more than the call itself.

Records are keyed by the phase the workload sets (``backfill``, ``tick``,
``noop``, ...), so a layer's cost is attributed to the kind of operation
that paid it.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import defaultdict

# (module, attribute or Class.method, span name, count jobs, result counter)
TARGETS = [
    ("osmart_etl_spark.pipelines.orchestrator", "run_etl", "pipelines.run_etl", True, None),
    ("osmart_etl_spark.pipelines.sales", "run_sales_incremental", "pipelines.sales", True, None),
    ("osmart_etl_spark.pipelines.inventory", "run_raw_movements_incremental",
     "pipelines.raw_movements", True, None),
    ("osmart_etl_spark.pipelines.inventory", "run_stock_points_incremental",
     "pipelines.stock_points", True, None),
    ("osmart_etl_spark.pipelines.inventory", "compute_stock_points",
     "pipelines.compute_stock_points", False, None),
    ("osmart_etl_spark.streaming.incremental", "run_incremental",
     "streaming.incremental.run_incremental", True, None),
    ("osmart_etl_spark.streaming.incremental", "WatermarkStore.get",
     "streaming.incremental.wm_get", False, None),
    ("osmart_etl_spark.streaming.incremental", "WatermarkStore.set",
     "streaming.incremental.wm_set", False, None),
    ("osmart_etl_spark.io.sinks", "merge_accumulate_versioned",
     "io.sinks.merge_accumulate_versioned", True, None),
    ("osmart_etl_spark.io.sinks", "merge_upsert_partitioned",
     "io.sinks.merge_upsert_partitioned", True, "buckets_touched"),
    ("osmart_etl_spark.io.sinks", "write_append", "io.sinks.write_append", True, None),
    ("osmart_etl_spark.io.sinks", "read_accumulate_ledger",
     "io.sinks.read_accumulate_ledger", False, None),
    ("osmart_etl_spark.io.atomic", "upsert_versioned", "io.atomic.upsert_versioned", True, None),
    ("osmart_etl_spark.io.atomic", "read_committed", "io.atomic.read_committed", False, None),
    ("osmart_etl_spark.io.atomic", "current_version", "io.atomic.current_version", False, None),
    ("osmart_etl_spark.io.atomic", "commit_version", "io.atomic.commit_version", False, None),
]


def last_job_id(spark) -> int:
    """Highest Spark job id so far (-1 before the first job)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.phase = "setup"
        self.stats: dict[tuple[str, str], dict] = defaultdict(
            lambda: {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "buckets_touched": 0}
        )
        self._child_time: list[float] = []
        self._undo: list[tuple[object, str, object]] = []

    def _call(self, name, count_jobs, counter, fn, args, kwargs):
        j0 = last_job_id(self.spark) if count_jobs else 0
        self._child_time.append(0.0)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            child = self._child_time.pop()
            if self._child_time:
                self._child_time[-1] += wall
            rec = self.stats[(self.phase, name)]
            rec["calls"] += 1
            rec["wall_s"] += wall
            rec["self_s"] += wall - child
            if count_jobs:
                rec["jobs"] += last_job_id(self.spark) - j0
        if counter == "buckets_touched":
            rec[counter] += len(out)
        return out

    def _wrap(self, fn, name, count_jobs, counter):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self._call(name, count_jobs, counter, fn, args, kwargs)

        return wrapper

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        for modname, qual, name, count_jobs, counter in TARGETS:
            mod = importlib.import_module(modname)
            owner = mod
            if "." in qual:
                cls, qual = qual.split(".")
                owner = getattr(mod, cls)
            orig = vars(owner)[qual]
            wrapped = self._wrap(orig, name, count_jobs, counter)
            self._patch(owner, qual, wrapped)
            if owner is not mod:
                continue
            # rebind import-time copies held by other package modules
            for other in list(sys.modules.values()):
                if other is mod or not getattr(other, "__name__", "").startswith("osmart_etl_spark"):
                    continue
                for attr, val in list(vars(other).items()):
                    if val is orig:
                        self._patch(other, attr, wrapped)

    def remove(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def get(self, phase: str, name: str, field: str) -> float:
        rec = self.stats.get((phase, name))
        return rec[field] if rec else 0.0
