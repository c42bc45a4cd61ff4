"""The repo's benchmark: the paper's ETL tick and a fixed query mix.

Run from the repository root:

    python3 perfbench/run.py --workload etl_ticks --seed 1 --seconds 30 --trace 0

Workloads (see ``perfbench/README.md``):

- ``etl_ticks``: the cron loop of ``pipelines.orchestrator.run_etl`` -
  a backfill over empty sinks, then ticks that each land one fresh day
  slice, then no-op ticks with nothing past the watermark.
- ``query_mix``: a fixed set of registry queries, build + ``noop`` write,
  in a seed-permuted order.

One process, one Spark session on ``local[<cpus>]``, one closed-loop
caller: the next tick or query starts only after the previous returns.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the layers are wrapped (``perfbench/spans.py``) and it
carries the per-layer metrics. Every run checks the program's outputs;
a mismatch counts as failed. The exit code is 0 only when the run
completed, whatever the checks found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

from common import ROOT, Run, isolate, metric, quartiles

# layer metrics every workload reports
COMMON_LAYERS = {
    "caching.blocks_held": "count",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "session.get_spark_first_s": "s",
    "session.setup_restart_s": "s",
    "box.calib_s": "s",
    "box.calib_after_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_ticks", "query_mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # The program under test is the package next to this directory; in
    # a directory without it the import fails and the run exits non-zero.
    sys.path.insert(0, str(ROOT))
    import osmart_etl_spark  # noqa: F401

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    run = Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
    import etl
    import querymix

    workload = etl if args.workload == "etl_ticks" else querymix
    try:
        e2e, layers, summary = workload.run(run)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()

    summary["setup_s"] = (run.setup_times, "s")
    summary["failed_frac"] = ([run.failed / max(run.attempted, 1)], "ratio")
    for line in run.notes:
        print(line)
    for name, (values, unit) in summary.items():
        q1, med, q3 = quartiles(values)
        print(f"{args.workload} {name} = {med:.4f} {unit} (q1 {q1:.4f}, q3 {q3:.4f}, n={len(values)})")
    print(f"{args.workload} box.calib_s = {[round(c, 3) for c in run.calib]} (before, after)")

    if args.trace:
        layers["session.get_spark_first_s"] = metric(run.setup_times[0], "s")
        layers["session.setup_restart_s"] = metric(statistics.median(run.setup_times[1:]), "s")
        layers["box.calib_s"] = metric(run.calib[0], "s")
        layers["box.calib_after_s"] = metric(run.calib[-1], "s")
        # every workload prints every layer metric; a layer it does not
        # reach reads 0
        units = {**COMMON_LAYERS, **etl.LAYERS, **querymix.LAYERS}
        metrics = {k: layers.get(k, metric(0.0, u)) for k, u in sorted(units.items())}
    else:
        metrics = {"setup_s": metric(statistics.median(run.setup_times), "s"), **e2e}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
