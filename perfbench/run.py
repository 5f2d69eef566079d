#!/usr/bin/env python3
"""Engine benchmark: one seeded workload per run, measured from outside the engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Workloads (rationale in each module's docstring):

- ``curation`` (perfbench/relational.py) — LLM-curation queries;
  Python-worker kernels, localCheckpoint loops, shared persists.
- ``ingest``   (perfbench/ingest.py) — batch imaging jobs alternating
  with streaming append waves into a growing OME-Zarr store.

Each run is one process with one client in a closed loop at local[4].
The inputs are generated from ``--seed``.  Every op is checked for
correctness; a failed check counts as a failed op.  ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer metrics
(every metric in PER_LAYER; one a workload does not exercise reads 0
and is named on a report line).  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``;
report lines go to standard error.
"""

from __future__ import annotations

import argparse
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog  # noqa: E402
from perfbench.harness import Scratch, finish, metric, report, start_session, stop_session  # noqa: E402

WORKLOADS = ("curation", "ingest")

# per-layer metric → unit; the workload that exercises each is named in
# perfbench/relational.py and perfbench/ingest.py
PER_LAYER = {
    "session.start_s": "s",
    "bench.gen_s": "s",
    "bench.warmup_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.memo_hit_ratio": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs_per_op": "count",
    "sched.stages_per_op": "count",
    "sched.tasks_per_op": "count",
    "sched.failed_tasks": "count",
    "sched.slot_idle_ratio": "ratio",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.action_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.disk_bytes": "B",
    "scan.input_bytes": "B",
    "scan.rows_per_result_row": "ratio",
    "storage.blocks_after_clear": "count",
    "storage.bytes_after_clear": "B",
    "pyworker.boot_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.run_ms": "ms",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_returned": "B",
    "sources.probe_s": "s",
    "png_codec.decode_mb_per_s": "MB/s",
    "pyramid.windowed_mean_mb_per_s": "MB/s",
    "fused.run_s": "s",
    "fused.tasks": "count",
    "fused.exec_run_ms": "ms",
    "fused.exec_cpu_ms": "ms",
    "fused.slot_idle_ratio": "ratio",
    "fused.unattributed_core_s": "s",
    "job.overhead_s": "s",
    "job.batch_mb_per_s": "MB/s",
    "zarr_sink.objects_written": "count",
    "zarr_sink.bytes_written": "B",
    "zarr_sink.rewrite_ratio": "ratio",
    "zarr_sink.read_mb_per_s": "MB/s",
    "zarr_sink.stored_per_raw": "ratio",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.append_mb_per_s": "MB/s",
    "trace.overhead_ratio": "ratio",
}


def _workload_module(name: str):
    if name == "ingest":
        from perfbench import ingest

        return ingest
    from perfbench import relational

    return relational


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import aind_smartspim_data_transformation_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    scratch = Scratch(args.workload)
    try:
        spark, start_s = start_session(scratch, event_log=trace)
        try:
            tally, metrics, finalize = _workload_module(args.workload).run(
                args.workload, args.seed, args.seconds, trace, scratch, spark, start_s
            )
        finally:
            stop_session(spark)
        if trace:
            groups = eventlog.reduce_log(scratch.path("events"))
            metrics = finalize(groups)
            idle = sorted(k for k in PER_LAYER if k not in metrics)
            report("not_exercised", {"workload": args.workload, "metrics_at_zero": idle})
            metrics = {k: metrics.get(k, metric(0.0, unit)) for k, unit in PER_LAYER.items()}
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        scratch.remove()

    if tally.failures:
        report("failures", tally.failures[:20])
    finish(tally.failed == 0, tally.attempted, tally.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
