"""The ``curation`` workload: LLM-curation registry queries over seeded tables.

One process, one client, closed loop, local[4].  An op is one query:
build the plan with the registry callable (``plans.*`` layer, which may
itself run Spark jobs), then ``collect()`` it.  Ops run in passes; each
pass runs every query of the workload ``QUERIES[q]`` times, in an order
drawn from the seed.  The cheap queries (about 0.3 s each, with a
per-execution spread near 15 %) run twice per pass, so their medians
rest on twice the samples of d08 (about 4 s, spread near 4 %).  The
amount of work is fixed: ``round(seconds / PASS_S)`` timed passes (at
least one), where ``PASS_S`` is the nominal wall time of one steady
pass at local[4], so ``--seconds`` sets the work, not a deadline.

Before the timed passes comes ``SETTLE`` untimed pass.  After its first
execution every query still runs 25–50 % slow for a few more executions
(JIT compilation, Python workers importing their modules); timing that
stretch made the medians depend on how fast each run's JVM happened to
settle.

``curation`` — s01 s10 t02 d08 over ``documents`` and ``embeddings``
with about 6 % near-duplicates.  Python-worker kernels (``mapInPandas``),
iterative ``localCheckpoint`` loops (d08) and shared persists (d08 runs
the whole d03 MinHash-LSH pipeline and persists its output, which two
branches of its edge list read).  d03 is not run as an op of its own,
because every d08 op already runs it; d05 (cosine over the embeddings,
as s01) and d14 are left out.  With any of them a run's warm-up, settle
and timed passes take longer than a benchmark round allows per run.
Shuffle and Catalyst are a small share, so a change to relational
planning must read *no change* here.  The table memo,
Catalyst and shuffle metrics below are measured on this workload too.

End-to-end metrics (``--trace 0``):

- ``setup_s``: session start + input generation + warm-up: every
  query once on the bench tables, then the ``SETTLE`` pass.  That first
  execution is the oracle check and costs about 2–3× a steady one, so
  it is not timed.
- ``ops_per_s``: completed ops ÷ the wall time of the timed loop, engine
  calls between ops (``clearCache()``) included and the benchmark's own
  result check left out.
- ``query_geomean_s``: geometric mean over the workload's queries of
  each query's median latency.  Per-query p50 and tail go on a report
  line.
- ``peak_rss_mb``: summed peak RSS of this process, the JVM and the
  Python workers, with a fixed ``driver_memory``.

Per-layer metrics (``--trace 1``) → the end-to-end metric each should move.
The traced run alternates: each query runs traced in every other pass
and untraced in the rest, and the figures come from the traced ops.

- ``session.start_s``, ``bench.gen_s``, ``bench.warmup_s`` → ``setup_s``.
- ``tables.load_calls``, ``tables.load_s``, ``tables.memo_hit_ratio``
  (per op) → ``query_geomean_s``.
- ``plans.build_s``, ``plans.build_jobs`` (Spark jobs run while the
  plan is built: s10's codebook training, d08's loop) →
  ``query_geomean_s``.
- ``catalyst.analysis_ms``, ``.optimization_ms``, ``.planning_ms`` (per
  op, summed over every action the op runs) → ``query_geomean_s``.
- ``sched.jobs_per_op``, ``.stages_per_op``, ``.tasks_per_op``,
  ``.failed_tasks``, ``.slot_idle_ratio`` (1 − executor run ÷ (op wall
  × slots)) → ``ops_per_s``.
- ``exec.run_ms``, ``.cpu_ms``, ``.gc_ms``, ``exec.action_s`` (per op)
  → ``ops_per_s``.
- ``shuffle.write_bytes``, ``shuffle.read_bytes``, ``spill.disk_bytes``,
  ``scan.input_bytes`` (per op), ``scan.rows_per_result_row`` →
  ``query_geomean_s``.
- ``storage.blocks_after_clear``, ``storage.bytes_after_clear``: RDD and
  checkpoint blocks still held after ``clearCache()`` at the end of the
  timed region → ``peak_rss_mb`` and ``ops_per_s``.
- ``pyworker.boot_ms``, ``.init_ms``, ``.run_ms``, ``.bytes_sent``,
  ``.bytes_returned`` (per op) → ``query_geomean_s``.
"""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass

from perfbench import datagen, eventlog
from perfbench.checks import Oracle, digest
from perfbench.harness import (
    Tally, Tracer, catalyst_metrics, geomean, host_context, metric, peak_rss_mb, report,
    sched_metrics, tail_report,
)

QUERIES = {"s01": 2, "s10": 2, "t02": 2, "d08": 1}  # query → executions per pass
SF = 0.01       # table sizes, as a fraction of the sf = 1 row counts
SETTLE = 1      # untimed passes between the first executions and the timed ones
PASS_S = 6.0    # nominal wall seconds of one steady pass at local[4]


@dataclass(frozen=True)
class Op:
    """One completed op: wall = build_s + action_s."""

    name: str
    tag: str
    wall: float
    build_s: float
    action_s: float
    rows: int
    traced: bool


def _resolve(queries: dict, prefixes: dict[str, int]) -> dict[str, int]:
    names = {}
    for p, k in prefixes.items():
        hits = [q for q in queries if q.startswith(p + "_")]
        if len(hits) != 1:
            raise KeyError(f"registry has {len(hits)} queries for {p!r}")
        names[hits[0]] = k
    return names


class Loop:
    """The closed loop over one set of tables."""

    def __init__(self, spark, queries: dict, names: dict[str, int], table_dir: str):
        self.spark = spark
        self.queries = queries
        self.names = list(names)
        self.per_pass = [n for n, k in names.items() for _ in range(k)]
        self.table_dir = table_dir
        self.expected: dict[str, tuple[int, str]] = {}
        self.tally = Tally()
        self.check_s = 0.0  # the benchmark's own result checks

    def run_op(self, name: str, tracer: Tracer, tag: str) -> Op | None:
        """Build, collect and check one query; None when the op failed."""
        self.tally.attempted += 1
        try:
            with tracer.op(tag):
                t0 = time.perf_counter()
                with tracer.subgroup("build"):
                    df = self.queries[name](self.spark, self.table_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                tracer.phases_of(df)
            cols = df.columns
            self.spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.tally.fail(tag, f"{type(exc).__name__}: {exc}")
            self.spark.catalog.clearCache()
            return None
        t3 = time.perf_counter()
        got = digest(cols, rows)
        self.check_s += time.perf_counter() - t3
        if got != self.expected.get(name):
            self.tally.fail(tag, f"digest {got} != {self.expected.get(name)}")
            return None
        return Op(name, tag, t2 - t0, t1 - t0, t2 - t1, len(rows), tracer.enabled)

    def passes(self, seed: int, passes: range, pick):
        """The numbered ``passes``; ``pick(pass, query index)`` gives the
        tracer of each op.  Returns the per-query latency samples, the
        per-op records and the loop's wall time without the result checks."""
        lat: dict[str, list[float]] = {name: [] for name in self.names}
        ops: list[Op] = []
        check0, t0 = self.check_s, time.perf_counter()
        for p in passes:
            order = list(self.per_pass)
            random.Random(seed * 100_003 + p).shuffle(order)
            for k, name in enumerate(order):
                tracer = pick(p, self.names.index(name))
                op = self.run_op(name, tracer, f"{name}#{p}.{k}")
                if op is not None:
                    lat[name].append(op.wall)
                    ops.append(op)
        return lat, ops, time.perf_counter() - t0 - (self.check_s - check0)


def run(workload: str, seed: int, seconds: float, trace: bool, scratch, spark, start_s):
    from aind_smartspim_data_transformation_spark import registry
    from aind_smartspim_data_transformation_spark.tables import TABLE_NAMES

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    names = _resolve(queries, QUERIES)

    table_dir = str(scratch.path("tables"))
    t0 = time.perf_counter()
    datagen.write_tables(scratch.path("tables"), seed, SF)
    gen_s = time.perf_counter() - t0

    loop = Loop(spark, queries, names, table_dir)
    oracle = Oracle(table_dir, TABLE_NAMES)
    try:
        for name in names:
            loop.expected[name] = oracle.digest(oracles[name])
    finally:
        oracle.close()

    # warm-up on the bench tables; the first execution of each query
    # is the one checked against the oracle
    off = Tracer(spark, enabled=False)
    t0 = time.perf_counter()
    for name in names:
        loop.run_op(name, off, f"{name}#warmup")
    loop.passes(seed, range(SETTLE), lambda p, i: off)
    warmup_s = time.perf_counter() - t0
    setup_s = start_s + gen_s + warmup_s

    report("host", {"workload": workload, "seed": seed, "sf": SF, **host_context()})
    n_passes = max(1, round(seconds / PASS_S))
    if not trace:
        lat, ops, loop_s = loop.passes(seed, range(SETTLE, SETTLE + n_passes), lambda p, i: off)
        report("per_query_s", {k: tail_report(v) for k, v in lat.items() if v})
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "ops_per_s": metric(len(ops) / loop_s, "1/s"),
            "query_geomean_s": metric(
                geomean(statistics.median(v) for v in lat.values()), "s"),
            "peak_rss_mb": metric(peak_rss_mb(), "MB"),
        }
        return loop.tally, metrics, None

    # traced run: each query runs traced in every other pass and
    # untraced in the rest, so both sets hold the same op mix and the
    # overhead ratio compares like with like
    tracer = Tracer(spark, enabled=True)
    tables = _wrap_tables(tracer)
    _, all_ops, _ = loop.passes(
        seed, range(SETTLE, SETTLE + 2 * max(1, n_passes // 2)),
        lambda p, i: tracer if (p + i) % 2 else off)
    ops = [o for o in all_ops if o.traced]
    plain_ops = [o for o in all_ops if not o.traced]
    spark.catalog.clearCache()
    blocks, held = tracer.storage_held()

    def finalize(groups: dict[str, eventlog.Totals]) -> dict:
        n = len(ops)
        tags = {o.tag for o in ops}
        op_tot = eventlog.total(groups, lambda g: g.split("/")[0] in tags)
        build = eventlog.total(
            groups, lambda g: g.endswith("/build") and g.split("/")[0] in tags)
        wall = sum(o.wall for o in ops)
        m = {
            "session.start_s": metric(start_s, "s"),
            "bench.gen_s": metric(gen_s, "s"),
            "bench.warmup_s": metric(warmup_s, "s"),
            "tables.load_calls": metric(tables["calls"] / n, "count"),
            "tables.load_s": metric(tables["seconds"] / n, "s"),
            "tables.memo_hit_ratio": metric(
                tables["hits"] / tables["calls"] if tables["calls"] else 0.0, "ratio"),
            "plans.build_s": metric(sum(o.build_s for o in ops) / n, "s"),
            "plans.build_jobs": metric(build.jobs / n, "count"),
            "exec.action_s": metric(sum(o.action_s for o in ops) / n, "s"),
            "scan.rows_per_result_row": metric(
                op_tot.input_records / max(1, sum(o.rows for o in ops)), "ratio"),
            "storage.blocks_after_clear": metric(blocks, "count"),
            "storage.bytes_after_clear": metric(held, "B"),
            "trace.overhead_ratio": metric(
                (n / wall) / (len(plain_ops) / sum(o.wall for o in plain_ops)), "ratio"),
        }
        m.update(catalyst_metrics(tracer, n))
        m.update(sched_metrics(op_tot, n, wall))
        return m

    return loop.tally, None, finalize


def _wrap_tables(tracer: Tracer) -> dict:
    """Count ``tables.load_table`` / ``load_events`` calls and memo hits
    (a call that leaves the session's table memo the same size)."""
    from aind_smartspim_data_transformation_spark import tables

    stats = {"calls": 0, "hits": 0, "seconds": 0.0, "depth": 0}

    def memo_size():
        return len(tables._TABLE_MEMO.get(tracer.spark, {}))

    def enter():
        stats["depth"] += 1
        return memo_size()

    def after(result, dt, size_before):
        stats["depth"] -= 1
        if stats["depth"] == 0:  # load_table("events") calls load_events
            stats["calls"] += 1
            stats["seconds"] += dt
            stats["hits"] += memo_size() == size_before

    for func in ("load_table", "load_events"):
        tracer.wrap(tables.__name__, func, before=enter, after=after)
    return stats


