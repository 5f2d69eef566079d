"""The ``ingest`` workload: batch imaging jobs and streaming appends, alternating.

One process, one client, closed loop, local[4].  The input is a seeded
microscopy-like acquisition (``datagen.make_volumes``: four stacks of
``DEPTH`` × 512 × 512 uint16 with a background gradient, Gaussian cells
and Poisson noise), encoded with the engine's PNG encoder.

- A **batch op** is ``imaging.job.run_imaging_job`` over the whole
  acquisition into a fresh store (default settings: zlib-1, 128³
  chunks, 4 levels).
- An **append op** is one ``streaming.stack_stream.
  run_streaming_store_ingest`` wave (``availableNow``): ``WAVE`` new
  slices per stack land in the watched tree, and the stream appends
  them to one growing store.  The store is created by an untimed wave
  during warm-up.

After the warm-up, ``SETTLE`` untimed pairs run before the timed ones:
the first pair after the warm-up still runs 20–30 % slow (JIT
compilation, Python workers importing their modules), and timing it
made the medians depend on how fast each run's JVM settled.  The
amount of work is fixed: ``round(seconds / PAIR_S)`` timed pairs.

Decode, pyramid, compress and put dominate; Catalyst is negligible.
Both writers go through ``imaging.zarr_sink`` the way they write, so a
sink change has to hold for both.  The content compresses (unlike
uniform noise), so a codec change shows both its CPU cost and its
space cost.

Correctness: after every op each stack's store is read back with
``zarr_sink.read_zarr_level`` and must equal the generated pixels
exactly at level 0, and the iterated ``pyramid.windowed_mean`` at the
last level.

End-to-end metrics (``--trace 0``), the same names as the relational
workloads:

- ``setup_s``: session start + input generation + warm-up: one batch op
  and the wave that creates the streamed store (the first execution of
  an op kind costs about 3× a steady one), then the ``SETTLE`` pairs.
- ``ops_per_s``: completed ops ÷ the wall time of the timed loop, engine
  work between ops (``clearCache()``) included, the benchmark's own work
  (writing each wave's slices, listing the store, the read-back check,
  deleting a batch store) left out.
- ``query_geomean_s``: geometric mean of the median batch-op and the
  median append-op latency (each op kind counts as one query).
- ``peak_rss_mb``: summed peak RSS of this process, the JVM and the
  Python workers, with a fixed ``driver_memory``.

Raw MB per second of each op kind and the stored share go on a report
line here, and are per-layer metrics of the traced run (below), because
every workload must print every end-to-end metric and these have no
meaning on the relational workloads.

Per-layer metrics (``--trace 1``) → the end-to-end metric each should move:

- ``session.start_s``, ``bench.gen_s``, ``bench.warmup_s`` → ``setup_s``.
- ``sources.probe_s`` (``imaging.fused.probe_stack_geometry``),
  ``png_codec.decode_mb_per_s``, ``pyramid.windowed_mean_mb_per_s``
  (single-core timings of the public kernels on the generated slices)
  → ``job.batch_mb_per_s``.
- ``fused.run_s``, ``fused.tasks``, ``fused.exec_run_ms``,
  ``fused.exec_cpu_ms``, ``fused.slot_idle_ratio``,
  ``fused.unattributed_core_s`` (executor run time minus the decode and
  pyramid time predicted from the kernel rates), ``job.overhead_s``
  (job wall − probe − fused run), all per batch op → ``job.batch_mb_per_s``.
- ``job.batch_mb_per_s`` and ``stream.append_mb_per_s``: raw MB ÷ summed
  wall time of that op kind → ``query_geomean_s`` and ``ops_per_s``.
- ``zarr_sink.stored_per_raw``: stored bytes (every file of a batch
  store) per raw pixel byte, exact for a given seed — the space cost of
  a codec change.
- ``zarr_sink.objects_written``, ``zarr_sink.bytes_written`` (per op),
  ``zarr_sink.rewrite_ratio`` (bytes written ÷ new bytes on append),
  ``zarr_sink.read_mb_per_s`` (``read_zarr_level``) → ``stored_per_raw``
  and ``stream.append_mb_per_s``.
- ``stream.batches`` (per append op), ``stream.trigger_ms``,
  ``stream.add_batch_ms``, ``stream.planning_ms``,
  ``stream.wal_commit_ms`` (per micro-batch) → ``stream.append_mb_per_s``.
- ``sched.*``, ``exec.*``, ``catalyst.*``, ``pyworker.*`` as in the
  relational workloads, over every op → ``ops_per_s``.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from perfbench import datagen, eventlog
from perfbench.harness import (
    CPUS, Tally, Tracer, catalyst_metrics, geomean, host_context, metric, peak_rss_mb,
    report, sched_metrics,
)

SLICE_YX = (512, 512)
DEPTH = 8           # planes per stack in the batch acquisition
WAVE = 4            # planes per stack in one append wave
STREAM_LEVELS = 3
STREAM_CHUNK = [64, 128, 128]
SETTLE = 1          # untimed pairs between the warm-up and the timed ones
PAIR_S = 5.5        # nominal wall seconds of one batch + append pair at local[4]

MOD = "aind_smartspim_data_transformation_spark"


@dataclass(frozen=True)
class Op:
    kind: str
    tag: str
    wall: float
    traced: bool


def _walls(ops: list[Op], kind: str | None = None, traced: bool | None = None):
    return [o.wall for o in ops
            if kind in (None, o.kind) and traced in (None, o.traced)]


def _pyramid(vol: np.ndarray, levels: int) -> np.ndarray:
    from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean

    for _ in range(levels - 1):
        vol = windowed_mean(vol, (2, 2, 2))
    return vol


def _check_store(store: Path, expected: dict[str, np.ndarray], levels: int) -> None:
    """Every stack's level 0 equals its pixels, its last level equals
    the iterated windowed mean; raises AssertionError otherwise."""
    from aind_smartspim_data_transformation_spark.imaging import zarr_sink

    for ch, _, stack in datagen.stack_names():
        group = str(store / ch / f"{stack}.ome.zarr")
        vol = expected[f"{ch}/{stack}"]
        if not np.array_equal(zarr_sink.read_zarr_level(group, 0), vol):
            raise AssertionError(f"{ch}/{stack}: level 0 differs from the input")
        if not np.array_equal(
            zarr_sink.read_zarr_level(group, levels - 1), _pyramid(vol, levels)
        ):
            raise AssertionError(f"{ch}/{stack}: level {levels - 1} differs from windowed_mean")


def _files(root: Path) -> dict[str, tuple[int, int]]:
    return {
        str(p): (st.st_size, st.st_mtime_ns)
        for p in root.rglob("*")
        if p.is_file() and ".staging" not in p.parts
        for st in [p.stat()]
    }


class Ingest:
    """The two op kinds over one scratch directory."""

    def __init__(self, spark, scratch, volumes, pngs):
        self.spark = spark
        self.scratch = scratch
        self.volumes = volumes
        self.pngs = pngs
        self.src = scratch.path("acquisition")
        datagen.write_acquisition(self.src, pngs, DEPTH)
        self.stream_root = scratch.path("arriving")
        self.store = scratch.path("stream_store")
        self.ckpt = scratch.path("stream_ckpt")
        self.waves = 0
        self.n_batch = 0
        self.tally = Tally()
        self.raw_batch = sum(v.nbytes for v in volumes.values())
        self.raw_wave = self.raw_batch * WAVE // DEPTH
        self.stored_per_raw: list[float] = []
        self.sink = {"objects": 0, "bytes": 0, "append_written": 0, "append_new": 0}
        self.bench_s = 0.0  # the benchmark's own work inside the loop

    @contextmanager
    def own(self):
        """Time the benchmark's own work, so it can be taken out of the
        loop's wall time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bench_s += time.perf_counter() - t0

    def batch(self, tracer: Tracer, tag: str) -> float | None:
        from aind_smartspim_data_transformation_spark.config.settings import (
            ImagingJobSettings,
        )
        from aind_smartspim_data_transformation_spark.imaging.job import run_imaging_job

        self.tally.attempted += 1
        out = self.scratch.path(f"batch_store_{self.n_batch}")
        self.n_batch += 1
        settings = ImagingJobSettings(input_source=str(self.src), output_directory=str(out))
        try:
            with tracer.op(tag):
                t0 = time.perf_counter()
                resp = run_imaging_job(self.spark, settings)
                wall = time.perf_counter() - t0
                if resp.get("status_code") != 200:
                    raise AssertionError(f"job returned {resp.get('status_code')}")
                with self.own():
                    _check_store(out, self.volumes, settings.downsample_levels)
            with self.own():
                files = _files(out)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.tally.fail(tag, f"{type(exc).__name__}: {exc}")
            return None
        finally:
            self.spark.catalog.clearCache()
        stored = sum(s for s, _ in files.values())
        self.stored_per_raw.append(stored / self.raw_batch)
        if tracer.enabled:
            self.sink["objects"] += len(files)
            self.sink["bytes"] += stored
        with self.own():
            shutil.rmtree(out, ignore_errors=True)
        return wall

    def wave(self, tracer: Tracer, tag: str) -> float | None:
        from aind_smartspim_data_transformation_spark.streaming.stack_stream import (
            run_streaming_store_ingest,
        )

        self.tally.attempted += 1
        k = self.waves
        self.waves += 1
        with self.own():
            datagen.write_slices(self.stream_root, self.pngs, k * WAVE, (k + 1) * WAVE)
            before = _files(self.store) if self.store.exists() else {}
        try:
            with tracer.op(tag):
                t0 = time.perf_counter()
                run_streaming_store_ingest(
                    self.spark,
                    str(self.stream_root / "SmartSPIM"),
                    str(self.store),
                    str(self.ckpt),
                    chunk_zyx=STREAM_CHUNK,
                    n_levels=STREAM_LEVELS,
                    voxel_size_zyx=[2.0, 1.8, 1.8],
                )
                wall = time.perf_counter() - t0
                planes = np.arange(self.waves * WAVE) % DEPTH
                with self.own():
                    _check_store(
                        self.store, {k: v[planes] for k, v in self.volumes.items()},
                        STREAM_LEVELS,
                    )
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.tally.fail(tag, f"{type(exc).__name__}: {exc}")
            return None
        if tracer.enabled:
            with self.own():
                after = _files(self.store)
            changed = [p for p, v in after.items() if before.get(p) != v]
            written = sum(after[p][0] for p in changed)
            self.sink["objects"] += len(changed)
            self.sink["bytes"] += written
            self.sink["append_written"] += written
            self.sink["append_new"] += (
                sum(s for s, _ in after.values()) - sum(s for s, _ in before.values())
            )
        return wall

    def rates(self, batch_s: list[float], append_s: list[float]) -> dict:
        """Raw MB per second of each op kind, and the stored share."""
        return {
            "job.batch_mb_per_s": metric(
                self.raw_batch / 1e6 * len(batch_s) / sum(batch_s), "MB/s"),
            "stream.append_mb_per_s": metric(
                self.raw_wave / 1e6 * len(append_s) / sum(append_s), "MB/s"),
            "zarr_sink.stored_per_raw": metric(statistics.median(self.stored_per_raw), "ratio"),
        }

    def pairs(self, pairs: range, pick) -> tuple[list[Op], float]:
        """The numbered batch + append ``pairs``; ``pick(pair, kind)``
        gives the tracer of each op.  Returns the ops and the loop's wall
        time without the benchmark's own work."""
        ops = []
        own0, t0 = self.bench_s, time.perf_counter()
        for i in pairs:
            for kind, fn in (("batch", self.batch), ("append", self.wave)):
                tracer = pick(i, kind)
                wall = fn(tracer, f"{kind}#{i}")
                if wall is not None:
                    ops.append(Op(kind, f"{kind}#{i}", wall, tracer.enabled))
        return ops, time.perf_counter() - t0 - (self.bench_s - own0)


class _Progress:
    """StreamingQueryListener: micro-batch durations and run id → op."""

    def __init__(self, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        progress: list[dict] = []
        run_group: dict[str, str] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                run_group[str(event.runId)] = tracer.current_op or ""

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    progress.append(dict(p.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.progress = progress
        self.run_group = run_group


def _kernel_rates(pngs: dict[str, list[bytes]], volumes: dict[str, np.ndarray]):
    """Single-core MB/s of the PNG decoder and the pyramid kernel on
    the generated data (raw MB in per second)."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
    from aind_smartspim_data_transformation_spark.sources.png_codec import decode_png_gray

    planes = next(iter(pngs.values()))
    vol = next(iter(volumes.values()))
    rates = {}
    for name, fn, mb in (
        ("decode", lambda: [decode_png_gray(b) for b in planes], vol.nbytes / 1e6),
        ("pyramid", lambda: windowed_mean(vol, (2, 2, 2)), vol.nbytes / 1e6),
    ):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        rates[name] = mb / statistics.median(times)
    return rates


def run(workload: str, seed: int, seconds: float, trace: bool, scratch, spark, start_s):
    t0 = time.perf_counter()
    volumes = datagen.make_volumes(seed, (DEPTH, *SLICE_YX))
    pngs = datagen.encode_slices(volumes)
    ing = Ingest(spark, scratch, volumes, pngs)
    gen_s = time.perf_counter() - t0

    off = Tracer(spark, enabled=False)
    t0 = time.perf_counter()
    ing.batch(off, "batch#warmup")
    ing.wave(off, "create#warmup")
    ing.pairs(range(SETTLE), lambda i, kind: off)
    warmup_s = time.perf_counter() - t0
    setup_s = start_s + gen_s + warmup_s
    report("host", {"workload": workload, "seed": seed, "raw_mb_batch": ing.raw_batch / 1e6,
                    "raw_mb_wave": ing.raw_wave / 1e6, **host_context()})

    n_pairs = max(1, round(seconds / PAIR_S))
    if not trace:
        ops, loop_s = ing.pairs(range(SETTLE, SETTLE + n_pairs), lambda i, kind: off)
        batch_s, append_s = _walls(ops, "batch"), _walls(ops, "append")
        report("per_op_s", {"batch": batch_s, "append": append_s})
        report("ingest", {k: v["value"] for k, v in ing.rates(batch_s, append_s).items()})
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "ops_per_s": metric(len(ops) / loop_s, "1/s"),
            "query_geomean_s": metric(
                geomean([statistics.median(batch_s), statistics.median(append_s)]), "s"),
            "peak_rss_mb": metric(peak_rss_mb(), "MB"),
        }
        return ing.tally, metrics, None

    # traced run: batch ops are traced in even pairs and append ops in
    # odd ones, so traced and untraced ops hold the same mix
    tracer = Tracer(spark, enabled=True)
    reads = {"mb": 0.0, "s": 0.0}
    tracer.wrap(f"{MOD}.imaging.fused", "probe_stack_geometry", timer="probe",
                group_suffix="probe")
    tracer.wrap(f"{MOD}.imaging.fused", "run_fused_ingest", timer="fused",
                group_suffix="fused")

    def on_read(result, dt, _):
        reads["mb"] += result.nbytes / 1e6
        reads["s"] += dt

    tracer.wrap(f"{MOD}.imaging.zarr_sink", "read_zarr_level", after=on_read)
    # the stream runs on the imaging child session, whose query manager
    # is its own
    from aind_smartspim_data_transformation_spark.session import imaging_session

    prog = _Progress(tracer)
    managers = [spark.streams, imaging_session(spark).streams]
    for m in managers:
        m.addListener(prog.listener)
    try:
        all_ops, _ = ing.pairs(
            range(SETTLE, SETTLE + 2 * max(1, n_pairs // 2)),
            lambda i, kind: tracer if (i + (kind == "append")) % 2 == 0 else off,
        )
    finally:
        time.sleep(1.0)  # let the last progress events reach the listener
        for m in managers:
            m.removeListener(prog.listener)
    spark.catalog.clearCache()
    blocks, held = tracer.storage_held()
    rates = _kernel_rates(pngs, volumes)
    ops = [o for o in all_ops if o.traced]
    batch_s, append_s = _walls(ops, "batch"), _walls(ops, "append")
    wall = sum(_walls(ops))
    traced_rate = len(ops) / wall
    plain_rate = (len(all_ops) - len(ops)) / sum(_walls(all_ops, traced=False))

    def finalize(groups: dict[str, eventlog.Totals]) -> dict:
        # streaming jobs run under the query's run id: charge them to
        # the op that started the query
        for run_id, op in prog.run_group.items():
            if run_id in groups and op:
                groups.setdefault(op, eventlog.Totals()).add(groups.pop(run_id))
        n_b, n_a = max(1, len(batch_s)), max(1, len(append_s))
        n = len(ops)
        tags = {o.tag for o in ops}
        op_tot = eventlog.total(groups, lambda g: g.split("/")[0] in tags)
        f_tot = eventlog.total(
            groups, lambda g: g.endswith("/fused") and g.split("/")[0] in tags)
        fused_s = sum(tracer.timers["fused"])
        probe_s = sum(tracer.timers["probe"])
        raw_mb = ing.raw_batch / 1e6
        pyramid_mb = raw_mb * sum(8.0 ** -k for k in range(3))  # levels 1..3 inputs
        predicted = raw_mb / rates["decode"] + pyramid_mb / rates["pyramid"]
        prog_n = max(1, len(prog.progress))

        def dur(key):
            return sum(p.get(key, 0) for p in prog.progress) / prog_n

        m = {
            "session.start_s": metric(start_s, "s"),
            "bench.gen_s": metric(gen_s, "s"),
            "bench.warmup_s": metric(warmup_s, "s"),
            "exec.action_s": metric(wall / max(1, n), "s"),
            "storage.blocks_after_clear": metric(blocks, "count"),
            "storage.bytes_after_clear": metric(held, "B"),
            "sources.probe_s": metric(probe_s / n_b, "s"),
            "png_codec.decode_mb_per_s": metric(rates["decode"], "MB/s"),
            "pyramid.windowed_mean_mb_per_s": metric(rates["pyramid"], "MB/s"),
            "fused.run_s": metric(fused_s / n_b, "s"),
            "fused.tasks": metric(f_tot.tasks / n_b, "count"),
            "fused.exec_run_ms": metric(f_tot.run_ms / n_b, "ms"),
            "fused.exec_cpu_ms": metric(f_tot.cpu_ms / n_b, "ms"),
            "fused.slot_idle_ratio": metric(
                1.0 - f_tot.run_ms / 1000.0 / (fused_s * CPUS) if fused_s else 0.0, "ratio"),
            "fused.unattributed_core_s": metric(f_tot.run_ms / 1000.0 / n_b - predicted, "s"),
            "job.overhead_s": metric((sum(batch_s) - probe_s - fused_s) / n_b, "s"),
            "zarr_sink.objects_written": metric(ing.sink["objects"] / max(1, n), "count"),
            "zarr_sink.bytes_written": metric(ing.sink["bytes"] / max(1, n), "B"),
            "zarr_sink.rewrite_ratio": metric(
                ing.sink["append_written"] / max(1, ing.sink["append_new"]), "ratio"),
            "zarr_sink.read_mb_per_s": metric(reads["mb"] / reads["s"] if reads["s"] else 0.0,
                                              "MB/s"),
            "stream.batches": metric(len(prog.progress) / n_a, "count"),
            "stream.trigger_ms": metric(dur("triggerExecution"), "ms"),
            "stream.add_batch_ms": metric(dur("addBatch"), "ms"),
            "stream.planning_ms": metric(dur("queryPlanning"), "ms"),
            "stream.wal_commit_ms": metric(dur("walCommit"), "ms"),
            "trace.overhead_ratio": metric(traced_rate / plain_rate, "ratio"),
            **ing.rates(batch_s, append_s),
        }
        m.update(catalyst_metrics(tracer, n))
        m.update(sched_metrics(op_tot, n, wall))
        return m

    return ing.tally, None, finalize
