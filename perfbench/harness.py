"""Run hygiene, session lifetime, tracing and statistics shared by the workloads.

Hygiene.  Every file a run makes (Spark local dirs, warehouse, derby
home, JVM temp dir, event logs, generated inputs, stores) goes under
one scratch directory inside the working directory, removed at exit.
The JVM is stopped and waited for, and any Python worker still alive
after it is killed and reaped, so nothing outlives the run.  Console
progress is off.  Nothing else runs during the timed region: no
calibration loop, no sampler thread.  Host context (load average,
``nproc``) is printed on a report line and never used to normalise a
metric.

Tracing.  With ``--trace 1`` the benchmark measures from outside the
engine: Spark's event log (one job group per op), the
``queryExecution().tracker().phases()`` of every DataFrame action, a
``StreamingQueryListener`` for streaming progress, and timers it wraps
around the public functions of the engine's layers.  The wrappers are
installed only for the traced part of a run; the end-to-end metrics
(``--trace 0``) are measured with all of it off.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

CPUS = 4
HEAP = "2g"  # spark.driver.memory: the same JVM heap limit in every run
PKG = "aind_smartspim_data_transformation_spark"


# --- statistics ------------------------------------------------------------

def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_report(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (none below 20 samples), and the sample count."""
    s = sorted(samples)
    out = {"n": len(s), "p50": statistics.median(s)}
    for p in (99, 95, 90):
        if len(s) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = s[min(len(s) - 1, math.ceil(len(s) * p / 100) - 1)]
            break
    return out


def report(label: str, obj) -> None:
    """A report line on stderr: shown to a reader, never gated."""
    print(f"# {label}: {json.dumps(obj, sort_keys=True, default=str)}", file=sys.stderr)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


@dataclass
class Tally:
    """Ops attempted and failed; a failed correctness check is a failed op."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, tag: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{tag}: {why}"[:300])


# --- processes -------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this process, the JVM and the Python
    workers under it."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me, *descendants(me)]) / 1024.0


# --- session ---------------------------------------------------------------

class Scratch:
    """The run's scratch directory and the Spark settings that keep
    every Spark file inside it."""

    def __init__(self, workload: str):
        self.root = Path.cwd() / ".perfbench_scratch" / f"{workload}-{os.getpid()}"
        self.root.mkdir(parents=True)
        for d in ("tmp", "local", "warehouse", "derby", "events"):
            (self.root / d).mkdir()

    def path(self, *parts: str) -> Path:
        return self.root.joinpath(*parts)

    def spark_env(self, event_log: bool) -> None:
        r = self.root
        conf = {
            "spark.local.dir": r / "local",
            "spark.sql.warehouse.dir": r / "warehouse",
            "spark.ui.showConsoleProgress": "false",
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={r / 'tmp'} -Dderby.system.home={r / 'derby'} "
                "-XX:-UsePerfData",
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.dir": f"file://{r / 'events'}",
        }
        os.environ["TMPDIR"] = str(r / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(r / "local")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f'--conf "{k}={v}"' for k, v in conf.items()) + " pyspark-shell"
        )

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            self.root.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def start_session(scratch: Scratch, event_log: bool):
    """``session.build_local_session`` at local[4] with a fixed heap;
    returns (spark, seconds)."""
    from aind_smartspim_data_transformation_spark.session import build_local_session

    scratch.spark_env(event_log)
    t0 = time.perf_counter()
    spark = build_local_session(
        app_name="perfbench", cpus=CPUS, driver_memory=HEAP
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, wait for the JVM, and reap every process it left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    leftovers = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        for pid in leftovers:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
        for pid in leftovers:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass  # not our child: gone once killed
        deadline = time.time() + 10
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in leftovers):
            time.sleep(0.05)
        SparkContext._gateway = None
        SparkContext._jvm = None


def host_context() -> dict:
    return {"loadavg": list(os.getloadavg()), "nproc": os.cpu_count(), "local_cpus": CPUS}


# --- tracing ---------------------------------------------------------------

_ACTIONS = ("collect", "count", "toPandas", "toArrow", "toLocalIterator",
            "foreach", "foreachPartition")
_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Job groups, timers and Catalyst phases for traced ops.

    ``enabled`` False makes every method a no-op, so an untraced op runs
    the same benchmark code with nothing installed.  An enabled tracer
    installs its wrappers when an op starts and removes them when it
    ends, so traced and untraced ops can alternate in one run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.timers: dict[str, list[float]] = defaultdict(list)
        self.phase_ms: dict[str, float] = defaultdict(float)
        self.current_op: str | None = None
        self._op_phases: dict = {}
        self._wraps: list = []
        self._patches: list = []

    # job groups: one per op, narrowed by layer wrappers
    def group(self) -> str | None:
        return self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")

    def set_group(self, name: str | None) -> None:
        self.spark.sparkContext.setJobGroup(name or "", name or "", False)

    @contextmanager
    def op(self, name: str):
        """One op: its own job group, the wrappers installed, and its
        Catalyst phases summed over every DataFrame action run inside it."""
        if not self.enabled:
            yield
            return
        self._install()
        self.set_group(name)
        self.current_op = name
        self._op_phases = {}
        try:
            yield
        finally:
            self.current_op = None
            self.set_group(None)
            self._uninstall()
            for ph in self._op_phases.values():
                for k, v in ph.items():
                    self.phase_ms[k] += v

    @contextmanager
    def subgroup(self, suffix: str):
        """Narrow the current op's job group to ``<op>/<suffix>``."""
        prev = self.group() if self.enabled else None
        if prev:
            self.set_group(f"{prev}/{suffix}")
        try:
            yield
        finally:
            if prev:
                self.set_group(prev)

    def phases_of(self, df) -> None:
        """Record the Catalyst phase durations of an executed DataFrame
        (keyed by its JVM object, so a frame acted on twice counts once)."""
        if not self.enabled:
            return
        try:
            ph = df._jdf.queryExecution().tracker().phases()
            self._op_phases[df._jdf._target_id] = {
                k: float(ph.apply(k).durationMs()) for k in _PHASES if ph.contains(k)
            }
        except Exception:  # noqa: BLE001 - a frame without a JVM plan
            pass

    def wrap(self, module: str, func: str, timer: str | None = None,
             group_suffix: str | None = None, before=None, after=None) -> None:
        """While a traced op runs, replace ``module.func`` (and every
        package module that imported it by name) with a wrapper that
        times it into ``timers[timer]``, optionally narrows the job group
        to ``<op>/<group_suffix>``, and calls
        ``after(result, seconds, before())``."""
        import importlib

        orig = getattr(importlib.import_module(module), func)
        tracer = self

        def wrapper(*args, **kwargs):
            pre = before() if before else None
            t0 = time.perf_counter()
            with tracer.subgroup(group_suffix) if group_suffix else nullcontext():
                result = orig(*args, **kwargs)
            dt = time.perf_counter() - t0
            if timer:
                tracer.timers[timer].append(dt)
            if after:
                after(result, dt, pre)
            return result

        self._wraps.append((orig, wrapper))

    def _install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for orig, wrapper in self._wraps:
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG):
                    for name, value in list(vars(mod).items()):
                        if value is orig:
                            setattr(mod, name, wrapper)
                            self._patches.append((mod, name, orig))
        # every DataFrame action reports its Catalyst phases
        for name in _ACTIONS:
            orig = getattr(DataFrame, name)

            def action(df, *a, _orig=orig, **kw):
                try:
                    return _orig(df, *a, **kw)
                finally:
                    self.phases_of(df)

            setattr(DataFrame, name, action)
            self._patches.append((DataFrame, name, orig))

    def _uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches = []

    def storage_held(self) -> tuple[int, int]:
        """(cached partitions, bytes) of RDD/checkpoint blocks still
        held by the block manager."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        blocks = sum(int(i.numCachedPartitions()) for i in infos)
        size = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return blocks, size


def catalyst_metrics(tracer: Tracer, n: int) -> dict:
    """Catalyst phase milliseconds per op."""
    return {
        f"catalyst.{k}_ms": metric(tracer.phase_ms.get(k, 0.0) / max(1, n), "ms")
        for k in ("analysis", "optimization", "planning")
    }


def sched_metrics(t, n: int, wall: float) -> dict:
    """Scheduler, executor, shuffle and Python-worker figures per op
    from the event-log totals ``t`` of ``n`` ops that took ``wall`` s."""
    n = max(1, n)
    return {
        "sched.jobs_per_op": metric(t.jobs / n, "count"),
        "sched.stages_per_op": metric(t.stages / n, "count"),
        "sched.tasks_per_op": metric(t.tasks / n, "count"),
        "sched.failed_tasks": metric(t.failed_tasks, "count"),
        "sched.slot_idle_ratio": metric(
            1.0 - t.run_ms / 1000.0 / (wall * CPUS) if wall else 0.0, "ratio"),
        "exec.run_ms": metric(t.run_ms / n, "ms"),
        "exec.cpu_ms": metric(t.cpu_ms / n, "ms"),
        "exec.gc_ms": metric(t.gc_ms / n, "ms"),
        "shuffle.write_bytes": metric(t.shuffle_write_bytes / n, "B"),
        "shuffle.read_bytes": metric(t.shuffle_read_bytes / n, "B"),
        "spill.disk_bytes": metric(t.spill_disk_bytes / n, "B"),
        "scan.input_bytes": metric(t.input_bytes / n, "B"),
        "pyworker.boot_ms": metric(t.py_boot / n, "ms"),
        "pyworker.init_ms": metric(t.py_init / n, "ms"),
        "pyworker.run_ms": metric(t.py_run / n, "ms"),
        "pyworker.bytes_sent": metric(t.py_bytes_sent / n, "B"),
        "pyworker.bytes_returned": metric(t.py_bytes_returned / n, "B"),
    }


def finish(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    sys.stdout.flush()
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    sys.stdout.flush()
