"""Reduce Spark's own event log to per-job-group totals.

Spark 4.1 writes a rolling, zstd-compressed log: one directory
``eventlog_v2_<app>`` holding ``events_<n>_<app>.zstd`` parts (plus an
``appstatus`` marker).  Each line is one JSON listener event.  The
benchmark tags every op with its own job group (``setJobGroup``), so
the totals here are per op, and a layer wrapper can narrow the group
further (``<op>/fused``).

Charging rule: a stage belongs to the group of the FIRST job that
lists it.  A later job that reuses the stage (its shuffle output, so
the stage is skipped) lists it again but runs no tasks, and the stage
is not charged to that job's group a second time.

Python-worker figures come from the SQL metrics Spark 4.1 attaches to
Python exec nodes (``PythonSQLMetrics``), which reach the log as task
accumulables under their display names.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field, fields
from pathlib import Path

# task accumulable display name → field of Totals
PYTHON_METRICS = {
    "time to start Python workers": "py_boot",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


@dataclass
class Totals:
    """Work charged to one job group.  Times in ms, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_disk_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    py_boot: float = 0.0
    py_init: float = 0.0
    py_run: float = 0.0
    py_bytes_sent: float = 0.0
    py_bytes_returned: float = 0.0
    _stage_ids: set = field(default_factory=set, repr=False)

    def add(self, other: "Totals") -> None:
        for f in fields(self):
            if f.name != "_stage_ids":
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def log_files(log_dir: Path) -> list[Path]:
    """Every rolling event file under ``log_dir``, in write order."""
    def index(p: Path) -> tuple:
        return (str(p.parent), int(re.match(r"events_(\d+)_", p.name).group(1)))

    return sorted((p for p in log_dir.rglob("events_*") if p.is_file()), key=index)


def read_events(log_dir: Path) -> Iterator[dict]:
    import pyarrow as pa

    for path in log_files(log_dir):
        codec = "zstd" if path.suffix == ".zstd" else None
        with pa.input_stream(str(path), compression=codec) as f:
            data = f.read()
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def reduce_events(events: Iterable[dict]) -> dict[str, Totals]:
    """Per job group totals (jobs without a group go under ``""``)."""
    out: dict[str, Totals] = defaultdict(Totals)
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            t = out[stage_group.get(sid, "")]
            t._stage_ids.add(sid)
            t.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                t.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            t.run_ms += _num(m.get("Executor Run Time"))
            t.cpu_ms += _num(m.get("Executor CPU Time")) / 1e6
            t.gc_ms += _num(m.get("JVM GC Time"))
            t.spill_disk_bytes += int(_num(m.get("Disk Bytes Spilled")))
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write_bytes += int(_num(sw.get("Shuffle Bytes Written")))
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_bytes += int(
                _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
            )
            im = m.get("Input Metrics") or {}
            t.input_bytes += int(_num(im.get("Bytes Read")))
            t.input_records += int(_num(im.get("Records Read")))
            for acc in info.get("Accumulables", []):
                name = PYTHON_METRICS.get(acc.get("Name"))
                if name:
                    setattr(t, name, getattr(t, name) + _num(acc.get("Update")))
    for t in out.values():
        t.stages = len(t._stage_ids)
    return dict(out)


def reduce_log(log_dir: Path) -> dict[str, Totals]:
    return reduce_events(read_events(log_dir))


def total(groups: dict[str, Totals], match) -> Totals:
    """Sum of the groups whose name satisfies ``match``."""
    acc = Totals()
    for name, t in groups.items():
        if match(name):
            acc.add(t)
    return acc
