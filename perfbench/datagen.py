"""Seeded input generators for the benchmark.

Everything the engine sees in a benchmark run is made here from the
``--seed`` argument: the same seed gives byte-identical files
(``perfbench/tests/test_datagen.py`` checks it), another seed gives
other files with the same shape.

Tables clone the schema, value ranges and per-row structure of the
engine's star-schema test tables (TPC-H-like ``region`` … ``lineitem``
plus ``events``, ``documents`` and ``embeddings``), so the
integer-scaled kernels see realistic magnitudes: money is whole cents
stored as a double, timestamps are microsecond ``timestamp[us]``,
documents are 10–100 tokens over a 30-word vocabulary with about 6 %
near-duplicates (a copy of an original document plus one ``dup`` token),
embeddings are 64-d unit vectors, also with about 6 % near-duplicates
(an original row plus a little noise).  Row counts scale linearly with
``sf`` the way the test tables do (lineitem = 6 000 000 × sf).  Each
table is one parquet file with one row group, like the test tables.

Stacks are microscopy-like rather than uniform noise: a smooth
background gradient, Gaussian "cells" and Poisson shot noise, so the
zarr codec sees compressible content.  Slices are encoded with the
engine's own ``encode_png_gray`` and laid out as a SmartSPIM
acquisition (``SmartSPIM/<channel>/<col>/<col>_<row>/<z>.png``).
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Base row counts at sf = 1 (the test tables at sf0.1 hold one tenth).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.06
EMBED_DIM = 64

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # last order date 2001-08-01
SHIP_LAG_DAYS = 95
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = np.datetime64(base, "us").astype(np.int64)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    # One child generator per table: a table's content depends on the
    # seed and on its own row count only.
    streams = np.random.SeedSequence(seed).spawn(len(BASE_ROWS) + 2)
    rng = {name: np.random.default_rng(s) for name, s in zip(
        ["region", "nation", *BASE_ROWS], streams)}
    n = {t: max(10, round(r * sf)) for t, r in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r, k = rng["customer"], np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
        "c_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, len(k))),
        "c_mktsegment": _pick(r, SEGMENTS, len(k)),
    })

    r, k = rng["supplier"], np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
        "s_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, len(k))),
    })

    r, k = rng["part"], np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": _pick(r, names, len(k)),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, len(k))]),
        "p_type": _pick(r, PART_TYPES, len(k)),
        "p_size": pa.array(r.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": pa.array((9000 + k % 1000) / 10.0),
    })

    r, k = rng["orders"], np.arange(n["orders"])
    day_us = 86_400 * 1_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], len(k)), pa.int64()),
        "o_orderstatus": _pick(r, ORDER_STATUS, len(k)),
        "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, len(k))),
        "o_orderdate": _ts(ORDER_DAY0, r.integers(0, ORDER_DAYS + 1, len(k)) * day_us),
        "o_orderpriority": _pick(r, PRIORITIES, len(k)),
    })

    r, m = rng["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, m)),
        # rounding a uniform draw gives the half-weight end points the
        # test tables have (0.00 and 0.10 / 0.08 are half as common)
        "l_discount": pa.array(np.rint(r.uniform(0, 10, m)) / 100.0),
        "l_tax": pa.array(np.rint(r.uniform(0, 8, m)) / 100.0),
        "l_returnflag": _pick(r, RETURN_FLAGS, m),
        "l_linestatus": _pick(r, LINE_STATUS, m),
        "l_shipdate": _ts(
            ORDER_DAY0,
            (r.integers(0, ORDER_DAYS + 1, m) + r.integers(1, SHIP_LAG_DAYS, m))
            * day_us,
        ),
    })

    r, m = rng["events"], n["events"]
    ts = np.sort(r.integers(0, EVENT_SPAN_US, m))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": _ts(EVENT_T0, ts),
        "user_id": pa.array(r.integers(0, max(15, m * 3 // 200), m), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, m),
        "value": pa.array(np.rint(r.exponential(50.0, m) * 100) / 100.0),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, m)]),
    })

    out["documents"] = _documents(rng["documents"], n["documents"])

    r, m = rng["embeddings"], n["embeddings"]
    vec = r.standard_normal((m, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    # near-duplicates: an original row plus a little noise (cosine ~0.99)
    dup = r.random(m) < NEAR_DUP_SHARE
    src = r.choice(np.flatnonzero(~dup), int(dup.sum()))
    vec[dup] = vec[src] + 0.1 * r.standard_normal((len(src), EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32()),
    })
    return out


def _documents(r, m: int) -> pa.Table:
    lengths = r.integers(10, 101, m)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[r.integers(0, len(VOCAB), k)]) for k in lengths]
    # near-duplicates: a copy of an original document plus one token
    dup = r.random(m) < NEAR_DUP_SHARE
    originals = np.flatnonzero(~dup)
    for i, src in zip(np.flatnonzero(dup), r.choice(originals, int(dup.sum()))):
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, m, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(m)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(root: Path, seed: int, sf: float) -> int:
    """Write every table as ``root/<name>.parquet``; returns total rows."""
    root.mkdir(parents=True, exist_ok=True)
    rows = 0
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, root / f"{name}.parquet", row_group_size=len(table) + 1)
        rows += table.num_rows
    return rows


# --- imaging -----------------------------------------------------------

CHANNELS = ("Ex_445_Em_469", "Ex_561_Em_600")
COLS = ("432380", "464780")
ROW = "504340"
VOXEL_XYZ = [1.8, 1.8, 2.0]


def stack_names() -> list[tuple[str, str, str]]:
    """(channel, col, stack) for the four generated stacks."""
    return [(ch, col, f"{col}_{ROW}") for ch in CHANNELS for col in COLS]


def make_volume(rng: np.random.Generator, shape: tuple[int, int, int]) -> np.ndarray:
    """Background gradient + Gaussian cells + Poisson noise, uint16."""
    z, y, x = shape
    gy = np.linspace(0.0, 1.0, y)[:, None]
    gx = np.linspace(0.0, 1.0, x)[None, :]
    base = 100.0 + 60.0 * gx + 40.0 * gy
    lam = np.broadcast_to(base, shape).copy()
    n_cells = max(1, (z * y * x) // 40_000)
    for cz, cy, cx, sig, amp in zip(
        rng.uniform(0, z, n_cells),
        rng.uniform(0, y, n_cells),
        rng.uniform(0, x, n_cells),
        rng.uniform(1.5, 4.0, n_cells),
        rng.uniform(400.0, 3000.0, n_cells),
    ):
        h = int(3 * sig) + 1
        zs = slice(max(0, int(cz) - h), min(z, int(cz) + h + 1))
        ys = slice(max(0, int(cy) - h), min(y, int(cy) + h + 1))
        xs = slice(max(0, int(cx) - h), min(x, int(cx) + h + 1))
        zz, yy, xx = np.ogrid[zs, ys, xs]
        d2 = (zz - cz) ** 2 + (yy - cy) ** 2 + (xx - cx) ** 2
        lam[zs, ys, xs] += amp * np.exp(-d2 / (2 * sig * sig))
    return np.minimum(rng.poisson(lam), 65535).astype(np.uint16)


def make_volumes(seed: int, shape: tuple[int, int, int]) -> dict[str, np.ndarray]:
    """One volume per stack, keyed ``<channel>/<stack>``."""
    streams = np.random.SeedSequence([seed, 7]).spawn(len(stack_names()))
    return {
        f"{ch}/{stack}": make_volume(np.random.default_rng(s), shape)
        for (ch, _, stack), s in zip(stack_names(), streams)
    }


def encode_slices(volumes: dict[str, np.ndarray]) -> dict[str, list[bytes]]:
    """PNG bytes per slice, with the engine's encoder."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    return {k: [encode_png_gray(s) for s in v] for k, v in volumes.items()}


def write_slices(
    root: Path, pngs: dict[str, list[bytes]], z_lo: int, z_hi: int
) -> None:
    """Land slices ``[z_lo, z_hi)`` of every stack under ``root/SmartSPIM``;
    slice ``z`` carries plane ``z mod depth`` of the stack's volume."""
    for ch, col, stack in stack_names():
        d = root / "SmartSPIM" / ch / col / stack
        d.mkdir(parents=True, exist_ok=True)
        planes = pngs[f"{ch}/{stack}"]
        for z in range(z_lo, z_hi):
            (d / f"{z:06d}.png").write_bytes(planes[z % len(planes)])


def write_acquisition(root: Path, pngs: dict[str, list[bytes]], depth: int) -> None:
    """A complete SmartSPIM acquisition tree for the batch imaging job."""
    write_slices(root, pngs, 0, depth)
    (root / "derivatives").mkdir(parents=True, exist_ok=True)
    (root / "derivatives" / "metadata.json").write_text('{"origin": "perfbench"}')
    ch, col, stack = stack_names()[0]
    (root / "acquisition.json").write_text(json.dumps({
        "tiles": [{
            "channel": {"channel_name": "445"},
            "coordinate_transformations": [{"type": "scale", "scale": VOXEL_XYZ}],
            "file_name": f"{ch}/{col}/{stack}/",
        }]
    }))
