"""OME-Zarr (v2 + NGFF 0.4) multiscale sink for chunk tables.

Re-expresses the reference's zarr writer (SURVEY.md §2.1 S7,
`compress/png_to_zarr.py:533-708`) as a Spark sink:

- executors write chunk blobs via an Arrow-batched per-partition write
  job (``_arrow_foreach``) — embarrassingly parallel, no coordination,
  idempotent (re-run overwrites);
- the driver writes all JSON metadata (.zgroup/.zattrs/.zarray) ONCE,
  which removes the reference's create-race handling
  (`safe_create_zarr_group`, `compress/png_to_zarr.py:503-530`);
- chunk keys use ``dimension_separator="/"`` →
  ``<level>/<t>/<c>/<z>/<y>/<x>`` exactly like the reference
  (`compress/png_to_zarr.py:697`);
- edge chunks are zero-padded to the nominal chunk shape (zarr v2
  stores full-size chunks);
- compression is pluggable (``_make_codec``): zlib / none always work;
  blosc (the reference's default codec, `compress/zarr_utilities.py`)
  is gated behind an import-try and activates on any cluster with
  python-blosc installed — the zarr metadata written for it is the
  standard ``{"id": "blosc", "cname": ..., "clevel": ..., "shuffle":
  ...}`` codec spec, so external zarr readers decode it natively.

``read_zarr_level`` is the verification reader: it reopens what the
sink wrote from the spec alone (no zarr library), used by the golden
round-trip tests.

Scale: writes go straight from executors to the target filesystem
through ``pyarrow.fs`` — any URI it resolves (``s3://``, ``gs://``,
``hdfs://``, ``file://``) or a plain local path — replacing the
reference's subprocess ``aws s3 sync`` staging (SURVEY.md §2.1 S9)
with direct object-store PUTs from the write tasks; the reference's
super-block scheduling workaround (S8 BlockedArrayWriter) has no
equivalent because Spark bounds in-flight tasks natively.
"""

from __future__ import annotations

import json
import os
import threading
import zlib
from typing import Any

import numpy as np

from pyspark.sql import DataFrame

from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
    axes_5d,
    build_omero,
    compute_scale_ladder,
    pyramid_provenance,
)

_ZARR_DTYPES = {"uint8": "|u1", "uint16": "<u2", "uint32": "<u4", "float32": "<f4"}


def _make_codec(name: str, kwargs: dict[str, Any] | None):
    """(zarr compressor metadata, compress_fn) for a codec name.

    ``zlib`` and ``none`` are always available; ``blosc`` needs
    python-blosc on driver AND executors (import-tried here, so a
    cluster that has it gets the reference's codec with zero code
    change; this container doesn't, and asking for it raises a clear
    error at plan time rather than mid-write on an executor).
    """
    kwargs = kwargs or {}
    if name == "none":
        return None, lambda b: b
    if name == "zlib":
        level = int(kwargs.get("level", 1))
        return {"id": "zlib", "level": level}, lambda b: zlib.compress(b, level)
    if name == "blosc":
        try:
            import blosc  # noqa: F401
        except ImportError as e:  # pragma: no cover - container has no blosc
            raise ImportError(
                "compressor 'blosc' requires python-blosc on driver and "
                "executors; use 'zlib' or 'none' here"
            ) from e
        cname = kwargs.get("cname", "zstd")
        clevel = int(kwargs.get("clevel", 3))
        shuffle = int(kwargs.get("shuffle", 1))
        meta = {"id": "blosc", "cname": cname, "clevel": clevel,
                "shuffle": shuffle, "blocksize": 0}
        return meta, lambda b: blosc.compress(
            b, typesize=2, cname=cname, clevel=clevel, shuffle=shuffle
        )
    raise ValueError(f"unknown compressor {name!r} (zlib|none|blosc)")


def _make_decodec(meta: dict[str, Any] | None):
    """Inverse of ``_make_codec`` from on-disk .zarray metadata."""
    if meta is None:
        return lambda b: b
    if meta["id"] == "zlib":
        return zlib.decompress
    if meta["id"] == "blosc":  # pragma: no cover - container has no blosc
        import blosc

        return blosc.decompress
    raise ValueError(f"unsupported compressor metadata {meta!r}")


def pad_block(arr: np.ndarray, dims) -> np.ndarray:
    """Zero-pad an edge block to the nominal chunk shape (zarr v2
    stores full-size chunks); returns ``arr`` unchanged when already
    full.  ONE implementation for every writer (the chunk-table sinks,
    the append path, both DataSource writers, and the fused ingest) —
    the padding convention is load-bearing for byte-compatibility
    across write paths, so it must not be re-derived per site."""
    dims = tuple(dims)
    if arr.shape == dims:
        return arr
    full = np.zeros(dims, dtype=arr.dtype)
    full[tuple(slice(0, s) for s in arr.shape)] = arr
    return full


# Hadoop's S3 connector schemes: the same bucket/key space pyarrow.fs
# reaches as ``s3://`` (it rejects these with "Unrecognized filesystem
# type").
_S3_ALIASES = ("s3a://", "s3n://")


def pyarrow_uri(root: str) -> str:
    """``root`` with a Hadoop-style ``s3a://``/``s3n://`` scheme
    rewritten to ``s3://``; any other path or URI unchanged."""
    for alias in _S3_ALIASES:
        if root.startswith(alias):
            return "s3://" + root[len(alias):]
    return root


def _fs_for(root: str):
    """(pyarrow filesystem, filesystem-local path) for a plain local
    path or any URI pyarrow.fs resolves (``file://``, ``s3://`` and its
    Hadoop aliases ``s3a://``/``s3n://``, ``gs://``, ``hdfs://``...).
    This is what makes the sink object-store capable: executors and the
    driver write through the same abstraction, no subprocess staging
    (reference S9 shells out to ``aws s3 sync``, `io/utils.py:138-201`).
    An unknown scheme raises ``pyarrow.ArrowInvalid``."""
    from pyarrow import fs as pafs

    if "://" in root:
        return pafs.FileSystem.from_uri(pyarrow_uri(root))
    return pafs.LocalFileSystem(), root


def _write_json(path: str, obj: Any) -> None:
    """Race-free metadata write: stacks are written concurrently
    (imaging/job.py) and sibling stacks share the root ``.zgroup``.
    On a local filesystem this is tmp + atomic rename (the reference
    handles the same race with ContainsGroupError catching,
    `compress/png_to_zarr.py:503-530`); on an object store a single
    PUT is already atomic, so the write goes straight through."""
    from pyarrow import fs as pafs

    fs, p = _fs_for(path)
    payload = json.dumps(obj, indent=2).encode()
    parent = p.rsplit("/", 1)[0]
    fs.create_dir(parent, recursive=True)
    if isinstance(fs, pafs.LocalFileSystem):
        tmp = f"{p}.tmp.{os.getpid()}.{threading.get_ident()}"
        with fs.open_output_stream(tmp) as f:
            f.write(payload)
        fs.move(tmp, p)  # rename(2): atomic on POSIX
    else:
        with fs.open_output_stream(p) as f:
            f.write(payload)


def _arrow_foreach(df: DataFrame, partition_fn) -> None:
    """Run ``partition_fn(rows)`` once per partition, with ``rows`` an
    iterator of dict-like records — through ``mapInPandas``, i.e. the
    Arrow transfer path.

    ``DataFrame.foreachPartition`` would route every row through the
    legacy pickled-RDD serializer; with half-megabyte binary chunk
    payloads per row that serializer dominated the sink's wall-clock
    (measured ~2× slower end-to-end than Arrow batches on the 409 MB
    micro-bench).  The one-summary-row-per-partition output is what
    forces execution; it is collected and discarded.
    """
    import pandas as pd

    def _runner(batches):
        n = 0

        def rows():
            nonlocal n
            for pdf in batches:
                for rec in pdf.to_dict("records"):
                    n += 1
                    yield rec

        partition_fn(rows())
        yield pd.DataFrame({"n": [n]})

    df.mapInPandas(_runner, schema="n long").collect()


def _level_geometry(level_df: DataFrame) -> tuple[tuple[int, ...], str]:
    """(Z, Y, X) extent + dtype from chunk *metadata* (one tiny agg —
    never touches the data column; Catalyst prunes it from the scan)."""
    from pyspark.sql import functions as F

    row = level_df.agg(
        F.sum(F.when((F.col("cy") == 0) & (F.col("cx") == 0), F.col("dz"))).alias("z"),
        F.sum(F.when((F.col("cz") == 0) & (F.col("cx") == 0), F.col("dy"))).alias("y"),
        F.sum(F.when((F.col("cz") == 0) & (F.col("cy") == 0), F.col("dx"))).alias("x"),
        F.first("dtype").alias("dtype"),
    ).first()
    return (int(row["z"]), int(row["y"]), int(row["x"])), row["dtype"]


def write_ome_zarr(
    levels: list[DataFrame],
    output_path: str,
    stack_name: str,
    channel_name: str,
    voxel_size_zyx: list[float],
    scale_factor_zyx: list[int],
    chunk_zyx: list[int],
    compressor_name: str = "zlib",
    compressor_kwargs: dict[str, Any] | None = None,
) -> str:
    """Write a multiscale OME-Zarr group for one stack.

    ``levels[i]`` is the level-i chunk table (imaging/pyramid.py).
    Returns the stack group path.
    """
    group = os.path.join(output_path, f"{stack_name}.ome.zarr")
    codec_meta, compress = _make_codec(compressor_name, compressor_kwargs)
    (z0, y0, x0), dtype = _level_geometry(levels[0])
    shape_5d = (1, 1, z0, y0, x0)
    n_lvls = len(levels)

    transforms, chunk_opts = compute_scale_ladder(
        voxel_size_zyx, scale_factor_zyx, n_lvls, shape_5d, chunk_zyx
    )
    _write_json(os.path.join(output_path, ".zgroup"), {"zarr_format": 2})
    _write_json(os.path.join(group, ".zgroup"), {"zarr_format": 2})
    _write_json(
        os.path.join(group, ".zattrs"),
        {
            "multiscales": [
                {
                    "axes": axes_5d(),
                    "datasets": [
                        {"path": str(i), "coordinateTransformations": transforms[i]}
                        for i in range(n_lvls)
                    ],
                    "name": f"/{stack_name}.ome.zarr",
                    "version": "0.4",
                    "metadata": pyramid_provenance(),
                }
            ],
            "omero": build_omero(
                channel_name,
                shape_5d,
                np.dtype(dtype),
                image_name=f"{stack_name}.ome.zarr",
            ),
        },
    )

    shape = [1, 1, z0, y0, x0]
    # nominal chunk = dims of the (0,0,0) chunk: the stored grid is
    # regular except at upper edges, and may differ from the *requested*
    # chunk (e.g. full-plane assembly keeps whole Y/X slices).  ONE
    # lookup at level 0; deeper levels follow exactly — the windowed
    # mean maps tile dims d → ceil(d/f) per level, so no per-level
    # first() job (each was a full Spark job; at 4 levels × many stacks
    # the saved scheduling is material).
    from pyspark.sql import functions as F

    first = (
        levels[0]
        .filter((F.col("cz") == 0) & (F.col("cy") == 0) & (F.col("cx") == 0))
        .select("dz", "dy", "dx")
        .first()
    )
    chunk_dims = [int(first["dz"]), int(first["dy"]), int(first["dx"])]

    for lvl, level_df in enumerate(levels):
        # Same geometry guard as write_ome_zarr_all: refuse chunk dims a
        # per-chunk pyramid can't reduce exactly (divisible by factor or
        # full-extent on each axis) instead of writing divergent levels.
        if lvl < n_lvls - 1:
            for ax, (d, f) in enumerate(zip(chunk_dims, scale_factor_zyx)):
                if d % f != 0 and d != shape[2 + ax]:
                    raise ValueError(
                        f"zarr sink: level-{lvl} chunk dim {d} on axis "
                        f"{'zyx'[ax]} of {stack_name} is neither divisible "
                        f"by factor {f} nor the full extent {shape[2 + ax]} "
                        f"— per-chunk pyramid would diverge from the "
                        f"global windowed mean"
                    )
        lvl_dir = os.path.join(group, str(lvl))
        nominal_chunk = [1, 1, *chunk_dims]
        _write_json(
            os.path.join(lvl_dir, ".zarray"),
            {
                "zarr_format": 2,
                "shape": shape,
                "chunks": nominal_chunk,
                "dtype": _ZARR_DTYPES[dtype],
                "compressor": codec_meta,
                "fill_value": 0,
                "filters": None,
                "order": "C",
                "dimension_separator": "/",
            },
        )
        chunk_shape = tuple(nominal_chunk[2:])

        def _write_partition(
            rows, lvl_dir=lvl_dir, chunk_shape=chunk_shape, compress=compress
        ):
            fs, base = _fs_for(lvl_dir)  # once per task, not per chunk
            made: set[str] = set()
            for r in rows:
                arr = np.frombuffer(r["data"], dtype=np.dtype(r["dtype"])).reshape(
                    r["dz"], r["dy"], r["dx"]
                )
                arr = pad_block(arr, chunk_shape)  # edge chunk → zero-pad
                key = "/".join(
                    [base, "0", "0", str(r["cz"]), str(r["cy"]), str(r["cx"])]
                )
                parent = key.rsplit("/", 1)[0]
                if parent not in made:
                    fs.create_dir(parent, recursive=True)
                    made.add(parent)
                with fs.open_output_stream(key) as f:
                    f.write(compress(np.ascontiguousarray(arr).tobytes()))

        _arrow_foreach(level_df, _write_partition)
        shape = [
            1,
            1,
            -(-shape[2] // scale_factor_zyx[0]),
            -(-shape[3] // scale_factor_zyx[1]),
            -(-shape[4] // scale_factor_zyx[2]),
        ]
        chunk_dims = [
            -(-chunk_dims[0] // scale_factor_zyx[0]),
            -(-chunk_dims[1] // scale_factor_zyx[1]),
            -(-chunk_dims[2] // scale_factor_zyx[2]),
        ]
    return group


def write_ome_zarr_all(
    levels: list[DataFrame],
    output_root: str,
    voxel_size_zyx: list[float],
    scale_factor_zyx: list[int],
    chunk_zyx: list[int],
    compressor_name: str = "zlib",
    compressor_kwargs: dict[str, Any] | None = None,
) -> list[str]:
    """Multi-stack sink: ``levels[i]`` is the level-i chunk table over
    ALL stacks (rows keyed by channel/stack).  Stack groups land at
    ``<output_root>/<channel>/<stack>.ome.zarr``.

    This is the 1000-executor shape: ONE geometry aggregation and ONE
    Arrow-batched write job (``_arrow_foreach``) per level for the whole dataset —
    per-stack routing happens inside the task from each row's
    channel/stack columns — instead of the per-stack sink's
    jobs × stacks fan-out.  Metadata stays driver-side single-writer.
    Returns the sorted stack group paths.
    """
    from pyspark.sql import functions as F

    codec_meta, compress = _make_codec(compressor_name, compressor_kwargs)

    origin = (F.col("cy") == 0) & (F.col("cx") == 0) & (F.col("cz") == 0)
    geo = (
        levels[0]
        .groupBy("channel", "stack")
        .agg(
            F.sum(
                F.when((F.col("cy") == 0) & (F.col("cx") == 0), F.col("dz"))
            ).alias("z"),
            F.sum(
                F.when((F.col("cz") == 0) & (F.col("cx") == 0), F.col("dy"))
            ).alias("y"),
            F.sum(
                F.when((F.col("cz") == 0) & (F.col("cy") == 0), F.col("dx"))
            ).alias("x"),
            F.first("dtype").alias("dtype"),
            F.first(F.when(origin, F.col("dz")), ignorenulls=True).alias("cdz"),
            F.first(F.when(origin, F.col("dy")), ignorenulls=True).alias("cdy"),
            F.first(F.when(origin, F.col("dx")), ignorenulls=True).alias("cdx"),
        )
        .collect()
    )

    n_lvls = len(levels)
    groups, chunk_ladder = _write_all_metadata(
        geo,
        output_root,
        voxel_size_zyx,
        scale_factor_zyx,
        chunk_zyx,
        n_lvls,
        codec_meta,
    )

    for lvl, level_df in enumerate(levels):

        def _write_partition(
            rows, lvl=lvl, root=output_root, ladder=chunk_ladder, compress=compress
        ):
            fs, base = _fs_for(root)  # once per task, not per chunk
            made: set[str] = set()
            for r in rows:
                chunk_shape = ladder[(r["channel"], r["stack"])][lvl]
                arr = np.frombuffer(
                    r["data"], dtype=np.dtype(r["dtype"])
                ).reshape(r["dz"], r["dy"], r["dx"])
                arr = pad_block(arr, chunk_shape)  # edge chunk → zero-pad
                key = "/".join(
                    [
                        base,
                        r["channel"],
                        f"{r['stack']}.ome.zarr",
                        str(lvl),
                        "0",
                        "0",
                        str(r["cz"]),
                        str(r["cy"]),
                        str(r["cx"]),
                    ]
                )
                parent = key.rsplit("/", 1)[0]
                if parent not in made:
                    fs.create_dir(parent, recursive=True)
                    made.add(parent)
                with fs.open_output_stream(key) as f:
                    f.write(compress(np.ascontiguousarray(arr).tobytes()))

        _arrow_foreach(level_df, _write_partition)

    return sorted(groups)


def _write_all_metadata(
    geo,
    output_root: str,
    voxel_size_zyx: list[float],
    scale_factor_zyx: list[int],
    chunk_zyx: list[int],
    n_lvls: int,
    codec_meta: dict[str, Any] | None,
    extra_attrs: dict[str, Any] | None = None,
) -> tuple[list[str], dict[tuple[str, str], list[tuple[int, int, int]]]]:
    """Driver-side metadata writer shared by the chunk-table sink
    (:func:`write_ome_zarr_all`) and the fused ingest
    (imaging/fused.py): per stack, the group .zgroup/.zattrs and every
    level's .zarray, including the geometry guard.  ``geo`` rows carry
    channel/stack, full extents z/y/x, dtype, and origin-chunk dims
    cdz/cdy/cdx.  Returns (group paths, per-stack chunk-dims ladder) —
    ONE implementation so the two write paths can never disagree on
    metadata.  ``extra_attrs`` entries land inside the stack's single
    ``.zattrs`` write (the streaming writer's epoch marker must be
    atomic with store creation — see append_slab_transaction)."""
    fz, fy, fx = scale_factor_zyx
    groups, chunk_ladder = plan_store_layout(
        geo, output_root, scale_factor_zyx, n_lvls
    )
    for r in geo:
        channel, stack = r["channel"], r["stack"]
        group = os.path.join(output_root, channel, f"{stack}.ome.zarr")
        shape_5d = (1, 1, int(r["z"]), int(r["y"]), int(r["x"]))
        transforms, _ = compute_scale_ladder(
            voxel_size_zyx, scale_factor_zyx, n_lvls, shape_5d, chunk_zyx
        )
        _write_json(
            os.path.join(output_root, channel, ".zgroup"), {"zarr_format": 2}
        )
        _write_json(os.path.join(group, ".zgroup"), {"zarr_format": 2})
        attrs = {
            "multiscales": [
                {
                    "axes": axes_5d(),
                    "datasets": [
                        {
                            "path": str(i),
                            "coordinateTransformations": transforms[i],
                        }
                        for i in range(n_lvls)
                    ],
                    "name": f"/{stack}.ome.zarr",
                    "version": "0.4",
                    "metadata": pyramid_provenance(),
                }
            ],
            "omero": build_omero(
                channel,
                shape_5d,
                np.dtype(r["dtype"]),
                image_name=f"{stack}.ome.zarr",
            ),
        }
        if extra_attrs:
            attrs.update(extra_attrs)
        shape = list(shape_5d)
        ladder = chunk_ladder[(channel, stack)]
        for lvl in range(n_lvls):
            _write_json(
                os.path.join(group, str(lvl), ".zarray"),
                {
                    "zarr_format": 2,
                    "shape": shape,
                    "chunks": [1, 1, *ladder[lvl]],
                    "dtype": _ZARR_DTYPES[r["dtype"]],
                    "compressor": codec_meta,
                    "fill_value": 0,
                    "filters": None,
                    "order": "C",
                    "dimension_separator": "/",
                },
            )
            shape = [1, 1, -(-shape[2] // fz), -(-shape[3] // fy), -(-shape[4] // fx)]
        # .zattrs LAST: it is what makes the group parse as a store, so
        # nothing can observe a stack whose levels are missing — and the
        # streaming writer's epoch marker inside it becomes atomic with
        # store creation (a replay never sees marker-without-levels or
        # levels-without-marker)
        _write_json(os.path.join(group, ".zattrs"), attrs)

    return groups, chunk_ladder


def plan_store_layout(
    geo,
    output_root: str,
    scale_factor_zyx: list[int],
    n_lvls: int,
) -> tuple[list[str], dict[tuple[str, str], list[tuple[int, int, int]]]]:
    """PURE layout planner: (group paths, per-stack chunk-dims ladder)
    plus the geometry guard, with NO writes — so a writer can validate
    and plan BEFORE its data job and write metadata AFTER it
    (metadata-last; the fused ingest does exactly this).  The guard:
    per-chunk downsampling is exact only when a retained level's chunk
    dims are divisible by the factor OR the chunk spans the whole
    extent on that axis (then the truncated window IS the array edge)
    — refuse loudly instead of planning levels that diverge from the
    global windowed mean (see pyramid.validate_pyramid_geometry)."""
    fz, fy, fx = scale_factor_zyx
    groups: list[str] = []
    chunk_ladder: dict[tuple[str, str], list[tuple[int, int, int]]] = {}
    for r in geo:
        channel, stack = r["channel"], r["stack"]
        groups.append(
            os.path.join(output_root, channel, f"{stack}.ome.zarr")
        )
        shape = [1, 1, int(r["z"]), int(r["y"]), int(r["x"])]
        dims = (int(r["cdz"]), int(r["cdy"]), int(r["cdx"]))
        ladder = []
        for lvl in range(n_lvls):
            if lvl < n_lvls - 1:
                for ax, (d, f) in enumerate(zip(dims, (fz, fy, fx))):
                    if d % f != 0 and d != shape[2 + ax]:
                        raise ValueError(
                            f"zarr sink: level-{lvl} chunk dim {d} on axis "
                            f"{'zyx'[ax]} of {channel}/{stack} is neither "
                            f"divisible by factor {f} nor the full extent "
                            f"{shape[2 + ax]} — per-chunk pyramid would "
                            f"diverge from the global windowed mean"
                        )
            ladder.append(dims)
            shape = [1, 1, -(-shape[2] // fz), -(-shape[3] // fy), -(-shape[4] // fx)]
            dims = (-(-dims[0] // fz), -(-dims[1] // fy), -(-dims[2] // fx))
        chunk_ladder[(channel, stack)] = ladder

    return groups, chunk_ladder


def read_zarr_level(group: str, level: int) -> np.ndarray:
    """Spec-only reader: reassemble one level into (Z, Y, X) numpy.
    Accepts local paths and pyarrow.fs URIs (file:// s3:// ...)."""
    from pyarrow import fs as pafs

    fs, gpath = _fs_for(group)
    lvl_dir = f"{gpath}/{level}"
    with fs.open_input_stream(f"{lvl_dir}/.zarray") as f:
        meta = json.loads(f.read().decode())
    shape = meta["shape"]
    chunks = meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    decompress = _make_decodec(meta["compressor"])
    out = np.zeros(tuple(shape[2:]), dtype=dtype)
    cz_n = -(-shape[2] // chunks[2])
    cy_n = -(-shape[3] // chunks[3])
    cx_n = -(-shape[4] // chunks[4])
    for cz in range(cz_n):
        for cy in range(cy_n):
            for cx in range(cx_n):
                key = "/".join([lvl_dir, "0", "0", str(cz), str(cy), str(cx)])
                if fs.get_file_info(key).type == pafs.FileType.NotFound:
                    continue
                with fs.open_input_stream(key) as f:
                    raw = decompress(f.read())
                block = np.frombuffer(raw, dtype=dtype).reshape(tuple(chunks[2:]))
                z0, y0, x0 = cz * chunks[2], cy * chunks[3], cx * chunks[4]
                z1 = min(z0 + chunks[2], shape[2])
                y1 = min(y0 + chunks[3], shape[3])
                x1 = min(x0 + chunks[4], shape[4])
                out[z0:z1, y0:y1, x0:x1] = block[: z1 - z0, : y1 - y0, : x1 - x0]
    return out


def append_ome_zarr_z(levels: list[DataFrame], group: str) -> str:
    """Append a z-slab pyramid to an EXISTING multiscale store — the
    incremental-acquisition path: nightly slabs land in one store
    without rereading or rewriting a byte of previously written data.

    ``levels[i]`` is the level-i chunk table of the NEW slab only
    (cz starting at 0); each level's chunks are written shifted by the
    store's current z-chunk count and the ``.zarray`` shapes grow by
    the slab's extents.  The reference has no incremental path at all
    (every run rebuilds the full stack,
    `compress/png_to_zarr.py:673-686`).

    Validation per level, refusing loudly instead of corrupting:
    - y/x extents and dtype must match the store;
    - the store's current z extent must be a multiple of the stored
      z-chunk (a previous TRAILING partial chunk blocks further
      appends — by construction only the last slab may be partial);
    - compressor metadata is reused from disk, so appended chunks are
      byte-compatible with the initial write.

    CRASH SAFETY (advisor r6): before any chunk lands, an intent fence
    ``.zattrs["append_in_progress"] = {"pre_z": [...], "post_z": [...]}``
    records every level's expected pre/post z extent; it is removed
    only after ALL levels' chunks and ``.zarray`` shapes are committed.
    A crash mid-append therefore leaves a DETECTABLE state, and a
    retried append with the same slab ROLLS FORWARD instead of
    double-appending: per level, ``shape[2] == post_z`` means committed
    (skip), ``shape[2] == pre_z`` means redo (chunk writes are
    idempotent — fixed keys, deterministic compressor — and the
    ``.zarray`` shape update is the level's commit point).  A fence
    whose slab geometry does not match the retry refuses loudly.
    Any OTHER writer must refuse while the fence is present.

    Metadata: only ``shape`` (per level) and ``omero.rdefs.defaultZ``
    change; NGFF transforms are depth-independent.
    """
    geo = [_level_geometry(df) for df in levels]
    from pyspark.sql import functions as F

    chunk_info = []
    for level_df in levels:
        head = level_df.filter(
            (F.col("cz") == 0) & (F.col("cy") == 0) & (F.col("cx") == 0)
        ).select("dz").first()
        n_cz = int(level_df.agg(F.max("cz")).first()[0]) + 1
        chunk_info.append((int(head["dz"]), n_cz))

    def _write_level(lvl: int, off: int, meta: dict) -> None:
        compress = _compress_from_meta(meta["compressor"])
        chunk_shape = tuple(meta["chunks"][2:])
        lvl_dir = f"{group}/{lvl}"

        def _write_partition(
            rows, lvl_dir=lvl_dir, chunk_shape=chunk_shape,
            compress=compress, off=off,
        ):
            fs2, base = _fs_for(lvl_dir)
            made: set[str] = set()
            for r in rows:
                arr = np.frombuffer(r["data"], dtype=np.dtype(r["dtype"])).reshape(
                    r["dz"], r["dy"], r["dx"]
                )
                arr = pad_block(arr, chunk_shape)
                key = "/".join(
                    [base, "0", "0", str(r["cz"] + off), str(r["cy"]), str(r["cx"])]
                )
                parent = key.rsplit("/", 1)[0]
                if parent not in made:
                    fs2.create_dir(parent, recursive=True)
                    made.add(parent)
                with fs2.open_output_stream(key) as f:
                    f.write(compress(np.ascontiguousarray(arr).tobytes()))

        _arrow_foreach(levels[lvl], _write_partition)

    return append_slab_transaction(group, geo, chunk_info, _write_level)


def append_slab_transaction(
    group: str,
    geo: list[tuple[tuple[int, int, int], str]],
    chunk_info: list[tuple[int, int]],
    write_level,
    extra_attrs: dict[str, Any] | None = None,
) -> str:
    """The append's VALIDATION + FENCE + COMMIT core, shared by the
    batch path (:func:`append_ome_zarr_z` — chunk writes are a Spark
    job) and the streaming DataSource writer (chunk writes are staged-
    file promotions).  One implementation so the two paths can never
    disagree on crash semantics.

    ``geo[lvl]`` = ((z, y, x), dtype) of the slab's level-lvl extent;
    ``chunk_info[lvl]`` = (first-chunk dz, number of z-chunks);
    ``write_level(lvl, off, meta)`` must (re-)write level lvl's chunks
    shifted by ``off`` store z-chunks — it MUST be idempotent
    (fixed keys, deterministic bytes), because the roll-forward path
    re-invokes it for uncommitted levels.

    ``extra_attrs`` entries are merged into ``.zattrs`` IN THE SAME
    WRITE that drops the fence — the append's overall commit point —
    so a marker (e.g. the streaming writer's epoch guard) can never be
    observed separately from the commit it guards (a separate write
    would leave a crash window where the append committed but the
    marker didn't, and a replay double-appends).
    """
    fs, gpath = _fs_for(group)
    # A slab whose level-i z extent is not an exact multiple of the
    # i→i+1 reduction factor would FINALIZE a truncated edge window at
    # the slab boundary — the one-shot pyramid instead combines those
    # planes with the next slab's, so the stores would silently
    # diverge.  The factor comes from the STORE's NGFF scale ladder
    # (scale_z ratio between levels) — inferring it from the slab's own
    # extents cannot reject slabs shallower than factor**(n_levels-1)
    # (once an extent hits 1, any ratio "divides" it).
    with fs.open_input_stream(f"{gpath}/.zattrs") as f:
        attrs = json.loads(f.read().decode())
    datasets = attrs["multiscales"][0]["datasets"]
    if len(datasets) != len(geo):
        raise ValueError(
            f"append: slab has {len(geo)} levels, store has "
            f"{len(datasets)} — rebuild the slab pyramid with the "
            f"store's level count"
        )
    scales_z = [d["coordinateTransformations"][0]["scale"][2] for d in datasets]
    for i in range(len(geo) - 1):
        fz = round(scales_z[i + 1] / scales_z[i])
        zi, zi1 = geo[i][0][0], geo[i + 1][0][0]
        if zi % fz != 0 or zi1 != zi // fz:
            raise ValueError(
                f"append: slab level-{i} z extent {zi} is not an exact "
                f"×{fz} reduction to level {i + 1} ({zi1}) — the "
                f"boundary window would be truncated and the store "
                f"would diverge from a one-shot build; append slabs in "
                f"factor**(n_levels-1)-plane multiples"
            )
    metas = []
    for lvl in range(len(geo)):
        with fs.open_input_stream(f"{gpath}/{lvl}/.zarray") as f:
            metas.append(json.loads(f.read().decode()))
    cur_z = [m["shape"][2] for m in metas]
    slab_z = [geo[lvl][0][0] for lvl in range(len(geo))]

    fence = attrs.get("append_in_progress")
    if fence is not None:
        pre_z, post_z = list(fence["pre_z"]), list(fence["post_z"])
        if [b - a for a, b in zip(pre_z, post_z)] != slab_z:
            raise ValueError(
                "append: store has an in-progress append fence for slab "
                f"z extents {[b - a for a, b in zip(pre_z, post_z)]} but "
                f"this slab's are {slab_z} — a previous append crashed "
                "midway; retry it with the SAME slab to roll forward, or "
                "rebuild the store"
            )
        bad = [
            lvl
            for lvl in range(len(geo))
            if cur_z[lvl] not in (pre_z[lvl], post_z[lvl])
        ]
        if bad:
            raise ValueError(
                f"append: levels {bad} have z extents "
                f"{[cur_z[i] for i in bad]} matching neither the fence's "
                f"pre {[pre_z[i] for i in bad]} nor post "
                f"{[post_z[i] for i in bad]} — the store was modified "
                "outside the fenced append; rebuild"
            )
        base_z = pre_z
    else:
        base_z = cur_z

    for lvl in range(len(geo)):
        meta = metas[lvl]
        (z_new, y_new, x_new), dtype = geo[lvl]
        shape = meta["shape"]
        chunks = meta["chunks"]
        if _ZARR_DTYPES[dtype] != meta["dtype"]:
            raise ValueError(
                f"append: dtype {dtype} != store {meta['dtype']} (level {lvl})"
            )
        if (y_new, x_new) != (shape[3], shape[4]):
            raise ValueError(
                f"append: plane {y_new}x{x_new} != store "
                f"{shape[3]}x{shape[4]} (level {lvl})"
            )
        # roll-forward skips this: a committed level legitimately ends
        # on the slab's own trailing partial chunk
        if fence is None and shape[2] % chunks[2] != 0:
            raise ValueError(
                f"append: store z extent {shape[2]} is not a multiple of "
                f"its z-chunk {chunks[2]} (level {lvl}) — the previous "
                f"append ended on a partial chunk; rebuild or re-chunk"
            )
        # The slab's z-chunk grid must match the STORE's: cz indices are
        # interpreted in store-chunk units, so a slab chunked deeper
        # (first-wave-clamped store chunk < later wave's chunk_z) would
        # crash mid-write, and a slab chunked shallower would scatter
        # zero-padded part-chunks one store-chunk apart — silent data
        # loss.  Valid: slab chunk z == store chunk z (trailing partial
        # allowed), or the whole slab fits one store chunk.
        head_dz, n_cz = chunk_info[lvl]
        if (z_new > chunks[2] and head_dz != chunks[2]) or (
            z_new <= chunks[2] and n_cz != 1
        ):
            raise ValueError(
                f"append: slab level-{lvl} z-chunking (first chunk dz="
                f"{head_dz}, {n_cz} z-chunks for extent {z_new}) "
                f"does not match the store's z-chunk {chunks[2]} — "
                f"assemble the slab with chunk_z={chunks[2]}"
            )

    # Every level validated and NO chunk written yet — this is the
    # point of no return: fence the append so a crash anywhere past
    # here is detectable and the retry rolls forward.
    if fence is None:
        attrs["append_in_progress"] = {
            "pre_z": base_z,
            "post_z": [a + b for a, b in zip(base_z, slab_z)],
        }
        _write_json(f"{gpath}/.zattrs", attrs)

    for lvl in range(len(geo)):
        meta = metas[lvl]
        (z_new, _y_new, _x_new), _dtype = geo[lvl]
        shape = meta["shape"]
        chunks = meta["chunks"]
        if fence is not None and cur_z[lvl] == base_z[lvl] + z_new:
            continue  # this level's append already committed
        off = base_z[lvl] // chunks[2]
        write_level(lvl, off, meta)
        # the level's COMMIT point: chunks are all on disk (idempotent
        # keys, so a redo overwrote byte-identical data), now the shape
        meta["shape"] = [1, 1, base_z[lvl] + z_new, shape[3], shape[4]]
        _write_json(f"{gpath}/{lvl}/.zarray", meta)
    # finalize: drop the fence (the append's overall commit point) and
    # keep the default display plane centered in the GROWN stack
    attrs.pop("append_in_progress", None)
    rdefs = attrs.get("omero", {}).get("rdefs")
    if rdefs is not None and "defaultZ" in rdefs:
        rdefs["defaultZ"] = (base_z[0] + slab_z[0]) // 2
    if extra_attrs:
        attrs.update(extra_attrs)
    _write_json(f"{gpath}/.zattrs", attrs)
    return group


def _compress_from_meta(meta: dict[str, Any] | None):
    """Compressor fn from on-disk .zarray metadata, delegating to
    ``_make_codec`` (ONE codec table — append must stay byte-compatible
    with what the store was created with, so this must never drift from
    the create path)."""
    name = "none" if meta is None else meta["id"]
    return _make_codec(name, meta)[1]
