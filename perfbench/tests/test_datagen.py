"""The benchmark's inputs are a pure function of the seed."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import datagen  # noqa: E402


def _tree_digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def _make(root: Path, seed: int) -> dict[str, str]:
    datagen.write_tables(root / "tables", seed, 0.001)
    pngs = datagen.encode_slices(datagen.make_volumes(seed, (4, 32, 40)))
    datagen.write_acquisition(root / "acq", pngs, 4)
    return _tree_digest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _make(tmp_path / "a", 7)
    b = _make(tmp_path / "b", 7)
    assert len(a) == 10 + 4 * 4 + 2
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _make(tmp_path / "a", 7)
    c = _make(tmp_path / "c", 8)
    assert a.keys() == c.keys()
    differ = {k for k in a if a[k] != c[k]}
    # region and nation are fixed dimension tables; everything else moves
    assert differ >= set(a) - {"tables/region.parquet", "tables/nation.parquet",
                               "acq/acquisition.json", "acq/derivatives/metadata.json"}


def test_tables_keep_the_test_table_schema(tmp_path):
    datagen.write_tables(tmp_path, 3, 0.001)
    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
    assert li.num_rows == 6000
    assert pq.ParquetFile(tmp_path / "lineitem.parquet").metadata.num_row_groups == 1
    price = li["l_extendedprice"].to_numpy()
    assert np.array_equal(np.round(price * 100) / 100, price)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    dups = docs.text.str.endswith(" dup")
    assert 0.02 < dups.mean() < 0.12
    originals = set(docs.text[~dups])
    assert all(t[: -len(" dup")] in originals for t in docs.text[dups])
    emb = np.stack(pq.read_table(tmp_path / "embeddings.parquet")["embedding"].to_numpy(
        zero_copy_only=False))
    assert emb.shape[1] == datagen.EMBED_DIM
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)


def test_volume_is_structured_not_noise():
    vol = datagen.make_volume(np.random.default_rng(0), (8, 64, 64))
    assert vol.dtype == np.uint16
    # the background gradient rises left to right
    assert vol[:, :, -8:].mean() > vol[:, :, :8].mean() + 20
    # cells make a bright tail well above the background
    assert vol.max() > 3 * np.median(vol)
