"""The Python worker daemon (worker_daemon.py): which archives leave the
workers' sys.path, and that every Python task runs on the cleaned path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

from aind_smartspim_data_transformation_spark.worker_daemon import (
    drop_redundant_archives,
    redundant_archives,
)

REPO = Path(__file__).resolve().parent.parent


def _zip(path: Path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _install(site: Path, pkg: str, version: bytes) -> None:
    (site / pkg).mkdir(parents=True)
    (site / pkg / "__init__.py").write_bytes(b"")
    (site / pkg / "version.py").write_bytes(version)


def test_path_rule_on_synthetic_sys_path(tmp_path):
    site = tmp_path / "site-packages"
    _install(site, "pyspark", b"__version__ = '4.1.2'\n")
    _install(site, "py4j", b"__version__ = '0.10.9.9'\n")
    jar = _zip(
        tmp_path / "spark-core.jar", {"org/A.class": b"\xca\xfe", "META-INF/MANIFEST.MF": b""}
    )
    user = _zip(tmp_path / "deps.zip", {"deps/__init__.py": b"", "deps/util.py": b"x = 1\n"})
    pyspark_zip = _zip(
        tmp_path / "pyspark.zip",
        {"pyspark/__init__.py": b"", "pyspark/version.py": b"__version__ = '4.1.2'\n"},
    )
    py4j_zip = _zip(
        tmp_path / "py4j-src.zip",
        {"py4j/__init__.py": b"", "py4j/version.py": b"__version__ = '0.10.9.9'\n"},
    )
    missing = str(tmp_path / "python311.zip")
    path = [str(tmp_path), pyspark_zip, py4j_zip, jar, user, missing, str(site)]

    assert redundant_archives(path) == [pyspark_zip, py4j_zip, jar]

    cache = {
        pyspark_zip: object(),
        os.path.join(pyspark_zip, "pyspark", "sql"): object(),
        jar: object(),
        user: object(),
        str(site): object(),
    }
    assert drop_redundant_archives(path, cache) == [pyspark_zip, py4j_zip, jar]
    assert path == [str(tmp_path), user, missing, str(site)]
    assert set(cache) == {user, str(site)}


def test_path_rule_keeps_archive_of_another_version(tmp_path):
    site = tmp_path / "site-packages"
    _install(site, "pyspark", b"__version__ = '4.0.0'\n")
    pyspark_zip = _zip(
        tmp_path / "pyspark.zip",
        {"pyspark/__init__.py": b"", "pyspark/version.py": b"__version__ = '4.1.2'\n"},
    )
    # no directory install at all: the archive is the only pyspark
    assert redundant_archives([pyspark_zip]) == []
    assert redundant_archives([pyspark_zip, str(site)]) == []


def test_python_tasks_run_without_archive_importers(spark):
    """A mapInPandas task imports pyspark from a directory, holds no
    zipimporter for an archive without Python, and pays well under 5 ms
    for the per-task ``importlib.invalidate_caches()``."""

    def probe(batches):
        import importlib
        import sys
        import time
        import zipfile
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        pythonless = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and not any(
                n.endswith(".py") for n in zipfile.ZipFile(finder.archive).namelist()
            )
        ]
        best_ms = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            best_ms = min(best_ms, (time.perf_counter() - t0) * 1e3)
        yield pd.DataFrame(
            {
                "pyspark_file": [pyspark.__file__],
                "pythonless": [",".join(pythonless)],
                "invalidate_ms": [best_ms],
            }
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "pyspark_file string, pythonless string, invalidate_ms double")
        .collect()
    )
    assert not any(
        part.endswith((".zip", ".jar")) for part in Path(row.pyspark_file).parts
    ), row.pyspark_file
    assert row.pythonless == ""
    assert row.invalidate_ms < 5.0, row.invalidate_ms


def _clean_env() -> dict[str, str]:
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


def test_package_import_does_not_import_pyspark():
    """The daemon cleans sys.path before pyspark loads, so importing the
    package (which ``python -m`` does first) must not load pyspark."""
    code = (
        "import sys\n"
        "import aind_smartspim_data_transformation_spark.worker_daemon\n"
        "assert 'pyspark' not in sys.modules, sorted(m for m in sys.modules if 'spark' in m)\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=_clean_env(), check=True, timeout=60
    )


def test_session_from_foreign_cwd_runs_python_task(tmp_path):
    """Workers find the daemon module when the driver runs outside the
    repository (the workers' cwd is the driver's)."""
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(REPO)!r})
            from aind_smartspim_data_transformation_spark.session import build_local_session

            spark = build_local_session(app_name="foreign-cwd", cpus=1, shuffle_partitions=1)
            try:
                rows = (
                    spark.range(3)
                    .mapInPandas(lambda it: (p * 2 for p in it), "id long")
                    .collect()
                )
                assert sorted(r.id for r in rows) == [0, 2, 4], rows
            finally:
                spark.stop()
            """
        )
    )
    subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=_clean_env(),
        check=True,
        timeout=300,
    )
