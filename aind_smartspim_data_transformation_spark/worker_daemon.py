"""Python worker daemon: ``pyspark.daemon`` on a ``sys.path`` without
redundant archives.

Spark starts an executor's Python daemon as ``python -m <daemon module>
<worker module>`` (``spark.python.daemon.module``, set to this module in
``session._COMMON``), with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Every task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
makes each cached ``zipimporter`` re-read its archive's whole central
directory: pyspark.zip has 1,328 entries, the jar 5,359.  Measured
inside a task on a 4-core host: 87-95 ms per call, against 0.02 ms once
the archives are gone — about half of a trivial Python task's cost.

Before it imports pyspark, this module drops from ``sys.path``:

- every ``.zip``/``.jar`` that holds no Python (the spark-core jar);
- ``pyspark.zip`` and the py4j zip when the same packages import from a
  directory with a byte-identical ``<package>/version.py`` (a pip or
  image install of the same pyspark).  When the versions differ the
  archive stays, so the worker runs the code the JVM shipped.

It also forgets the importers cached for the dropped archives, then
hands off to ``pyspark.daemon.manager()``.  Workers fork from the
daemon, so every Python task inherits the cleaned path: batch UDFs,
``mapInPandas``/``applyInPandas`` and the Python DataSource read and
write tasks (``pyspark.daemon`` picks the worker module from ``argv``).
Spark 4.1 starts the driver-side DataSource planner workers (schema,
partitions, commit) with the stock ``pyspark.daemon`` whatever this
setting says, so those keep the archives.

The package ``__init__`` must not import pyspark, or pyspark would load
from the archive before the path is cleaned
(``tests/test_worker_daemon.py`` pins this).
"""

from __future__ import annotations

import os
import sys
import zipfile

# Packages whose archived copy is dropped when a directory install of
# the same version exists.
_BUNDLED = ("pyspark", "py4j")
_PY_SUFFIXES = (".py", ".pyc")


def _archive_contents(entry: str) -> tuple[set[str], dict[str, bytes]] | None:
    """(top-level Python names, ``{package: version.py bytes}`` for the
    bundled packages) of a ``.zip``/``.jar`` path entry; None when the
    entry is no readable archive."""
    if not entry.endswith((".zip", ".jar")):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            names = z.namelist()
            tops = {n.split("/", 1)[0] for n in names if n.endswith(_PY_SUFFIXES)}
            versions = {
                pkg: z.read(f"{pkg}/version.py")
                for pkg in _BUNDLED
                if f"{pkg}/version.py" in names
            }
    except (OSError, zipfile.BadZipFile):
        return None
    return tops, versions


def _directory_version(pkg: str, dirs: list[str]) -> bytes | None:
    """``<pkg>/version.py`` of the first directory in ``dirs`` that holds
    package ``pkg`` — where ``import pkg`` resolves once the archives
    are gone."""
    for d in dirs:
        if os.path.isfile(os.path.join(d, pkg, "__init__.py")):
            try:
                with open(os.path.join(d, pkg, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def redundant_archives(path: list[str]) -> list[str]:
    """The archive entries of ``path`` that imports never need: those
    with no Python, and bundled-package archives whose packages import
    from a directory at the same version."""
    dirs = [e for e in path if os.path.isdir(e)]
    drop = []
    for entry in path:
        contents = _archive_contents(entry)
        if contents is None:
            continue
        tops, versions = contents
        if tops <= versions.keys() and all(
            versions[pkg] == _directory_version(pkg, dirs) for pkg in tops
        ):
            drop.append(entry)
    return drop


def drop_redundant_archives(
    path: list[str] | None = None, importer_cache: dict | None = None
) -> list[str]:
    """Remove :func:`redundant_archives` from ``path`` (default
    ``sys.path``) in place, and every importer cached for them (the
    archive itself and its sub-package paths) from ``importer_cache``
    (default ``sys.path_importer_cache``).  Returns the dropped
    entries."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if importer_cache is None else importer_cache
    dropped = redundant_archives(path)
    path[:] = [e for e in path if e not in dropped]
    prefixes = tuple(a + os.sep for a in dropped)
    for key in [k for k in cache if k in dropped or k.startswith(prefixes)]:
        del cache[key]
    return dropped


if __name__ == "__main__":
    drop_redundant_archives()
    from pyspark import daemon

    daemon.manager()
