"""Python worker daemon wrapper: pyspark.daemon plus three start-up fixes.

1. A zipimport mtime guard (r16 optimization round, guide §4 "the
Python boundary"). Every PySpark task begins with ``pyspark.worker_util.setup_spark_files``,
which unconditionally calls ``importlib.invalidate_caches()``. On
Python 3.11, ``zipimport.zipimporter.invalidate_caches()`` re-reads the
ENTIRE zip central directory from disk on every call, and a Spark
worker's ``sys.path_importer_cache`` holds one zipimporter per traversed
zip path entry (pyspark.zip, py4j zip, the spark-core jar, plus one per
package subdirectory inside them — 16 finders here). Measured on this
box: ~117 ms of pure directory re-reading PER TASK, in EVERY Python
worker task, warm or not — it was the single largest component of every
mapInPandas/applyInPandas stage (a trivial 1-task mapInPandas ran
150 ms; the worker's own batch loop was 1 ms).

The fix backports CPython 3.12's behavior (bpo/gh-84801 family): only
re-read the zip directory when the archive's mtime actually changed.
Zip/jar path entries are immutable during a Spark application's
lifetime, so the stat-guard turns ~117 ms of re-reads into ~16 stat
calls (microseconds) while keeping the exact invalidation semantics —
a genuinely replaced archive still gets re-read (fresh mtime), and a
finder created after fork re-reads once on its first invalidation.

2. pyspark from the installed copy, not the zip. The JVM puts
``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j zip first on the
workers' ``PYTHONPATH``. The zip holds ~1170 ``.py`` files and no
bytecode, and zipimport never writes any, so every daemon compiled
pyspark from source (``pyspark.daemon`` plus
``pyspark.sql.pandas.serializers``: 1.26-1.43 CPU-s from the zip
against 0.38-0.48 from the installed copy's ``__pycache__``, 4-vCPU
box), and every forked worker compiled again each module it imported
lazily. The daemon drops the zips from ``sys.path`` before anything imports
pyspark, but only when the interpreter's installed pyspark and py4j
are the same releases as the zips (their ``version.py`` texts are
equal); otherwise the path is left as the JVM set it.

3. A preloaded parent. The daemon imports pandas, pyarrow and
``pyspark.sql.pandas.serializers`` once, and every forked worker
inherits them instead of importing them itself. 2 and 3, together
with the 1 MiB execution pages ``session.get_spark`` sets, cut
``q_multimodal_decode_real``'s first run in perfbench ``olap_pack``
from 2.00 to 1.08 s (medians of 10 alternating pairs), and a cold
operation's Python task time (traced ``python.s``) from 0.45 to
0.23 s.

Installed via ``spark.python.daemon.module`` (supported since Spark
2.4): the patches run once in the daemon parent process, and every
forked worker inherits them. No pyspark source is modified; removing
the conf restores stock behavior. The package's ``__init__`` imports
no pyspark, so ``python -m sparrow_spark.worker_daemon`` reaches the
path decision first.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile
import zipimport

_MTIME_ATTR = "_sparrow_zip_mtime"


def install_zipimport_mtime_guard() -> None:
    """Monkeypatch zipimporter.invalidate_caches with an mtime guard.

    Idempotent: re-installing over an already-patched class is a no-op.
    """
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_sparrow_mtime_guard", False):
        return

    def invalidate_caches(self):  # type: ignore[no-untyped-def]
        try:
            mtime = os.stat(self.archive).st_mtime_ns
        except OSError:
            # Archive gone/unreadable: fall through to the original,
            # which knows how to mark the importer invalid.
            orig(self)
            return
        if getattr(self, _MTIME_ATTR, None) == mtime:
            return
        orig(self)
        # Record AFTER a successful re-read so a failed read retries.
        setattr(self, _MTIME_ATTR, mtime)

    invalidate_caches._sparrow_mtime_guard = True  # type: ignore[attr-defined]
    zipimport.zipimporter.invalidate_caches = invalidate_caches  # type: ignore[method-assign]


def _version_text(entry: str, package: str) -> str | None:
    """`package`'s version.py source as found under one sys.path entry
    (a zip or a directory), or None if the entry does not hold it."""
    rel = f"{package}/version.py"
    try:
        if zipfile.is_zipfile(entry):
            with zipfile.ZipFile(entry) as z:
                return z.read(rel).decode()
        with open(os.path.join(entry, rel)) as f:
            return f.read()
    except (OSError, KeyError):
        return None


def path_without_spark_zips(path: list[str]) -> list[str]:
    """`path` without the zips that hold pyspark or py4j, if the
    entries after them hold the same releases; else `path` unchanged.
    Reads version.py texts only and imports neither package."""
    zips = [e for e in path if e.endswith(".zip")]
    rest = [e for e in path if e not in zips]
    drop = set()
    for package in ("pyspark", "py4j"):
        held = {e: t for e in zips if (t := _version_text(e, package)) is not None}
        if not held:
            continue
        spec = importlib.machinery.PathFinder.find_spec(package, rest)
        installed = None
        if spec is not None and spec.submodule_search_locations:
            installed = _version_text(
                os.path.dirname(spec.submodule_search_locations[0]), package
            )
        if installed is None or set(held.values()) != {installed}:
            return list(path)
        drop.update(held)
    return [e for e in path if e not in drop]


def preload() -> None:
    """Import what every pandas/arrow worker imports, once, in the
    daemon parent."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import pyspark.sql.pandas.serializers  # noqa: F401


install_zipimport_mtime_guard()
sys.path[:] = path_without_spark_zips(sys.path)
preload()


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
