"""Python-worker start-up tax: zip archives re-read on every task.

Before each task the PySpark worker runs ``setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. That call reaches every cached
``zipimport.zipimporter`` and, on CPython 3.11, each one re-parses its
archive's central directory whether or not the archive changed. A worker
that has imported the UDF machinery holds 14 importers over ``pyspark.zip``
(1,328 entries) and the py4j zip, so every Python task paid 115-123 ms
before its first row on a 4-vCPU host: a fixed cost that dominates the
small UDF tasks of a CDC tail exec.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that stamps each importer with its archive's ``(st_mtime_ns, st_size)``,
taken just before the importer re-reads the archive, and re-reads only
when the stamp has changed. An importer with no stamp yet, or whose
archive cannot be stat-ed, takes the stdlib re-read, so a ``--py-files``
archive replaced between tasks is still picked up.

``sqoop_spark/__init__.py`` installs it only inside a worker task
(``TaskContext.get()`` is set), i.e. when a task unpickles an engine UDF.
The driver's ``zipimport`` is never touched, no conf is needed, and it
holds for sessions this package did not build. It is not a
``spark.python.daemon.module``: the daemon honours a worker module only
if its name starts with ``pyspark``, and a daemon module must be
importable before the task's py-files are on ``sys.path``.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stamped_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_sqoop_stamp", None)
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_sqoop_stamp") == stamp:
        return
    _stdlib_invalidate(self)
    self._sqoop_stamp = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate
