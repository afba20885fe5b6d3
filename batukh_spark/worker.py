"""Python-worker setup: the fixed Python cost of a task.

Two things PySpark's worker does for every task cost a reused worker
~0.2 CPU-s, against ~2 ms for the task's own protocol work (identity
`mapInArrow` tasks, 4-core x86 host, CPython 3.11, PySpark 4.1):

* `importlib.invalidate_caches()` before the task
  (`worker_util.setup_spark_files`).  On CPython 3.10/3.11 that makes
  every `zipimporter` in `sys.path_importer_cache` re-parse the whole
  central directory of its archive — about 16 importers over the
  1,328-entry `pyspark.zip` of Spark's standard executor layout, most
  of that cost.  `install_zip_guard` replaces
  `zipimporter.invalidate_caches` with a version that re-reads an
  archive only when its (st_mtime_ns, st_size) changed since it was
  last read, so a replaced archive is still picked up.
* `gc.collect()` after the task (the daemon's reuse loop): a full
  collection over the ~42k objects of the imported pyspark, pandas
  and pyarrow modules, ~18 ms.  `prepare_worker` moves the objects
  alive when it runs into the permanent generation (`gc.freeze()`),
  so later collections walk only what tasks allocate.

`prepare_worker` does both, once per process.  The package runs it
when it is imported inside a Python worker (`batukh_spark/__init__.py`);
a `pandas_udf` closure pickled by value imports nothing from the
package, so it calls `prepare_worker()` itself.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its
# directory was last read into zipimport's shared cache
_read_stat: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive.
    Every importer of one archive shares zipimport's cached directory,
    so an importer that skips takes the one another importer re-read.
    The stat is taken before the read: an archive replaced during the
    read reads as changed next time."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None \
            and _read_stat.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _read_stat[self.archive] = key


def install_zip_guard() -> None:
    """Install the guard once per process.  Each archive already in
    `sys.path_importer_cache` is re-read once here, so its recorded
    stat matches the directory the importers hold."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            _invalidate_if_changed(imp)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def prepare_worker() -> None:
    """Once per process: install the zip guard, then freeze the objects
    alive now (modules, classes, functions) out of the cyclic GC.
    Frozen objects are still freed by reference counting."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    install_zip_guard()
    gc.freeze()


def on_worker() -> bool:
    """True inside a PySpark Python worker once its task setup has run
    (PySpark 4 keeps `SparkFiles` in `pyspark.core.files`, 3.5 in
    `pyspark.files`).  Nothing is imported, so the oracle stays
    Spark-free."""
    return any(getattr(getattr(sys.modules.get(m), "SparkFiles", None),
                       "_is_running_on_worker", False)
               for m in ("pyspark.core.files", "pyspark.files"))
