"""xhtmlkit_spark — PySpark-native main-content extraction engine.

Spark layer around the pure-Python ``xkit`` core (BASELINE.json
north_rule): DataFrame + Arrow-vectorized stages over Parquet
(sandbox) / Iceberg (prod) tables of interleaved text+media documents.

Subpackages
-----------
operators : the mapInArrow extraction stage + training-data operators
            (dedup, similarity, text stats, multimodal plumbing)
sources   : reader/writer abstraction (parquet now, iceberg by config)
functions : span-level helpers built on Spark higher-order functions
plans     : the end-to-end job — doc_id hash exchange, checkpoint/resume,
            lineage + per-partition metrics
streaming : Structured Streaming variants over the events table
datagen   : deterministic interleaved-corpus generator (FIXTURES.md §1)
"""

import os
import zipimport

__version__ = "0.1.0"

_read_archive = zipimport.zipimporter.invalidate_caches
# archive path -> its (st_mtime_ns, st_size) taken before its last read
_read_stamps: dict = {}


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` changed since its last read.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
    every zipimporter (one per imported sub-package of pyspark.zip, py4j
    and each ``--py-files`` zip) re-read its archive's whole central
    directory: ~0.15 s per task. Spark reuses Python workers, and every
    Python stage of this package imports it in the worker, so a worker
    now reads each unchanged archive once, and importers of the same
    archive share that read. A rewritten archive, or one that cannot be
    stat'ed, is refreshed exactly as before; a new ``sys.path`` entry
    (``addPyFile``) gets a fresh importer.
    """
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_archive(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_archive(self)
    _read_stamps[self.archive] = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
