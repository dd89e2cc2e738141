"""tablestructurerec_spark — a PySpark-native table-structure extraction engine.

A brand-new engine with the query / data-processing capabilities of
RapidAI/TableStructureRec, re-expressed Spark-first: the reference's
single-image pre/post-processing heuristics (cell-box sorting, logical
row/col assignment, OCR↔cell matching, HTML-table reconstruction) become
vectorized pandas/Arrow UDF stages and native DataFrame operators over an
Iceberg/parquet table of multi-turn transcripts
``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``.

Layout
------
core/       pure-python/numpy semantics kernels (run inside Arrow UDFs; no Spark dep)
operators/  native DataFrame/Column operators (sessionization, dedup, topk, joins, ...)
functions/  column-expression helpers (geometry predicates, text stats, hashing)
sources/    readers/sinks (transcripts parquet/iceberg-style, synthetic generator)
plans/      end-to-end pipelines (the extraction "query plans")
inference/  batched ONNX harness plumbing with deterministic stub backend
streaming/  structured-streaming variants of the extraction stages

Nothing here is a port of the reference's code; semantics parity is pinned by
golden tests copied from the reference's own unit-test *literals*
(tests/test_lineless_table_rec.py etc. in /root/reference).
"""

import functools
import os
import sys

__version__ = "0.1.0"


def _install_zip_stat_check() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` skip unchanged archives.

    A pyspark Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11 each ``zipimporter`` in
    ``sys.path_importer_cache`` then re-reads its archive's whole central
    directory in pure Python: one importer per package directory imported
    from pyspark.zip, py4j, the Spark jar and the shipped package zip,
    ~0.18 s of CPU per task on a 4-core Xeon VM.  The replacement stats the archive and calls the
    stdlib method only when ``(st_mtime_ns, st_size, st_ino)`` differs from
    the signature recorded on that importer when it last read the archive,
    the stat fails, or the importer has no signature yet — so a changed,
    new or missing archive is re-read exactly as before.  Idempotent.
    """
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_checked", False):
        return

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            sig = None
        else:
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        if sig is None or sig != getattr(self, "_stat_sig", None):
            # stat before the read: a rewrite during the read leaves a
            # stale signature, so the next call reads the archive again
            stdlib(self)
        self._stat_sig = sig

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _in_spark_worker() -> bool:
    # pyspark is always loaded in a worker; on a driver that never imported
    # it, or in the no-Spark kernel, there is no task and nothing to import
    pyspark = sys.modules.get("pyspark")
    return pyspark is not None and pyspark.TaskContext.get() is not None


# every shipped stage imports this package in the worker when its function
# is unpickled, so the check is in place from the worker's next task on
if _in_spark_worker():
    _install_zip_stat_check()
