"""multi_crm_cross_sell_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-imagination of the query and data-processing
capabilities of the reference repo Andre-Profitt/multi-crm-cross-sell
(multi-CRM cross-sell intelligence: ETL, feature engineering, candidate
generation, ensemble scoring, entity resolution, ranking evaluation,
feedback analytics), plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Everything is expressed as declarative DataFrame/SQL plans so Catalyst
can push filters/projections to the parquet scan, pick join strategies
(broadcast for dims), and re-plan at runtime with AQE. Python UDFs are
confined to the few genuinely non-expressible kernels (Jaro-Winkler),
always as Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"


def _install_lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task. Before Python 3.13 each zip importer then
    re-reads its archive's central directory at once, and a warm worker
    holds one importer per imported package prefix of ``pyspark.zip``
    plus the py4j zip, the spark-core jar and this package's zip: 17
    reads, ~0.25 s of Python CPU a task before any UDF runs (4-vCPU
    VM). 3.13 made the method lazy.
    This keeps a cached directory while its archive's
    ``(st_mtime_ns, st_size)`` matches the stat taken when it was read,
    and otherwise calls the original method, so a changed zip is still
    re-read. Every engine UDF unpickles by reference into this package,
    so each worker gets the hook with its first engine task."""
    import os
    import sys
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(eager, "lazy", False):
        return
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return eager(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        eager(self)
        read_at[self.archive] = stamp

    invalidate_caches.lazy = True
    invalidate_caches.__doc__ = eager.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_lazy_zip_invalidation()
