"""feasts_spark — a PySpark-native time-series rollup + feature engine.

A from-scratch Spark implementation of the query/data-processing
capabilities of tidyverts/feasts (reference: /root/reference, R, v0.4.2.9000)
extended with a tiered rollup / gap-fill / compression / retention engine
for conversation-transcript tables at cluster scale.

Architecture (SURVEY.md):
  - ``kernels/``   pure numpy/pandas math, R-exact (no Spark dependency)
  - ``operators/`` Spark DataFrame operators (rollup, gapfill, cf, features,
                   decompose, compression, skew)
  - ``sources/``   table IO + deterministic transcript synthesizer
  - ``functions/`` column-level helpers (SQL-native feature expressions)
  - ``streaming/`` checkpointed incremental runs (lineage + resume)
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 12):
    # Python workers call importlib.invalidate_caches() on every task, and
    # before 3.12 (gh-103200) that makes each cached zipimporter re-parse
    # its whole archive: ~0.15 s of worker CPU per task for pyspark.zip.
    # Re-read an archive only when its (mtime, size) changed, as FileFinder
    # does for directories, so a rebuilt --py-files archive is still seen.
    import os as _os
    import zipimport as _zipimport

    _zip_stamps: dict = {}
    _stdlib_invalidate_caches = _zipimport.zipimporter.invalidate_caches

    def _invalidate_caches(self):
        """Reload the archive's file data if its stat changed."""
        try:
            st = _os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = _zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and _zip_stamps.get(self.archive) == stamp):
            self._files = files
            return
        _zip_stamps[self.archive] = stamp
        _stdlib_invalidate_caches(self)

    _zipimport.zipimporter.invalidate_caches = _invalidate_caches
