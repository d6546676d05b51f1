"""pdfextraction_spark — a from-scratch PySpark-native main-content
extraction engine with the query/data-processing capabilities of the
reference repo manikumarthati/pdfExtraction (see SURVEY.md).

Layout:
- oracle/    loop-based golden extractor (pytest oracle, no Spark)
- kernels/   vectorized NumPy/pandas Arrow-batch kernels (hot path)
- operators/ Spark DataFrame operators (extract stage, partitioning,
             conversation-level merge)
- sources/   transcripts source + checkpoint-manifest (resume)
- functions/ column-level functions (dedup, similarity, text quality)
- pipeline.py end-to-end batch job; cli.py spark-submit entry
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 12):
    # PySpark's worker calls importlib.invalidate_caches() before every
    # task. Before 3.12 each zipimporter then re-parses its archive's
    # whole central directory: pyspark.zip has ~1.3k entries and one
    # importer per subpackage path, 0.3-0.4 s per task. Re-read an
    # archive only when its stat stamp differs from the one it was last
    # read at, so a re-shipped zip is still picked up and an unchanged
    # one costs a stat; importers of one archive share that read, as
    # zipimport's own directory cache has them do.
    import os
    import zipimport

    _eager_invalidate_caches = zipimport.zipimporter.invalidate_caches
    _read_at = {}  # archive path -> (stat stamp, directory read then)

    def _stat_guarded_invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        seen = _read_at.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = seen[1]
        else:
            _eager_invalidate_caches(self)
            _read_at[self.archive] = (stamp, self._files)

    zipimport.zipimporter.invalidate_caches = _stat_guarded_invalidate_caches
