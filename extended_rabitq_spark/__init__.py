"""extended_rabitq_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of VectorDB-NTU/Extended-RaBitQ.

The reference (read-only at /root/reference) is a single-node C++ IVF +
RaBitQ / Extended-RaBitQ approximate-nearest-neighbor engine.  This package
re-expresses every operator it supports (SURVEY.md §2) as idiomatic Spark
DataFrame pipelines designed for a multi-executor cluster:

- index build  = groupBy/repartition on ``cluster_id`` + Arrow-vectorized
  ``mapInPandas`` quantization (the reference's OpenMP-per-cluster loop,
  ``inc/index/IVF.hpp:142-148``, maps 1:1 to Spark tasks per partition);
- search       = broadcast top-nprobe probe selection + partition-pruned
  equi-join + two-phase estimate/re-rank dataflow
  (``inc/index/IVF.hpp:295-325``);
- metrics      = joins + window top-k (``src/test_search.cpp:97-150``).

Beyond the reference surface it adds the LLM-data-pipeline operators a
100 TB training-data job needs: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), similarity search, text analysis, and
multimodal binary-column plumbing.
"""

__version__ = "0.1.0"

import sys

if sys.version_info < (3, 12):
    import os
    import zipimport

    _reread_zip_directory = zipimport.zipimporter.invalidate_caches

    def _zip_invalidate_caches(self) -> None:
        """``zipimporter.invalidate_caches`` that re-reads the archive's
        central directory only when the file changed (or cannot be
        stat'ed) since this importer's last re-read.

        pyspark's worker calls ``importlib.invalidate_caches()`` before
        every Python task, and before Python 3.12 (gh-103200) that
        eagerly re-reads every zip on ``sys.path`` — pyspark.zip and the
        spark-core jar, 1.3k and 5.4k entries, once per importer (16 of
        them) — for 190-250 ms of worker CPU per task on a 4-core host.
        Every engine UDF imports this package when it is unpickled, so
        reused workers skip that re-read from their second task on.  A
        changed zip is still re-read; a newly added zip is a new path
        entry with a fresh importer anyway."""
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_reread_stamp", None):
            _reread_zip_directory(self)
            self._reread_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _zip_invalidate_caches
