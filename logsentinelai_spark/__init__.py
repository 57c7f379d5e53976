"""logsentinelai_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the capability surface of
call518/LogSentinelAI (see SURVEY.md) on Apache Spark: declarative
schema-first extraction (HTML -> text via vectorized Arrow UDFs),
tokenization, inverted-index construction (posting lists, docID-gap +
varbyte compression, block-max annotations, term-salted merge), BM25
top-k query (naive Catalyst scorer + block-max WAND), dashboard-analog
analytics, dedup / similarity / text-analysis operators, and
checkpoint-resumable builds with per-partition lineage manifests.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API, the reference repo's observable behavior, and published IR
techniques (BM25: Robertson/Sparck-Jones; WAND: Broder et al., CIKM'03;
block-max WAND: Ding & Suel, SIGIR'11).
"""

import os
import sys

__version__ = "0.1.0"


# Every task of a reused PySpark worker ends `setup_spark_files` with
# `importlib.invalidate_caches()`. On CPython < 3.12 each zipimporter then
# re-reads its archive's whole central directory at once (3.11.7
# Lib/zipimport.py:329); 3.12+ only drops the cache entry (3.13
# Lib/zipimport.py:276). Spark puts its jar, pyspark.zip and py4j on the
# worker path, and a worker holds about 19 importers over them, so each
# task waited ~190 ms before its function started. Here every directory read records the archive's
# (mtime, size) as of the read, and an invalidation re-reads only when
# that stamp changed; otherwise the importer takes the cached directory.
# Directories cached when the package is imported count as current: a
# worker first imports it while unpickling a task, right after that
# task's `setup_spark_files` re-read them all.
if sys.version_info < (3, 12):
    import zipimport

    def _stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    if zipimport.zipimporter.invalidate_caches.__module__ == "zipimport":
        _zip_read_at = {a: _stamp(a) for a in zipimport._zip_directory_cache}

        def _read_directory(archive, _read=zipimport._read_directory):
            stamp = _stamp(archive)
            files = _read(archive)
            _zip_read_at[archive] = stamp
            return files

        def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
            stamp = _stamp(self.archive)
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is None or stamp is None or stamp != _zip_read_at.get(self.archive):
                _reread(self)
            else:
                self._files = files

        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
