"""search_spark — a PySpark-native full-text (BM25) indexing and query engine.

A from-scratch re-expression of the capabilities of ``kelindar/search``
(reference, read-only at /root/reference) on Spark's execution model:

- the reference is an exact brute-force vector top-k library
  (/root/reference/index.go:53-86); this engine preserves its *contracts* —
  exact (not approximate) top-k, bounded min-heap semantics with
  strictly-greater replacement (/root/reference/index.go:74-79), descending
  final order (/root/reference/index.go:83-85), build-time precomputation
  (normalize-at-insert, /root/reference/index.go:44-50), and versioned
  compressed persistence (/root/reference/index_codec.go:16-43) — while the
  *mechanics* are Spark-native: DataFrame plans optimized by Catalyst,
  Arrow-vectorized UDFs, posting lists with delta+varint compression and
  block-max skip metadata, and a doc-range-bucketed layout so query-time
  scoring needs no shuffle.

Layout:
    analyzer.py   frozen tokenizer spec (shared by engine / oracle / SQL)
    corpus.py     deterministic synthetic transcript corpus (seeded)
    oracle.py     pure numpy BM25 oracle — the rank-identity ground truth
    codec.py      delta+varint posting-block codec + block-max metadata
    operators/    docid assignment, index build, merge, BM25 scorer, dedup...
    sources/      parquet/Iceberg-backed index store with snapshots+lineage
    functions/    BM25 score expressions, text analysis, hashing
"""

__version__ = "0.1.0"

# Analogue of the codec version byte, /root/reference/index_codec.go:20-22.
# v2: POSTING_SCHEMA requires block_min_dl, the dictionary carries
# term_bucket, and the manifest may carry a covered-`segments` list — a v1
# store must be rebuilt (IndexStore.check_versions rejects it, mirroring the
# reference's read-time version gate at index_codec.go:56-58).
FORMAT_VERSION = 2


def _stamp_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not
    change (CPython < 3.13; 3.13 made the call lazy).

    Every Spark Python task runs ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``), and before 3.13 each
    zipimporter answers by re-parsing its archive's whole central directory
    in pure Python.  pyspark.zip alone has one importer per imported
    package, about 16, so a reused worker re-parsed over 20k directory
    entries per task: 130-260 ms of each task with four tasks at once on a
    4-core host.  The replacement keeps an archive's directory while
    ``os.stat`` gives the ``(st_ino, st_size, st_mtime_ns)`` stamp taken
    before its last read, the mtime rule CPython's ``FileFinder`` applies
    to directories.  A failed stat or a new stamp falls through to the
    eager re-read.  Installed once per process: the package's workers
    import this module when they unpickle an engine UDF."""
    import sys

    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if eager.__module__ == __name__:
        return  # already installed by an earlier import of this package
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            return eager(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        seen = last_read.get(archive)
        if seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[archive] = seen[1]
            return
        eager(self)
        if self._files:  # an archive that failed to read is read again
            last_read[archive] = (stamp, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stamp_zip_invalidation()


#: public name -> (module, attribute), resolved lazily by ``__getattr__``
_FACADE = {
    "build_index": ("search_spark.operators.indexer", "build_index"),
    "IndexReader": ("search_spark.operators.wand", "IndexReader"),
    "IndexStore": ("search_spark.sources.index_store", "IndexStore"),
    "compact_index": ("search_spark.operators.compact", "compact_index"),
    "build_df_index": ("search_spark.operators.build", "build_df_index"),
    "search_topk_df": ("search_spark.operators.build", "search_topk_df"),
    "assign_doc_ids": ("search_spark.operators.docids", "assign_doc_ids"),
    "start_ingest": ("search_spark.streaming.ingest", "start_ingest"),
    "finalize_stream": ("search_spark.streaming.ingest", "finalize_stream"),
    "load_queryset": ("search_spark.sources.queryset", "load_queryset"),
    "dup_clusters": ("search_spark.operators.cluster", "dup_clusters"),
    "keeper_assignment": ("search_spark.operators.cluster", "keeper_assignment"),
    "sessionize_stream": ("search_spark.streaming.sessionize", "sessionize_stream"),
    "conversation_summary": ("search_spark.streaming.sessionize", "conversation_summary"),
    # round-3 fulltext extensions
    "phrase_search": ("search_spark.operators.phrase", "phrase_search"),
    "phrase_batch": ("search_spark.operators.phrase", "phrase_batch"),
    "near_search": ("search_spark.operators.phrase", "near_search"),
    "near_batch": ("search_spark.operators.phrase", "near_batch"),
    "boolean_search": ("search_spark.operators.boolean", "boolean_search"),
    "boolean_batch": ("search_spark.operators.boolean", "boolean_batch"),
    "facet_counts": ("search_spark.operators.boolean", "facet_counts"),
    "prefix_search": ("search_spark.operators.prefix", "prefix_search"),
    "fuzzy_search": ("search_spark.operators.prefix", "fuzzy_search"),
    "search_snippets": ("search_spark.operators.snippet", "search_snippets"),
    "more_like_this": ("search_spark.operators.keywords", "more_like_this"),
    "run_query": ("search_spark.query_syntax", "run_query"),
    # round-3 pipeline extensions
    "pack_sequences": ("search_spark.operators.packing", "pack_sequences"),
    "assign_splits": ("search_spark.operators.splits", "assign_splits"),
    "hash_sample": ("search_spark.operators.splits", "hash_sample"),
    "contamination_report": ("search_spark.operators.decontam", "contamination_report"),
    "materialize_training_corpus": (
        "search_spark.operators.materialize",
        "materialize_training_corpus",
    ),
}


def __getattr__(name):
    """Lazy public API facade (keeps bare ``import search_spark`` free of
    pyspark import cost for oracle/codec-only consumers)."""
    from importlib import import_module

    if name in _FACADE:
        mod, attr = _FACADE[name]
        return getattr(import_module(mod), attr)
    raise AttributeError(f"module 'search_spark' has no attribute {name!r}")
