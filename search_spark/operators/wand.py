"""Exact BM25 top-k over compressed posting blocks: one per-bucket kernel.

Exactness contract: identical top-k to the brute-force oracle under the
total order ``(score DESC, doc_id ASC)`` (SURVEY.md §7.5) — the
reference engine's exact-search guarantee (its README.md:13,
index.go:26).

Scoring is block-at-a-time and vectorized: a bucket's candidate blocks
arrive as one Arrow table, and :func:`decode_blocks` decodes each payload
column in ONE varint pass over its Arrow data buffer, then slices numpy
views per term.  :func:`clause_topk` adds per-term contributions into a
float64 array indexed by candidate position in ASCENDING TERM ORDER from a
zero start — the oracle's summation order, so scores match it
bit-for-bit — and takes the local top-k with argpartition + lexsort.  The
same kernel serves plain disjunctive BM25 (should-only specs) and boolean
MUST / SHOULD / MUST_NOT retrieval.  Blocks are not skipped: the stored
block metadata (``block_max_tf``, ``block_min_dl``, ``block_max_raw``)
stays in the index format for block-level pruning.

Distribution model: postings are bucketed by doc range (``doc_bucket``), so
one ``applyInArrow`` group = all query-term blocks for one doc range, and
bucket b runs on task b mod n (:meth:`IndexReader.map_buckets`); each
group scores every query of the batch and emits its local top-k; the
global top-k is the k best of (k × buckets) candidate rows — exact,
because any global winner is a local winner in its bucket.  Query time thus
shuffles only candidate *blocks* (pruned by term_bucket partition pruning +
term predicate pushdown at the parquet scan), never raw postings rows.
The dictionary lookup that precedes the scan runs on the driver with
pyarrow over the reader's snapshot files — no Spark job.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codec
from ..analyzer import tokenize
from ..functions.bm25 import B, K1
from ..oracle import idf as oracle_idf
from ..sources.index_store import IndexStore


def _binary_values(column) -> np.ndarray:
    """The value bytes of a binary / large_binary column (Array or
    ChunkedArray), concatenated in row order, as a uint8 array — read off
    each chunk's data buffer through its offsets buffer, honouring the
    chunk's array offset.  No per-value Python."""
    chunks = column.chunks if isinstance(column, pa.ChunkedArray) else [column]
    parts = []
    for arr in chunks:
        if len(arr) == 0:
            continue
        if arr.null_count:
            raise ValueError("posting block with a null payload")
        _, offsets_buf, data_buf = arr.buffers()
        off_t = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        offsets = np.frombuffer(offsets_buf, dtype=off_t)[arr.offset : arr.offset + len(arr) + 1]
        if data_buf is not None:
            parts.append(np.frombuffer(data_buf, dtype=np.uint8)[offsets[0] : offsets[-1]])
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint8)


def decode_blocks(table: pa.Table) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode a bucket's candidate blocks → {term: (doc_ids, tfs, dls)},
    each int64 and doc_ids ascending.

    Sorts the blocks once by (term, first_doc) — group rows carry no
    order guarantee, and within a term the first_doc order is what makes
    the concatenated doc_ids sorted.  Each payload column then decodes in
    ONE :func:`codec.varint_decode` call over its Arrow data buffer, every
    block being exactly ``n_docs`` values; doc_ids are rebuilt by a
    cumsum segmented at block starts and seeded with ``first_doc``.  The
    per-term arrays are views sliced at term boundaries.  Raises when a
    column does not decode to exactly ``sum(n_docs)`` values (a truncated
    or padded payload)."""
    if table.num_rows == 0:
        return {}
    table = table.take(
        pc.sort_indices(table, sort_keys=[("term", "ascending"), ("first_doc", "ascending")])
    )
    n_docs = table.column("n_docs").to_numpy().astype(np.int64)
    total = int(n_docs.sum())

    def values(name: str) -> np.ndarray:
        out = codec.varint_decode(_binary_values(table.column(name))).view(np.int64)
        if out.shape[0] != total:
            raise ValueError(
                f"{name}: decoded {out.shape[0]} values, blocks declare {total}"
            )
        return out

    deltas, tfs, dls = values("doc_ids_delta"), values("tfs"), values("dls")
    starts = np.cumsum(n_docs) - n_docs
    csum = np.cumsum(deltas)
    # doc = first_doc + (running delta sum since the block start); int64
    # wrap-around cancels in the subtraction
    seed = csum[starts] - deltas[starts] - table.column("first_doc").to_numpy()
    doc_ids = csum - np.repeat(seed, n_docs)
    terms = table.column("term").to_numpy(zero_copy_only=False)
    term_first = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
    bounds = np.concatenate((starts[term_first], [total]))
    return {
        terms[b]: (doc_ids[lo:hi], tfs[lo:hi], dls[lo:hi])
        for b, lo, hi in zip(term_first, bounds[:-1], bounds[1:])
    }


def deleted_array(deleted_small, deleted_bc) -> np.ndarray | None:
    """The tombstone set of a :func:`tombstones_ref` pair as ONE sorted
    int64 array (None when empty) — built once per bucket group and passed
    to every spec of the group."""
    deleted = deleted_bc.value if deleted_bc is not None else deleted_small
    if not deleted:
        return None
    return np.sort(np.fromiter(deleted, dtype=np.int64, count=len(deleted)))


def drop_deleted(ids: np.ndarray, deleted: np.ndarray | None) -> np.ndarray:
    """``ids`` minus the sorted tombstone array (binary search, no set)."""
    if deleted is None or ids.shape[0] == 0:
        return ids
    pos = np.minimum(np.searchsorted(deleted, ids), deleted.shape[0] - 1)
    return ids[deleted[pos] != ids]


def clause_topk(
    by_term: dict,
    must: list[str],
    should: list[str],
    must_not: list[str],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    deleted: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray] | None:
    """Exact local top-k of ONE query spec over one bucket's decoded terms
    (``by_term``: term → (doc_ids, tfs, dls), each sorted unique by
    doc_id).  Returns (doc_ids, scores) ordered (score DESC, doc_id ASC),
    or None when the spec matches nothing in this bucket.

    Candidates: the intersection of the ``must`` posting lists, or — with
    no must term — the union of the ``should`` lists; minus every
    ``must_not`` posting and every tombstoned doc (``deleted``: sorted
    int64, see :func:`deleted_array`).  Score: BM25 over the
    distinct (must ∪ should) terms a candidate contains, summed in
    ascending term order.  A plain BM25 query is the should-only spec."""
    if must:
        musts = [by_term[t][0] for t in must if t in by_term]
        if len(musts) < len(must):
            return None
        musts.sort(key=len)
        cand = musts[0]
        for ids in musts[1:]:
            cand = np.intersect1d(cand, ids, assume_unique=True)
            if cand.shape[0] == 0:
                break
    else:
        unions = [by_term[t][0] for t in should if t in by_term]
        if not unions:
            return None
        cand = np.unique(np.concatenate(unions))
    if cand.shape[0] and must_not:
        excl = [by_term[t][0] for t in must_not if t in by_term]
        if excl:
            cand = cand[~np.isin(cand, np.concatenate(excl), assume_unique=False)]
    cand = drop_deleted(cand, deleted)
    if cand.shape[0] == 0:
        return None
    # BM25 over scoring terms, ascending term order, accumulated by
    # candidate position (cand and each posting list are sorted unique)
    scores = np.zeros(cand.shape[0], dtype=np.float64)
    for term in sorted(set(must) | set(should)):
        got = by_term.get(term)
        if got is None:
            continue
        docs, tf_i, dl_i = got
        pos = np.searchsorted(cand, docs)
        pos_c = np.minimum(pos, cand.shape[0] - 1)
        mask = cand[pos_c] == docs
        if not mask.any():
            continue
        tf = tf_i[mask].astype(np.float64)
        dl = dl_i[mask].astype(np.float64)
        contrib = idf[term] * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        scores[pos_c[mask]] += contrib
    keep = np.flatnonzero(scores > 0.0)
    if keep.shape[0] == 0:
        return None
    if keep.shape[0] > k:
        # kth-largest score via partial select; keep everything at/above it
        # (boundary ties included) so the exact (score DESC, doc_id ASC)
        # sort below decides the final k
        kth = -np.partition(-scores[keep], k - 1)[k - 1]
        keep = keep[scores[keep] >= kth]
    order = np.lexsort((cand[keep], -scores[keep]))[:k]
    chosen = keep[order]
    return cand[chosen], scores[chosen]


#: (query, doc_bucket) group size in candidate postings above which
#: perfbench counts a group as dense (its ``wand.dense_group_share``
#: input property).  The engine itself scores every group with
#: :func:`clause_topk`.
WAND_MAX_POSTINGS = 1024

#: bucket count above which the final per-query top-k merge goes
#: hierarchical.  Below it, k×buckets candidate rows through one window
#: partition is cheaper than an extra exchange; above it, the single
#: partition becomes the scale-killer SCALE.md computes (head-only query
#: at 10^12 docs: 15M buckets × k=10 = 150M rows through ONE task).
MERGE_FANOUT = 64


def ranked_topk(
    local: DataFrame, k: int, n_buckets: int, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Exact hierarchical per-query top-k over per-bucket survivors.

    ``local`` holds ≤ k rows per (query_id, doc_bucket) — each doc lives
    in exactly one bucket, so rows are per-(query, doc) unique and any
    global winner is a local winner in its group at every level.  The
    distributed analogue of the reference's per-partition-heaps-then-
    merge (/root/reference/index.go:63-86), in two bounded levels:

    1. when ``n_buckets > MERGE_FANOUT``: group survivors into
       g = ⌈√n_buckets⌉ merge groups by doc_id hash and keep the
       per-(query, group) top-k — a PARTITIONED window, parallelism
       queries × g, ≤ k·(n_buckets/g) ≈ k·√B rows per window partition;
    2. final per-query rank over ≤ k·g ≈ k·√B rows.

    Worst case per task thus grows as k·√buckets instead of k·buckets —
    the 150M-row head-query case becomes ~39k rows/task.
    """
    if n_buckets > MERGE_FANOUT:
        import math

        g = math.isqrt(max(0, n_buckets - 1)) + 1
        pre = Window.partitionBy("query_id", "_mg").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        local = (
            local.withColumn(
                "_mg", F.pmod(F.xxhash64("doc_id"), F.lit(g)).cast("int")
            )
            .withColumn("_pr", F.row_number().over(pre))
            .filter(F.col("_pr") <= k)
            .drop("_mg", "_pr")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score", *extra)
    )


# ---------------------------------------------------------------------------
# Spark query pipeline over an IndexStore
# ---------------------------------------------------------------------------

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def tombstones_ref(reader) -> tuple[frozenset | None, object | None]:
    """(small_set, broadcast) for any reader-like object — the shared
    entry point scorer modules (boolean/phrase/keywords) use so every
    delete-aware closure picks the same ship-vs-broadcast strategy.
    Falls back to closure shipping for readers without the method
    (test fakes)."""
    ref = getattr(reader, "tombstones_ref", None)
    if ref is not None:
        return ref()
    return (getattr(reader, "deleted", frozenset()) or None), None


#: the plan's result columns: (query_id, rank, doc_id, score)
_RANKED_SCHEMA = pa.schema(
    [("query_id", pa.string()), ("rank", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())]
)

#: block columns a bucket group needs (the block-max metadata stays behind)
_KERNEL_COLUMNS = ("term", "doc_bucket", "first_doc", "n_docs", "doc_ids_delta", "tfs", "dls")

#: the ``term_bucket=K`` directory of a dictionary file path
_TERM_BUCKET_DIR = re.compile(r"/term_bucket=(\d+)/[^/]*$")


def _in_predicate(column: str, values) -> Column:
    """``column IN (v, ...)`` over the distinct ``values`` as ONE SQL
    expression — one Py4J call however many values, where
    ``Column.isin`` makes a literal Column per value.  Strings are
    single-quoted with ``\\`` and ``'`` backslash-escaped (Spark's
    string-literal syntax), so any term is a literal, never SQL."""
    vals = sorted(set(values))
    if not vals:
        return F.lit(False)

    def literal(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return F.expr(f"`{column}` IN ({', '.join(map(literal, vals))})")


def _topk_plan(
    reader,
    specs: dict[str, tuple[list[str], list[str], list[str]]],
    k: int,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """The one scoring plan: ``specs`` = {query_id: (must, should,
    must_not)} analyzed terms → (query_id, rank, doc_id, score).

    driver-side dictionary lookup (the batch's unseen terms, no Spark
    job) → partition-pruned, term-pushed candidate block scan over every
    spec's live terms → ONE ``doc_bucket`` exchange whose Arrow groups
    decode each column once (:func:`decode_blocks`) and run
    :func:`clause_topk` for every spec → hierarchical exact top-k
    (:func:`ranked_topk`).  An OOV must term, or no live (must ∪ should)
    term, yields 0 rows for that query only; OOV should / must_not terms
    drop out of their clause.  ``boosts`` scale a term's idf."""
    specs = {qid: spec for qid, spec in specs.items() if spec[0] or spec[1]}
    if k <= 0 or not specs:
        # an empty Arrow table is a LocalRelation: collecting it runs no
        # Spark job, where ``createDataFrame([], ddl)`` builds a Python RDD
        # whose collect runs ``defaultParallelism`` Python tasks
        return reader.spark.createDataFrame(_RANKED_SCHEMA.empty_table())
    all_terms = sorted({t for spec in specs.values() for part in spec for t in part})
    dict_rows = reader._dictionary_rows(all_terms)
    live_specs: dict[str, tuple[list[str], list[str], list[str]]] = {}
    for qid, (must, should, must_not) in specs.items():
        if any(t not in dict_rows for t in must):
            continue  # OOV must term → this query matches nothing
        should_live = [t for t in should if t in dict_rows]
        if must or should_live:
            live_specs[qid] = (
                must, should_live, [t for t in must_not if t in dict_rows]
            )
    if not live_specs:
        return reader.spark.createDataFrame(_RANKED_SCHEMA.empty_table())
    live = sorted({t for spec in live_specs.values() for part in spec for t in part})
    blocks = reader.candidate_blocks(live, [dict_rows[t][1] for t in live])
    boosts = boosts or {}
    idf = {t: dict_rows[t][0] * float(boosts.get(t, 1.0)) for t in live}
    avgdl = float(reader.stats["avgdl"])
    # small delete sets ride the closure; large ones go through ONE
    # broadcast per snapshot — identical results either way
    deleted_small, deleted_bc = tombstones_ref(reader)

    def score_bucket(table: pa.Table) -> pa.Table:
        deleted = deleted_array(deleted_small, deleted_bc)
        # each term decodes ONCE per bucket for the whole batch (head terms
        # typically appear in many queries of a batch)
        by_term = decode_blocks(table)
        qids, ids, scores = [], [], []
        for qid, (must, should, must_not) in live_specs.items():
            got = clause_topk(by_term, must, should, must_not, idf, avgdl, k, deleted)
            if got is not None:
                qids.append(qid)
                ids.append(got[0])
                scores.append(got[1])
        counts = [a.shape[0] for a in ids]
        return pa.table(
            {
                "query_id": pa.array(np.repeat(np.array(qids, dtype=object), counts), pa.string()),
                "doc_id": pa.array(np.concatenate(ids) if ids else [], pa.int64()),
                "score": pa.array(np.concatenate(scores) if scores else [], pa.float64()),
            }
        )

    local = reader.map_buckets(blocks, score_bucket, RESULT_SCHEMA)
    return ranked_topk(local, k, reader.n_buckets)


class IndexReader:
    """Query-side handle on a persisted index (analogue of the loaded
    ``Index[T]`` in /root/reference/example/main.go:59-65, but lazy: only
    the manifest + stats are read eagerly; postings stream per query).

    SNAPSHOT AT OPEN: the postings file listing, stats, and dictionary are
    fixed at construction (Spark caches the listing in the DataFrame's
    FileIndex, so repeated queries skip the directory walk).  Segments
    ingested or compacted AFTER construction are invisible until
    :meth:`refresh` — the same contract as the reference's loaded in-memory
    index.  Streaming consumers should call ``refresh()`` when the store's
    ledger advances (``store.checkpoints()['stream_batches']`` count)."""

    def __init__(self, spark: SparkSession, store: IndexStore):
        store.check_versions()
        self.spark = spark
        self.store = store
        self.term_buckets = store.manifest()["term_buckets"]
        self.refresh()

    #: driver-side term-cache bound (≈ tens of MB at the cap; reset, not
    #: LRU-tracked — a full reset is rare and the next queries re-warm it)
    TERM_CACHE_MAX = 1_000_000

    def refresh(self) -> "IndexReader":
        """Re-open the store's CURRENT snapshot: re-reads stats, dictionary
        and the postings file listing (new stream segments / compacted
        layouts become visible) and drops the term cache (idf depends on
        the snapshot's N/df).  Cheap — three metadata reads, no data.

        The dictionary's files are captured per ``term_bucket`` from the
        listing Spark makes here (``_dict_df.inputFiles()``): the
        driver-side lookup (:meth:`_dictionary_rows`) reads only those, so
        it answers from THIS snapshot and never lists the directory again.
        ``_dict_df`` itself stays for prefix/fuzzy ``startswith`` scans."""
        self.stats = self.store.stats()
        self._dict_df = self.spark.read.parquet(self.store.dictionary_path)
        self._dict_fs, self._dict_base = None, None
        self._dict_files: dict[int, list[str]] = {}
        for uri in self._dict_df.inputFiles():
            self._dict_fs, path = pafs.FileSystem.from_uri(uri)
            m = _TERM_BUCKET_DIR.search(path)
            self._dict_base = path[: m.start()]
            self._dict_files.setdefault(int(m.group(1)), []).append(path)
        self._posts_df = self.store.load_postings_df(self.spark)
        # tombstoned doc_ids: excluded from every result (logical delete);
        # scores keep the physical index's stats until a compaction purges
        self.deleted: frozenset = self.store.tombstones()
        # term → (idf, term_bucket), or None for known-absent terms —
        # negative entries stop OOV terms from re-running the lookup job
        self._term_cache: dict[str, tuple[float, int] | None] = {}
        # snapshot-scoped caches for the delete set's two serving forms
        # (built lazily, invalidated here because the set is snapshot state)
        self._gone_df = None
        if getattr(self, "_deleted_bc", None) is not None:
            self._deleted_bc.unpersist()
        self._deleted_bc = None
        return self

    #: ship tombstones per-task in the closure below this size (driver-
    #: sized sets serialize fine); above it use ONE broadcast per snapshot
    #: so a lazily-compacted store with millions of tombstones doesn't pay
    #: the pickle cost on every task of every query
    TOMBSTONE_BROADCAST_MIN = 100_000

    def tombstones_ref(self):
        """(small_set, broadcast) — exactly one is non-None when tombstones
        exist.  Scorer closures capture both; executors resolve via
        ``bc.value if bc is not None else small``.  Results are identical
        on either path (pinned in tests/test_deletes.py)."""
        if not self.deleted:
            return None, None
        if len(self.deleted) < self.TOMBSTONE_BROADCAST_MIN:
            return self.deleted, None
        if self._deleted_bc is None:
            self._deleted_bc = self.spark.sparkContext.broadcast(self.deleted)
        return None, self._deleted_bc

    def gone_ids_df(self) -> DataFrame | None:
        """Tombstoned ∪ purged doc_ids as a (cached per snapshot) single-
        column DataFrame for anti-joins — built from a numpy array via
        Arrow, not a per-id Python row list (delete sets are thousands to
        millions of ids; re-materializing them through the driver on every
        flat-scan query was a measured per-call cost)."""
        if self._gone_df is None:
            gone = (self.deleted or frozenset()) | self.store.purged_ids()
            if not gone:
                self._gone_df = False  # sentinel: nothing to exclude
            else:
                import numpy as np
                import pandas as pd

                arr = np.fromiter(gone, dtype=np.int64)
                arr.sort()
                self._gone_df = self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": arr})
                )
        return None if self._gone_df is False else self._gone_df

    def _dictionary_rows(self, terms: list[str]) -> dict[str, tuple[float, int]]:
        """term → (idf, term_bucket).  The batch's UNSEEN terms only are
        looked up, on the driver with pyarrow — no Spark job; terms repeat
        heavily across a serving session's queries — Zipf again — so
        steady-state batches often skip the lookup entirely.

        The lookup is PARTITION-PRUNED: the dictionary is laid out by
        term_bucket (indexer.finalize) and the query's buckets are derived
        driver-side with the spec-tested pure-Python xxhash64 twin, so only
        those buckets' files of the reader's snapshot are opened, with a
        ``term`` filter (the files are term-sorted, so row-group stats
        prune) — at 10^12-doc scale the dictionary is billions of terms.
        Stored-vs-derived bucket equality is asserted on every fetched row
        (a hash-spec drift fails loudly instead of silently missing terms).
        A snapshot file that has since been deleted raises — it is never
        read as "term absent".
        """
        from ..functions.hashing import term_bucket_py

        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            py_buckets = {t: term_bucket_py(t, self.term_buckets) for t in missing}
            paths = [
                p for b in sorted(set(py_buckets.values())) for p in self._dict_files.get(b, ())
            ]
            rows = []
            if paths:
                # hive partitioning: each row carries its file's stored bucket
                dictionary = ds.dataset(
                    paths,
                    filesystem=self._dict_fs,
                    format="parquet",
                    partitioning="hive",
                    partition_base_dir=self._dict_base,
                )
                rows = dictionary.to_table(
                    columns=["term", "df", "term_bucket"],
                    filter=pc.is_in(pc.field("term"), value_set=pa.array(missing, pa.string())),
                ).to_pylist()
            for r in rows:
                if int(r["term_bucket"]) != py_buckets[r["term"]]:
                    raise RuntimeError(
                        f"term_bucket mismatch for {r['term']!r}: stored "
                        f"{r['term_bucket']} != derived {py_buckets[r['term']]} "
                        "— xxhash64_py no longer matches the layout hash"
                    )
            # idf derived HERE in CPython from (N, df) rather than read from
            # the stored column: JVM Math.log is only 1-ulp-accurate while
            # the oracle uses correctly-rounded libm — deriving driver-side
            # makes the scorer's idf bit-identical to the oracle's
            n = int(self.stats["n_docs"])
            found = {
                r["term"]: (oracle_idf(n, int(r["df"])), int(r["term_bucket"]))
                for r in rows
            }
            if len(self._term_cache) + len(missing) > self.TERM_CACHE_MAX:
                # keep THIS batch's already-cached entries through the reset —
                # dropping them would silently score those terms as OOV below
                self._term_cache = {
                    t: self._term_cache[t] for t in terms if t in self._term_cache
                }
            for t in missing:
                self._term_cache[t] = found.get(t)
        out = {}
        for t in terms:
            v = self._term_cache.get(t)
            if v is not None:
                out[t] = v
        return out

    def candidate_blocks(self, terms: list[str], buckets: list[int] | None = None) -> DataFrame:
        """Scan only the term_bucket partitions + terms of the query:
        partition pruning on the directory column, then predicate pushdown
        on ``term`` into the parquet row groups.  ``buckets=None`` skips the
        partition prune (term predicate still pushes down).  Each predicate
        is ONE SQL ``IN`` expression (:func:`_in_predicate`)."""
        pred = _in_predicate("term", terms)
        if buckets is not None:
            pred = _in_predicate("term_bucket", buckets) & pred
        return self._posts_df.filter(pred)

    @property
    def n_buckets(self) -> int:
        """Doc-bucket count of the snapshot (from stats)."""
        return -(-int(self.stats["n_docs"]) // int(self.stats["doc_bucket_size"]))

    def map_buckets(self, blocks: DataFrame, fn, schema) -> DataFrame:
        """``applyInArrow(fn, schema)`` over ``blocks`` grouped by
        ``doc_bucket``, behind ONE exchange: ``fn`` gets one bucket's
        candidate blocks as a ``pyarrow.Table`` (the columns
        :func:`decode_blocks` reads) and returns a ``pyarrow.Table``.

        Direct placement: ``repartitionById`` sends bucket b to task
        b mod n, so buckets spread evenly over the tasks (hashing put 3 of
        4 buckets on one task), and the grouping key is the placement key,
        so groupBy adds no second exchange.  Explicit partition count:
        per-bucket work is Python-per-posting, not bytes — AQE's byte-based
        coalescing would serialize it onto one task at small scale.  An
        empty partition starts no Python task; each non-empty one pays a
        Python worker round trip (task set-up, UDF unpickling, the Arrow
        stream): a trivial 4-group ``applyInArrow`` job takes about 130 ms
        on a 4-core host, against about 340 ms while every task re-parsed
        pyspark.zip's directory (``search_spark._stamp_zip_invalidation``).
        Task count = min(doc buckets, default parallelism)."""
        n = max(1, min(self.spark.sparkContext.defaultParallelism, self.n_buckets))
        return (
            blocks.select(*_KERNEL_COLUMNS)
            .repartitionById(n, "doc_bucket")
            .groupBy("doc_bucket")
            .applyInArrow(fn, schema=schema)
        )

    def batch_search(
        self,
        queries: list[tuple[str, str]],
        k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Batch top-k: queries = [(query_id, query_text)].

        ``boosts`` (term → positive weight) scales each term's
        contribution: BM25 is linear in idf per term, so boosting is an
        idf scale.

        Each query is the should-only spec of its distinct terms, scored
        by :func:`_topk_plan` — all queries of the batch share one candidate
        scan and one per-bucket scoring pass.
        Returns (query_id, rank, doc_id, score).
        """
        if boosts and any(w <= 0 for w in boosts.values()):
            raise ValueError(f"boosts must be positive: {boosts}")
        specs = {
            qid: ([], sorted(set(tokenize(text))), []) for qid, text in queries
        }
        return _topk_plan(self, specs, k, boosts)

    def search(self, query_text: str, k: int = 10) -> DataFrame:
        """Single query → (rank, doc_id, score)."""
        return self.batch_search([("q", query_text)], k).drop("query_id")

    def search_page(
        self, query_text: str, offset: int = 0, size: int = 10
    ) -> DataFrame:
        """Deep pagination: results ranked offset+1 .. offset+size.

        Exact-top-k semantics carry over: the engine retrieves the top
        (offset+size) and slices — the only exact way to paginate a
        rank-sensitive score (ranks stay globally consistent across
        pages of the same snapshot).  Cost grows with the page depth,
        which is the honest cost model of deep paging on any engine."""
        if offset < 0 or size <= 0:
            return self.spark.createDataFrame(_RANKED_SCHEMA.remove(0).empty_table())
        return (
            self.batch_search([("q", query_text)], offset + size)
            .drop("query_id")
            .filter(F.col("rank") > offset)
            .select("rank", "doc_id", "score")
        )

    def doc_source(self, buckets: list[int] | None = None) -> DataFrame:
        """The store's staged document table (batch docs ∪ stream docs).

        Doc sources mirror the index's own discovery (streaming/ingest.py
        finalize): batch docs PLUS stream_docs/batch=* — a stream-only
        store has no batch docs dir at all, and a hybrid store's streamed
        doc_ids would otherwise rehydrate to NULLs.

        ``buckets`` prunes the batch side to the unit partitions that can
        contain those doc_buckets (unit = pmod(doc_bucket, n_units) — the
        staged layout, indexer.stage_docs) plus a doc_bucket predicate for
        row-group skipping; stream segments are small and read unpruned.
        """
        import os

        cols = ["doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
        sources = []
        if os.path.exists(self.store.docs_path()):
            batch = self.spark.read.parquet(self.store.docs_path())
            if buckets is not None:
                n_units = int(self.store.checkpoints().get("n_units", 1))
                units = sorted({b % n_units for b in buckets})
                batch = batch.filter(
                    F.col("unit").isin(units)
                    & F.col("doc_bucket").isin(sorted(set(buckets)))
                )
            sources.append(batch.select(*cols))
        sdocs_root = os.path.join(self.store.root, "stream_docs")
        if os.path.exists(sdocs_root):
            # only INDEX-ACKNOWLEDGED batches: stream docs land on disk
            # BEFORE their postings commit, so a flat scan during a live or
            # crashed micro-batch would surface docs the index never served
            # — diverging from the candidate path on the same store state.
            # The crash-window rule lives in ONE place (the store helper)
            # shared with finalize_stream's full recompute.
            acked = self.store.acked_stream_batches()
            if acked:
                stream = (
                    self.spark.read.option("basePath", sdocs_root)
                    .parquet(sdocs_root)
                    .filter(F.col("batch").isin(acked))
                )
                if buckets is not None and "doc_bucket" in stream.columns:
                    stream = stream.filter(
                        F.col("doc_bucket").isin(sorted(set(buckets)))
                    )
                sources.append(stream.select(*cols))
        if not sources:
            raise FileNotFoundError(
                f"no docs staged under {self.store.root} (neither batch docs "
                "nor stream_docs) — build or ingest before rehydrating"
            )
        docs = sources[0]
        for d in sources[1:]:
            docs = docs.unionByName(d)
        return docs

    def rehydrate(self, results: DataFrame) -> DataFrame:
        """Join results back to the staged docs table — the reference keeps
        the payload inline in each entry (/root/reference/index.go:16-17);
        we store it relationally and join on demand."""
        return results.join(self.doc_source(), "doc_id", "left")
