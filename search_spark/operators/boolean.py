"""Boolean retrieval (MUST / SHOULD / MUST_NOT) and faceting over the
persisted inverted index.

The reference engine scores every query as a disjunctive vector match
(/root/reference/index.go:52-86); a fulltext engine also needs filtered
retrieval — "all of these, none of those, rank by relevance".  Scoring
runs through the same plan and the same per-bucket kernel as
:meth:`wand.IndexReader.batch_search` (``wand._topk_plan`` /
``wand.clause_topk``): one partition-pruned, term-pushed posting scan
covering every clause's terms, ONE exchange sized to the true doc-bucket
count, then candidate algebra and scoring as numpy set/array ops:

- **MUST** — per-bucket sorted-array intersection of the must terms'
  posting lists (a doc lives in exactly one bucket, so bucket-local
  intersection is globally correct).
- **MUST_NOT** — sorted-array set-difference against the union of the
  excluded terms' postings in the same bucket.  No corpus scan: an
  exclusion only needs the excluded terms' postings.
- **SHOULD** — when no MUST clause exists the candidates are the union
  of the should terms' postings; otherwise should terms only add score.
- **Scoring** — BM25 summed over the distinct (must ∪ should) terms a
  candidate contains, accumulated per term in ascending term order into
  a float64 array indexed by candidate position (bit-identical summation
  order to the DuckDB oracle).

OOV semantics mirror the reference's guard style (index.go:54-56): an
OOV must term → 0 rows (nothing can match); OOV should / must_not terms
drop out of their clause.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import tokenize
from .wand import _topk_plan, decode_blocks, deleted_array, drop_deleted, tombstones_ref


def matching_doc_ids(reader, terms: list[str], mode: str = "all") -> DataFrame | None:
    """Docs matching ``terms`` under ``mode``: ``all`` = conjunction
    (intersection of posting lists), ``any`` = disjunction (union).

    Returns (doc_bucket, doc_id); None when no doc can match (``all``
    with an OOV term, or ``any`` with every term OOV).  Same plan as
    phrase.conjunctive_doc_ids: pruned scan → one exchange
    (``IndexReader.map_buckets``) → per-bucket :func:`wand.decode_blocks`
    + numpy set algebra.
    """
    uniq = sorted(set(terms))
    dict_rows = reader._dictionary_rows(uniq)
    if mode == "all" and len(dict_rows) < len(uniq):
        return None
    live = sorted(dict_rows)
    if not live:
        return None
    blocks = reader.candidate_blocks(live, [b for _, b in dict_rows.values()])
    n_terms = len(live)
    conj = mode == "all"
    deleted_small, deleted_bc = tombstones_ref(reader)

    def combine(table: pa.Table) -> pa.Table:
        per_term = [ids for ids, _, _ in decode_blocks(table).values()]
        if conj:
            if len(per_term) < n_terms:
                acc = np.empty(0, dtype=np.int64)
            else:
                per_term.sort(key=len)
                acc = per_term[0]
                for ids in per_term[1:]:
                    acc = np.intersect1d(acc, ids, assume_unique=True)
                    if acc.shape[0] == 0:
                        break
        else:
            acc = np.unique(np.concatenate(per_term))
        acc = drop_deleted(acc, deleted_array(deleted_small, deleted_bc))
        bucket = table.column("doc_bucket")[0].as_py()
        return pa.table(
            {
                "doc_bucket": pa.array(np.full(acc.shape[0], bucket, dtype=np.int32)),
                "doc_id": pa.array(acc, pa.int64()),
            }
        )

    return reader.map_buckets(blocks, combine, "doc_bucket int, doc_id long")


def boolean_batch(
    reader,
    clauses: list[tuple[str, str, str, str]],
    k: int = 10,
) -> DataFrame:
    """Batched filtered retrieval: ``clauses`` =
    [(query_id, must, should, must_not)] → (query_id, rank, doc_id, score).

    Serving is batched (BENCH.md): the batch runs through the one
    scoring plan of wand.batch_search (``wand._topk_plan``) — ONE
    partition-pruned, term-pushed posting scan over the union of every
    clause's terms, ONE exchange sized to the true bucket count, each
    term decoded ONCE per bucket for the whole batch, then the clause
    algebra per query, then the hierarchical exact top-k
    (wand.ranked_topk).  Per-query semantics are unchanged from
    boolean_search: an OOV must term, or no live (must ∪ should) term,
    yields 0 rows for that query only.
    """
    specs: dict[str, tuple[list[str], list[str], list[str]]] = {}
    for qid, must, should, must_not in clauses:
        must_t = sorted(set(tokenize(must)))
        mnot_t = sorted(set(tokenize(must_not)) - set(must_t))
        specs[qid] = (must_t, sorted(set(tokenize(should))), mnot_t)
    return _topk_plan(reader, specs, k)


def boolean_search(
    reader,
    must: str = "",
    should: str = "",
    must_not: str = "",
    k: int = 10,
) -> DataFrame:
    """Filtered BM25 top-k: (doc_id, score) under (score DESC, doc_id ASC).

    A doc matches iff it contains ALL must terms and NO must_not term;
    with an empty must clause it matches iff it contains ≥1 should term.
    Score = BM25 over the distinct (must ∪ should) terms present.
    Single-clause form of :func:`boolean_batch` (same plan, one query).
    """
    return (
        boolean_batch(reader, [("q", must, should, must_not)], k)
        .orderBy("rank")
        .select("doc_id", "score")
    )


def facet_counts(
    reader,
    query_text: str,
    facet: str = "role",
    k: int = 10,
    mode: str = "any",
) -> DataFrame:
    """Facet the query's match set: (facet_value, n_docs) top-k by
    (n_docs DESC, facet_value ASC).

    Plan: index-driven match set (matching_doc_ids — never a corpus text
    scan) → broadcast-joined against the doc source pruned to the
    candidate units → hash-aggregate on the facet column.  One pruned
    postings scan + one pruned docs scan + one tiny aggregate.
    """
    spark = reader.spark
    terms = tokenize(query_text)
    empty = "facet_value string, n_docs bigint"
    if not terms:
        return spark.createDataFrame([], empty)
    ids = matching_doc_ids(reader, terms, mode=mode)
    if ids is None:
        return spark.createDataFrame([], empty)
    ids = ids.cache()
    try:
        from .phrase import BROADCAST_CANDIDATES_MAX, MAX_BUCKET_LIST

        per_bucket = (
            ids.groupBy("doc_bucket").count().limit(MAX_BUCKET_LIST + 1).collect()
        )
        if not per_bucket:
            return spark.createDataFrame([], empty)
        # past the cap the bucket list prunes nothing and would be
        # driver-sized (head-only queries touch ~every bucket) — scan
        # unpruned; broadcast is gated on MATCH rows, not bucket count
        capped = len(per_bucket) > MAX_BUCKET_LIST
        n_match = None if capped else sum(int(r["count"]) for r in per_bucket)
        buckets = None if capped else [int(r["doc_bucket"]) for r in per_bucket]
        docs = reader.doc_source(buckets=buckets).select("doc_id", facet)
        match_ids = ids.select("doc_id")
        if n_match is not None and n_match <= BROADCAST_CANDIDATES_MAX:
            match_ids = F.broadcast(match_ids)
        out = (
            docs.join(match_ids, "doc_id")
            .groupBy(F.col(facet).cast("string").alias("facet_value"))
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc_nulls_last("facet_value"))
            .limit(k)
        )
        rows = out.collect()
        return (
            spark.createDataFrame(rows, schema=out.schema)
            if rows
            else spark.createDataFrame([], empty)
        )
    finally:
        ids.unpersist()
