"""Exact phrase search over the persisted inverted index.

The reference engine has no phrase operator (it serves whole-document
vector search, /root/reference/index.go:52-86); a fulltext engine needs
one, and the Spark-first construction is a two-stage prune-then-verify
plan that never scans the corpus:

1. **Conjunctive candidates from the index** — a phrase can only occur in
   documents containing ALL its terms, so the candidate set is the
   per-``doc_bucket`` intersection of the query terms' posting lists
   (pruned parquet scan: term_bucket partition filters + term predicate
   pushdown, exactly :meth:`wand.IndexReader.candidate_blocks`).  The
   candidate count is bounded by the rarest term's df — Zipf makes this
   small for any phrase containing one non-head term.

2. **Positional verify on the candidates only** — the index stores no
   positions (by design: positions triple index size; candidates are
   cheap to re-check), so candidates rehydrate their text from the
   staged docs and count exact phrase occurrences with the Arrow/numpy
   kernels in :mod:`..functions.positional` inside ONE ``mapInPandas``
   stage (tokenize-once + shifted-slice boolean algebra per Arrow
   batch).  The JVM higher-order-function twins remain as the
   property-tested semantic pin, but they are interpreted per lambda
   call — measured ~10× the cost of tokenization itself at 1.4M docs —
   so the kernels are the hot path.  The docs scan is partition-pruned
   to the units containing candidates, and the candidate side is
   broadcast, so the verify is a map-side join over a pruned scan: NO
   corpus shuffle; mapInPandas is opaque to Catalyst, so no pushdown
   barrier is needed to keep the verify off the corpus scan.

For HEAD-ONLY queries (every term's df ≥ half the corpus) stage 1 is
skipped entirely: intersecting near-full posting lists costs a full
decode to prune <half the verify input — the flat verify scan IS the
minimal plan (the 10^12-doc "the a" shape, SCALE.md).

Scoring treats the phrase as one pseudo-term: tf = exact occurrence
count (overlaps included), df = number of documents containing the
phrase, dl/avgdl/N from the index stats — standard BM25, bit-identical
to the DuckDB oracle (idf derived driver-side in CPython, same
convention as wand.IndexReader._dictionary_rows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codec
from ..analyzer import tokenize
from ..functions.bm25 import term_score_col
from ..functions.positional import (
    flat_tokens,
    near_tf_from_flat,
    near_tf_np,
    phrase_tf_from_flat,
    phrase_tf_np,
)
from ..oracle import idf as oracle_idf
from .wand import decode_term, tombstones_ref

#: broadcast the candidate side of the verify join only below this many
#: candidate docs (driver-side count; above it fall back to a shuffled
#: join and let AQE pick the strategy)
BROADCAST_CANDIDATES_MAX = 2_000_000

#: cap on the driver-side candidate-bucket list (used for doc-scan
#: pruning).  A head-only phrase over 10^12 docs touches ~all of the
#: ~10^8 doc_buckets — at that point the list prunes nothing and would
#: itself be driver-sized, so past the cap the verify scans unpruned
#: (which IS the matching physical plan for an everywhere-phrase)
MAX_BUCKET_LIST = 8192

#: min-df fraction of the corpus above which candidate generation is
#: skipped and the verify scans the corpus flat: pruning can remove less
#: than (1 - frac) of the verify input but costs a full posting
#: decode+intersect of every (near-corpus-sized) list first
DENSE_SKIP_FRAC = 0.5

_EMPTY_SCHEMA = "doc_id bigint, ptf int, score double"


def phrase_tf_col(toks, terms: list[str]):
    """Exact phrase-occurrence count (overlapping occurrences counted) of
    the ordered ``terms`` inside token array ``toks`` — pure JVM
    higher-order functions, codegen-friendly, no UDF.

    Guarded like dedup.shingles_col: for docs shorter than the phrase the
    start-offset ``sequence`` would count DOWN, so it is replaced by [].
    """
    w = len(terms)
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(w - 1))
    guarded = F.when(F.size(toks) >= w, starts).otherwise(
        F.array().cast("array<int>")
    )
    terms_lit = F.lit(terms)

    def is_match(i):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(w - 1)),
            F.lit(True),
            lambda acc, j: acc
            & (
                F.element_at(toks, (i + j).cast("int"))
                == F.element_at(terms_lit, (j + 1).cast("int"))
            ),
        )

    return F.size(F.filter(guarded, is_match)).cast("int")


def conjunctive_doc_ids(reader, terms: list[str]) -> DataFrame | None:
    """Docs containing ALL ``terms``: per-bucket posting-list intersection.

    Returns (doc_bucket, doc_id) or None when any term is OOV (no doc can
    match).  One pruned scan + one exchange sized to the true bucket
    count; per bucket the decode is the same numpy varint path the BM25
    kernel uses, and the intersection is sorted-array ``np.intersect1d``.
    """
    uniq = sorted(set(terms))
    dict_rows = reader._dictionary_rows(uniq)
    if len(dict_rows) < len(uniq):
        return None
    blocks = reader.candidate_blocks(uniq, [b for _, b in dict_rows.values()])
    n_terms = len(uniq)
    deleted_small, deleted_bc = tombstones_ref(reader)

    def intersect(pdf: pd.DataFrame) -> pd.DataFrame:
        deleted = deleted_bc.value if deleted_bc is not None else deleted_small
        per_term = []
        for _, g in pdf.groupby("term"):
            ids = np.concatenate(
                [
                    codec.decode_doc_ids(ids_b, int(first), int(n))
                    for ids_b, first, n in zip(
                        g["doc_ids_delta"], g["first_doc"], g["n_docs"]
                    )
                ]
            )
            per_term.append(ids)
        if len(per_term) < n_terms:
            return pd.DataFrame({"doc_bucket": [], "doc_id": []}).astype(
                {"doc_bucket": "int32", "doc_id": "int64"}
            )
        # rarest-first: intersections only shrink, so start smallest
        per_term.sort(key=len)
        acc = per_term[0]
        for ids in per_term[1:]:
            acc = np.intersect1d(acc, ids, assume_unique=True)
            if acc.shape[0] == 0:
                break
        if deleted and acc.shape[0]:
            acc = acc[~np.isin(acc, np.fromiter(deleted, dtype=np.int64))]
        return pd.DataFrame(
            {
                "doc_bucket": np.full(acc.shape[0], int(pdf["doc_bucket"].iloc[0]), dtype=np.int32),
                "doc_id": acc,
            }
        )

    return reader.map_buckets(blocks, intersect, "doc_bucket int, doc_id long")


def near_tf_col(toks, terms: list[str], slop: int):
    """Proximity pseudo-term tf: the number of start offsets ``i`` whose
    window ``toks[i .. i+w-1]`` (w = |distinct terms| + slop) contains ALL
    of ``terms`` in any order.  slop=0 ≡ unordered adjacency; overlapping
    windows are all counted (deterministic, mirrored by the SQL oracle).
    Pure JVM higher-order functions — no UDF in the verify."""
    uniq = sorted(set(terms))
    w = len(uniq) + slop
    # clamp the window to the doc: a short doc containing all terms still
    # matches (its only window is the whole doc)
    w_eff = F.least(F.lit(w), F.size(toks))
    starts = F.sequence(F.lit(1), F.size(toks) - w_eff + F.lit(1))
    guarded = F.when(F.size(toks) >= len(uniq), starts).otherwise(
        F.array().cast("array<int>")
    )

    def is_match(i):
        win = F.slice(toks, i, w_eff)
        return F.forall(
            F.lit(uniq), lambda t: F.exists(win, lambda x: x == t)
        )

    return F.size(F.filter(guarded, is_match)).cast("int")


def phrase_search(reader, phrase_text: str, k: int = 10) -> DataFrame:
    """Top-k BM25 phrase search: (doc_id, ptf, score), (score DESC,
    doc_id ASC).  Empty phrase, OOV term, no occurrence, or k<=0 → 0 rows
    (reference guard semantics, /root/reference/index.go:54-56)."""
    terms = tokenize(phrase_text)
    return _pseudo_term_search(
        reader, terms, lambda texts: phrase_tf_np(texts, terms), k
    )


def near_search(reader, query_text: str, slop: int = 2, k: int = 10) -> DataFrame:
    """Top-k BM25 proximity search: docs where all query terms co-occur
    within a window of |distinct terms| + slop tokens, scored as one
    pseudo-term (tf = matching-window count, df = matching-doc count).
    Same prune-then-verify plan as phrase_search."""
    terms = tokenize(query_text)
    return _pseudo_term_search(
        reader, terms, lambda texts: near_tf_np(texts, terms, slop), k
    )


def _verify_stage(joined, kernel) -> DataFrame:
    """Arrow-vectorized positional verify: ``joined`` = (doc_id, text) →
    (doc_id, ptf, dl) for docs with ptf ≥ 1.  ONE ``mapInPandas`` stage:
    each Arrow batch tokenizes once (analyzer.tokenize_arrow) and counts
    matches vectorized (functions.positional) — no per-row Python, no
    pushdown hazard (mapInPandas is opaque to Catalyst, so the old
    persist-barrier against positional-expression pushdown is moot)."""

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ptf, dl = kernel(pdf["text"])
            keep = ptf >= 1
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[keep],
                    "ptf": ptf[keep],
                    "dl": dl[keep],
                }
            )

    return joined.mapInPandas(gen, "doc_id long, ptf int, dl int")


def _minus_gone(reader, docs: DataFrame) -> DataFrame:
    """Drop docs the index no longer serves from a flat staged-docs scan:
    live tombstones (logical deletes) plus the purged ledger (physical
    purge removes postings during compaction but leaves the staged doc
    files in place).  Broadcast anti-join — never an ``isin`` literal
    list (delete sets are thousands-to-millions of ids).  The gone-ids
    DataFrame is built ONCE per reader snapshot from a numpy array
    (wand.IndexReader.gone_ids_df), not re-serialized through the driver
    as Python row tuples on every dense query."""
    gone_df = reader.gone_ids_df()
    if gone_df is None:
        return docs
    return docs.join(F.broadcast(gone_df), "doc_id", "left_anti")


def _df_from_idf(n_docs: int, idf: float) -> float:
    """Invert the BM25 idf convention back to df (heuristics only)."""
    import math

    return (n_docs + 1.0) / math.exp(idf) - 0.5


def _pseudo_term_search(reader, terms: list[str], kernel, k: int) -> DataFrame:
    """Shared prune-then-verify engine for pseudo-term operators (phrase,
    proximity): conjunctive candidates from the index → partition-pruned
    Arrow-vectorized positional verify (``kernel(texts) -> (ptf, dl)``) →
    BM25 with the pseudo-term's (tf, df)."""
    spark = reader.spark
    if k <= 0 or not terms:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    uniq = sorted(set(terms))
    dict_rows = reader._dictionary_rows(uniq)
    if len(dict_rows) < len(uniq):  # OOV term → no doc can match
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    n_docs = int(reader.stats["n_docs"])
    min_df = min(_df_from_idf(n_docs, idf) for idf, _ in dict_rows.values())

    cands = None
    if min_df >= DENSE_SKIP_FRAC * n_docs:
        # Head-only query: every posting list is ≥ half the corpus, so the
        # conjunctive intersect decodes ~everything to prune <half of the
        # verify input — the flat corpus verify IS the cheaper plan (and
        # the scan-shaped one: no exchange at all before the verify).
        # Unlike the candidate path (whose doc set comes FROM the index),
        # the flat scan sees staged docs the index no longer serves:
        # tombstoned docs AND physically purged ones (purge removes
        # postings, not staged doc files) — exclude both.
        joined = _minus_gone(reader, reader.doc_source().select("doc_id", "text"))
    else:
        cands = conjunctive_doc_ids(reader, terms)
        if cands is None:
            return spark.createDataFrame([], _EMPTY_SCHEMA)
        cands = cands.cache()
        # ONE job yields both the candidate count and the bucket list
        # (phrase queries are multi-job by nature; don't add more).  The
        # collect is CAPPED: past MAX_BUCKET_LIST buckets the list prunes
        # nothing and would be driver-sized, so the verify runs unpruned.
        per_bucket = (
            cands.groupBy("doc_bucket").count().limit(MAX_BUCKET_LIST + 1).collect()
        )
        if not per_bucket:
            cands.unpersist()
            return spark.createDataFrame([], _EMPTY_SCHEMA)
        capped = len(per_bucket) > MAX_BUCKET_LIST
        n_cand = None if capped else sum(int(r["count"]) for r in per_bucket)
        # docs scan pruned to the units that contain candidates (unit is
        # the staged layout's partition dir = pmod(doc_bucket, n_units))
        buckets = None if capped else [int(r["doc_bucket"]) for r in per_bucket]
        docs = reader.doc_source(buckets=buckets).select("doc_id", "text")
        cand_ids = cands.select("doc_id")
        if n_cand is not None and n_cand <= BROADCAST_CANDIDATES_MAX:
            cand_ids = F.broadcast(cand_ids)
        joined = docs.join(cand_ids, "doc_id")
    try:
        verified = _verify_stage(joined, kernel).cache()
        try:
            df_phrase = verified.count()
            if df_phrase == 0:
                return spark.createDataFrame([], _EMPTY_SCHEMA)
            # idf in CPython from (N, df): bit-identical to the oracle's
            # correctly-rounded libm ln (wand._dictionary_rows convention)
            avgdl = float(reader.stats["avgdl"])
            idf = oracle_idf(n_docs, df_phrase)
            scored = verified.select(
                "doc_id",
                "ptf",
                term_score_col(
                    F.col("ptf"), F.col("dl"), F.lit(avgdl), F.lit(idf)
                ).alias("score"),
            )
            out = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            # materialize before the caches unpersist under it
            rows = out.collect()
            return spark.createDataFrame(rows, schema=out.schema) if rows else spark.createDataFrame([], _EMPTY_SCHEMA)
        finally:
            verified.unpersist()
    finally:
        if cands is not None:
            cands.unpersist()


def phrase_tf_dyn_col(toks, terms_col):
    """Column-parameterized JVM twin of :func:`phrase_tf_col` (the phrase
    arrives as an ``array<string>`` COLUMN).  TEST-ONLY SEMANTIC PIN: the
    production batch verify runs the numpy kernels in mapInPandas
    closures (:func:`_pseudo_term_batch`) — higher-order-function lambdas
    are interpreted, measured ~10× the tokenize cost — and this
    expression exists so property tests can pin the kernels against an
    independent JVM implementation."""
    w = F.size(terms_col)
    starts = F.sequence(F.lit(1), F.size(toks) - w + F.lit(1))
    guarded = F.when(F.size(toks) >= w, starts).otherwise(
        F.array().cast("array<int>")
    )

    def is_match(i):
        return F.aggregate(
            F.sequence(F.lit(0), w - F.lit(1)),
            F.lit(True),
            lambda acc, j: acc
            & (
                F.element_at(toks, (i + j).cast("int"))
                == F.element_at(terms_col, (j + 1).cast("int"))
            ),
        )

    return F.size(F.filter(guarded, is_match)).cast("int")


def phrase_batch(reader, queries: list[tuple[str, str]], k: int = 10) -> DataFrame:
    """Batched exact phrase search: ``queries`` = [(query_id, phrase_text)]
    → (query_id, rank, doc_id, score, ptf), the batch analogue of
    :func:`phrase_search` (serving is batched — BENCH.md).

    The batch shares the single-query plan's two stages instead of running
    them per query:

    1. ONE partition-pruned, term-pushed posting scan over the union of
       every phrase's terms + ONE exchange sized to the true bucket count;
       per bucket each term decodes ONCE for the whole batch, then the
       per-query conjunctive intersection loops queries (the
       boolean_batch / wand.batch_search shape).
    2. ONE ``mapInPandas`` positional verify: each Arrow batch of
       (query, candidate, text) rows tokenizes once per row group
       (analyzer.tokenize_arrow) and counts matches with the numpy
       shifted-slice kernels (functions/positional) — per-query terms and
       slop live in driver-sized kernel closures, never a join column.
       The interpreted JVM higher-order-function twins
       (:func:`phrase_tf_dyn_col` / :func:`near_tf_dyn_col`) stay as
       property-test semantic pins only.

    Per-query semantics are unchanged: empty/OOV phrase or no occurrence
    → 0 rows for that query only.  df (and so idf) per query comes from
    one small grouped count, and the final merge is the hierarchical
    exact top-k (wand.ranked_topk), ptf carried through.
    """
    parsed = {qid: tokenize(text) for qid, text in queries}
    specs = {qid: t for qid, t in parsed.items() if t}
    return _pseudo_term_batch(
        reader,
        specs,
        # ORDERED terms (dups kept): phrase matching is positional.
        # Kernels take the PRE-TOKENIZED flat_tokens triple so verify
        # stages tokenize each Arrow batch once for the whole query set.
        kernels={
            qid: (lambda fdl, t=t: phrase_tf_from_flat(*fdl, t))
            for qid, t in specs.items()
        },
        k=k,
    )


def near_batch(
    reader, queries: list[tuple[str, str, int]], k: int = 10
) -> DataFrame:
    """Batched proximity search: ``queries`` = [(query_id, text, slop)] →
    (query_id, rank, doc_id, score, ptf) — :func:`near_search` semantics
    per query (all distinct terms co-occur within |terms|+slop tokens,
    scored as one pseudo-term), batched exactly like :func:`phrase_batch`:
    one shared pruned posting scan, one shared tokenize-once mapInPandas
    verify running each query's numpy window kernel (per-query terms AND
    slop live in the kernel closures, not the plan)."""
    parsed = {qid: (tokenize(text), int(slop)) for qid, text, slop in queries}
    specs = {qid: t for qid, (t, _) in parsed.items() if t}
    return _pseudo_term_batch(
        reader,
        specs,
        kernels={
            qid: (
                lambda fdl, t=t, s=parsed[qid][1]: near_tf_from_flat(
                    *fdl, t, s
                )
            )
            for qid, t in specs.items()
        },
        k=k,
    )


def near_tf_dyn_col(toks, uniq_col, slop_col):
    """Column-parameterized JVM twin of :func:`near_tf_col` (distinct
    terms and slop arrive as COLUMNS).  TEST-ONLY SEMANTIC PIN — see
    :func:`phrase_tf_dyn_col`; production batches run the numpy window
    kernel (functions/positional.near_tf_from_flat).  ``uniq_col`` must
    hold the query's DISTINCT terms (the window width is
    |distinct terms| + slop, as in the literal form)."""
    w = F.size(uniq_col) + slop_col
    w_eff = F.least(w, F.size(toks))
    starts = F.sequence(F.lit(1), F.size(toks) - w_eff + F.lit(1))
    guarded = F.when(F.size(toks) >= F.size(uniq_col), starts).otherwise(
        F.array().cast("array<int>")
    )

    def is_match(i):
        win = F.slice(toks, i, w_eff)
        return F.forall(uniq_col, lambda t: F.exists(win, lambda x: x == t))

    return F.size(F.filter(guarded, is_match)).cast("int")


def _pseudo_term_batch(
    reader,
    parsed: dict[str, list[str]],
    kernels: dict,
    k: int,
) -> DataFrame:
    """Shared batched prune-then-verify engine (phrase_batch, near_batch):
    ``parsed`` maps query_id → conjunctive candidate terms; ``kernels``
    maps query_id → the Arrow-vectorized positional counting kernel over
    a PRE-TOKENIZED batch (``(flat, di, dl) -> ptf``), evaluated inside
    the shared ``mapInPandas`` verify stages — per-query terms/slop live
    in the kernel closures (driver-sized: ≤ batch terms), not a join, and
    each Arrow batch tokenizes ONCE no matter how many queries consume
    it."""
    from .wand import ranked_topk

    spark = reader.spark
    empty = "query_id string, rank int, doc_id bigint, score double, ptf int"
    if k <= 0 or not parsed:
        return spark.createDataFrame([], empty)
    all_terms = sorted({t for terms in parsed.values() for t in terms})
    dict_rows = reader._dictionary_rows(all_terms)
    specs = {
        qid: terms
        for qid, terms in parsed.items()
        if all(t in dict_rows for t in terms)  # OOV term → query matches 0
    }
    if not specs:
        return spark.createDataFrame([], empty)
    n_docs = int(reader.stats["n_docs"])
    deleted_small, deleted_bc = tombstones_ref(reader)
    # per-query dense split (same rule as _pseudo_term_search): queries
    # whose every term is in ≥ half the corpus skip candidate generation;
    # ONE flat corpus verify serves ALL dense queries of the batch
    dense_qids = {
        qid
        for qid, terms in specs.items()
        if min(_df_from_idf(n_docs, dict_rows[t][0]) for t in set(terms))
        >= DENSE_SKIP_FRAC * n_docs
    }
    sparse = {q: t for q, t in specs.items() if q not in dense_qids}
    vschema = "query_id string, doc_id long, ptf int, dl int"
    parts = []
    cands = None
    if sparse:
        needed = sorted({t for terms in sparse.values() for t in terms})
        blocks = reader.candidate_blocks(
            needed, [dict_rows[t][1] for t in needed]
        )
        uniq_by_q = {qid: sorted(set(terms)) for qid, terms in sparse.items()}

        def intersect_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            deleted = deleted_bc.value if deleted_bc is not None else deleted_small
            by_term = {t: decode_term(g)[0] for t, g in pdf.groupby("term")}
            bucket = int(pdf["doc_bucket"].iloc[0])
            outs = []
            for qid, uniq in uniq_by_q.items():
                per_term = [by_term[t] for t in uniq if t in by_term]
                if len(per_term) < len(uniq):
                    continue
                per_term.sort(key=len)
                acc = per_term[0]
                for ids in per_term[1:]:
                    acc = np.intersect1d(acc, ids, assume_unique=True)
                    if acc.shape[0] == 0:
                        break
                if deleted and acc.shape[0]:
                    acc = acc[~np.isin(acc, np.fromiter(deleted, dtype=np.int64))]
                if acc.shape[0]:
                    outs.append(
                        pd.DataFrame(
                            {"query_id": qid, "doc_bucket": np.int32(bucket), "doc_id": acc}
                        )
                    )
            if not outs:
                return pd.DataFrame(columns=["query_id", "doc_bucket", "doc_id"])
            return pd.concat(outs, ignore_index=True)

        cands = reader.map_buckets(
            blocks, intersect_batch, "query_id string, doc_bucket int, doc_id long"
        ).persist()
        per_bucket = (
            cands.groupBy("doc_bucket").count().limit(MAX_BUCKET_LIST + 1).collect()
        )
        if per_bucket:
            capped = len(per_bucket) > MAX_BUCKET_LIST
            # sum over (query, doc) rows upper-bounds the distinct docs
            n_cand = None if capped else sum(int(r["count"]) for r in per_bucket)
            buckets = None if capped else [int(r["doc_bucket"]) for r in per_bucket]
            docs = reader.doc_source(buckets=buckets).select("doc_id", "text")
            distinct_ids = cands.select("doc_id").distinct()
            if n_cand is not None and n_cand <= BROADCAST_CANDIDATES_MAX:
                distinct_ids = F.broadcast(distinct_ids)
            live = {qid: kernels[qid] for qid in sparse}

            def verify(batches):
                # one shared stage: group each Arrow batch by query and
                # run that query's vectorized counting kernel over the
                # group's pre-tokenized texts (groups are disjoint row
                # sets, so each (query, doc) row tokenizes exactly once)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    for qid, g in pdf.groupby("query_id", sort=False):
                        fdl = flat_tokens(g["text"])
                        ptf = live[qid](fdl)
                        keep = ptf >= 1
                        if not keep.any():
                            continue
                        yield pd.DataFrame(
                            {
                                "query_id": qid,
                                "doc_id": g["doc_id"].to_numpy()[keep],
                                "ptf": ptf[keep],
                                "dl": fdl[2][keep],
                            }
                        )

            parts.append(
                cands.select("query_id", "doc_id")
                .join(
                    docs.join(distinct_ids, "doc_id").select("doc_id", "text"),
                    "doc_id",
                )
                .mapInPandas(verify, vschema)
            )
    if dense_qids:
        # see _pseudo_term_search: the flat scan must drop tombstoned AND
        # purged docs (both absent from the index, present in staged docs)
        corpus = _minus_gone(reader, reader.doc_source().select("doc_id", "text"))
        dense_kernels = {qid: kernels[qid] for qid in sorted(dense_qids)}

        def verify_dense(batches):
            # every dense query evaluates against every doc — that IS the
            # flat plan; one corpus scan amortizes across the whole batch,
            # and each Arrow batch TOKENIZES once (flat_tokens), with only
            # the cheap counting kernels looping per query
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["doc_id"].to_numpy()
                fdl = flat_tokens(pdf["text"])
                for qid, kern in dense_kernels.items():
                    ptf = kern(fdl)
                    keep = ptf >= 1
                    if not keep.any():
                        continue
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "doc_id": ids[keep],
                            "ptf": ptf[keep],
                            "dl": fdl[2][keep],
                        }
                    )

        parts.append(corpus.mapInPandas(verify_dense, vschema))
    if not parts:
        if cands is not None:
            cands.unpersist()
        return spark.createDataFrame([], empty)
    verified = parts[0]
    for p in parts[1:]:
        verified = verified.unionByName(p)
    verified = verified.persist()
    try:
        try:
            dfs = {
                r["query_id"]: int(r["n"])
                for r in verified.groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if not dfs:
                return spark.createDataFrame([], empty)
            avgdl = float(reader.stats["avgdl"])
            idf_map = F.create_map(
                *[
                    lit
                    for qid, df_q in dfs.items()
                    for lit in (F.lit(qid), F.lit(oracle_idf(n_docs, df_q)))
                ]
            )
            scored = verified.select(
                "query_id",
                "doc_id",
                "ptf",
                term_score_col(
                    F.col("ptf"),
                    F.col("dl"),
                    F.lit(avgdl),
                    idf_map[F.col("query_id")],
                ).alias("score"),
            )
            # ranked_topk's cost bound assumes ≤ k rows per (query, doc
            # group); verified rows are ALL matches — a dense query can
            # match half the corpus, which would funnel through one window
            # task whenever n_buckets ≤ MERGE_FANOUT.  Pre-reduce to the
            # per-(query, doc_bucket) top-k first: each doc lives in
            # exactly one derived bucket, so every global winner is a
            # bucket winner — exactness preserved, ≤ doc_bucket_size rows
            # per window partition, parallelism = populated buckets.
            dbs = int(reader.stats["doc_bucket_size"])
            from pyspark.sql import Window

            pre = Window.partitionBy(
                "query_id", F.expr(f"doc_id DIV {dbs}")
            ).orderBy(F.desc("score"), F.asc("doc_id"))
            scored = (
                scored.withColumn("_br", F.row_number().over(pre))
                .filter(F.col("_br") <= k)
                .drop("_br")
            )
            out = ranked_topk(scored, k, reader.n_buckets, extra=("ptf",))
            rows = out.collect()  # ≤ k × |queries| — materialize pre-unpersist
            return (
                spark.createDataFrame(rows, schema=out.schema)
                if rows
                else spark.createDataFrame([], empty)
            )
        finally:
            verified.unpersist()
    finally:
        if cands is not None:
            cands.unpersist()


def phrase_count(reader, phrase_text: str) -> DataFrame:
    """(n_docs, n_occurrences) of the phrase across the corpus — the
    cheap EXISTS/count form of the same prune-then-verify plan."""
    spark = reader.spark
    terms = tokenize(phrase_text)
    empty = "n_docs bigint, n_occurrences bigint"
    if not terms:
        return spark.createDataFrame([(0, 0)], empty)
    uniq = sorted(set(terms))
    dict_rows = reader._dictionary_rows(uniq)
    if len(dict_rows) < len(uniq):  # OOV term → 0 matches
        return spark.createDataFrame([(0, 0)], empty)
    n_docs = int(reader.stats["n_docs"])
    min_df = min(_df_from_idf(n_docs, idf) for idf, _ in dict_rows.values())
    if min_df >= DENSE_SKIP_FRAC * n_docs:
        # head-only phrase: flat corpus verify (see _pseudo_term_search)
        row = (
            _verify_stage(
                _minus_gone(reader, reader.doc_source().select("doc_id", "text")),
                lambda texts: phrase_tf_np(texts, terms),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.coalesce(F.sum("ptf"), F.lit(0)).cast("bigint").alias("n_occurrences"),
            )
            .collect()[0]
        )
        return spark.createDataFrame(
            [(int(row["n_docs"]), int(row["n_occurrences"]))], empty
        )
    cands = conjunctive_doc_ids(reader, terms)
    if cands is None:
        return spark.createDataFrame([(0, 0)], empty)
    cands = cands.cache()
    try:
        per_bucket = (
            cands.groupBy("doc_bucket").count().limit(MAX_BUCKET_LIST + 1).collect()
        )
        if not per_bucket:
            return spark.createDataFrame([(0, 0)], empty)
        capped = len(per_bucket) > MAX_BUCKET_LIST
        n_cand = None if capped else sum(int(r["count"]) for r in per_bucket)
        buckets = None if capped else [int(r["doc_bucket"]) for r in per_bucket]
        docs = reader.doc_source(buckets=buckets).select("doc_id", "text")
        cand_ids = cands.select("doc_id")
        # broadcast gated on CANDIDATE rows, not bucket count — a head
        # phrase can pack millions of candidates into few buckets
        if n_cand is not None and n_cand <= BROADCAST_CANDIDATES_MAX:
            cand_ids = F.broadcast(cand_ids)
        row = (
            _verify_stage(
                docs.join(cand_ids, "doc_id"),
                lambda texts: phrase_tf_np(texts, terms),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.coalesce(F.sum("ptf"), F.lit(0)).cast("bigint").alias("n_occurrences"),
            )
            .collect()[0]
        )
        # eager 1-row result: lets the candidate cache release here instead
        # of leaking past the (lazy) return
        return spark.createDataFrame(
            [(int(row["n_docs"]), int(row["n_occurrences"]))], empty
        )
    finally:
        cands.unpersist()
