"""Hybrid retrieval: BM25 ∪ embedding-cosine candidates fused by
Reciprocal Rank Fusion (RRF, Cormack et al. 2009).

The reference engine's core operation is cosine top-k over embedded text
(/root/reference/index.go:52-86); the north-star engine adds exact BM25
top-k.  A production retrieval stack runs BOTH and fuses —
``rrf(doc) = Σ_lists 1/(k0 + rank_list(doc))`` — because rank-based fusion
needs no score normalization between incomparable scales (BM25 sums vs
cosines).  k0=60 is the canonical constant from the paper.

Scale shape: fusion consumes the top-k LISTS (k rows per retriever per
query — thousands of rows at any corpus size), never the corpora; the
heavy lifting already happened inside each retriever (pruned postings scan,
LSH-bucketed ANN).  The fuse itself is a union + one tiny hash-aggregate +
window top-k: driver-light, broadcast-free, and identical at 10^12 docs.

Determinism: ranks are ints, 1/(k0+rank) is exact double arithmetic with
a fixed summation ORDER (bm25 term + cosine term — not a float reduce over
an arbitrary list), so Spark and DuckDB produce bit-identical sums; ties
in the fused ordering break on doc_id ASC like every other top-k in the
repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K0 = 60


def rrf_fuse_two(
    bm25: DataFrame,
    cosine: DataFrame,
    k: int = 10,
    k0: int = RRF_K0,
    exclude: frozenset | None = None,
) -> DataFrame:
    """Fuse a BM25 top-k list and a cosine top-k list into one ranking.

    ``bm25``: (doc_id, rank) — rank 1-based, from the BM25 engine.
    ``cosine``: (doc_id, rank) — rank 1-based, from the ANN engine (vec_id
    aliased to doc_id by the caller; the corpus contract aligns them).

    Output (doc_id, rank, rrf_micro): top-``k`` by
    ``round(1e6 · (1/(k0+r_bm25) + 1/(k0+r_cos)))`` where a missing list
    contributes 0 — computed via a full outer join so each side's
    reciprocal is added exactly once in a FIXED order (deterministic
    doubles across engines; a sum() over unioned rows would leave the
    addition order to the aggregate).

    DELETION CAVEAT: fusion consumes whatever lists the retrievers
    produce.  The BM25 side respects index tombstones, but the ANN side
    reads the embeddings table directly — a doc deleted from the text
    index can resurface through its still-present vector.  Pass
    ``exclude`` (e.g. ``reader.deleted``) to drop those ids from BOTH
    lists before fusion; the durable fix is deleting the vectors too.
    """
    b = bm25.select("doc_id", F.col("rank").alias("r_bm25"))
    c = cosine.select("doc_id", F.col("rank").alias("r_cos"))
    if exclude:
        # broadcast anti-join, not an isin literal list: delete sets are
        # blessed up to millions of ids, where planning a multi-million-
        # literal Catalyst In expression would stall/OOM the driver
        ids_df = F.broadcast(
            bm25.sparkSession.createDataFrame(
                [(int(d),) for d in sorted(exclude)], "doc_id bigint"
            )
        )
        b = b.join(ids_df, "doc_id", "left_anti")
        c = c.join(ids_df, "doc_id", "left_anti")
    fused = (
        b.join(c, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(F.lit(1.0) / (F.lit(float(k0)) + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(float(k0)) + F.col("r_cos")), F.lit(0.0)),
        )
        .select(
            "doc_id",
            F.round(F.col("rrf") * 1e6).cast("bigint").alias("rrf_micro"),
        )
    )
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "rrf_micro")
    )
