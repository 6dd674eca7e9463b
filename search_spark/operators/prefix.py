"""Prefix (term-expansion) search over the persisted index.

A fulltext engine needs `pref*` queries; the Spark-first construction is
dictionary expansion → disjunctive BM25 over the expanded terms:

1. **Expansion** — scan the dictionary with `startswith(term, prefix)`;
   Spark pushes `StringStartsWith` into the parquet scan, and the
   dictionary is written term-sorted within each term_bucket partition
   (indexer.finalize), so row-group min/max stats bound the scan to the
   groups intersecting the prefix range.  Expansion is capped at the top
   ``max_expansions`` terms by (df DESC, term ASC) — the Lucene-style
   "most frequent expansions" rule, deterministic and oracle-mirrorable.
2. **Scoring** — the expanded terms feed the standard batch scorer
   (wand.IndexReader.batch_search): pruned postings scan, one exchange,
   one per-bucket BM25 kernel.  Each expanded term keeps its own idf
   — a prefix query is exactly a disjunctive multi-term query.

The reference has no prefix operator (its dictionary is an in-memory map,
/root/reference/index.go); this is index-native functionality the Spark
layout gives nearly for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..analyzer import tokenize

#: cap on dictionary expansion — keeps the disjunctive query bounded no
#: matter how head-heavy the prefix (e.g. "t") is
MAX_EXPANSIONS = 64

_EMPTY_SCHEMA = "doc_id bigint, rank int, score double"


def expand_prefix(reader, prefix: str, max_expansions: int = MAX_EXPANSIONS) -> list[str]:
    """The top ``max_expansions`` dictionary terms starting with
    ``prefix`` (analyzer-normalized), by (df DESC, term ASC).  Driver-side
    list — bounded by the cap, never corpus-sized."""
    toks = tokenize(prefix)
    if not toks:
        return []
    norm = toks[0]
    rows = (
        reader._dict_df.filter(F.col("term").startswith(norm))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def prefix_search(
    reader, prefix: str, k: int = 10, max_expansions: int = MAX_EXPANSIONS
) -> DataFrame:
    """Top-k BM25 over all docs containing any expansion of ``prefix``:
    (doc_id, rank, score), (score DESC, doc_id ASC).  Empty/OOV prefix or
    k<=0 → 0 rows."""
    spark = reader.spark
    if k <= 0:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    terms = expand_prefix(reader, prefix, max_expansions)
    if not terms:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    # expansions are analyzer tokens, so they round-trip through the
    # batch scorer's tokenize unchanged; column order pinned to match
    # the empty path's schema
    return (
        reader.batch_search([("q", " ".join(terms))], k)
        .select("doc_id", "rank", "score")
    )


def suggest_terms(
    reader, prefix: str, n: int = 8
) -> DataFrame:
    """Autocomplete: (term, df) for the top ``n`` dictionary terms under
    ``prefix`` by (df DESC, term ASC) — the expansion rule surfaced as a
    user-facing suggestion list (pure dictionary read, same pruned scan
    as expand_prefix)."""
    spark = reader.spark
    toks = tokenize(prefix)
    if not toks or n <= 0:
        return spark.createDataFrame([], "term string, df bigint")
    return (
        reader._dict_df.filter(F.col("term").startswith(toks[0]))
        .select("term", F.col("df").cast("bigint").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def expand_prefix_multi(
    reader, prefixes: list[str], max_expansions: int = MAX_EXPANSIONS
) -> dict[str, list[str]]:
    """Per-prefix expansions in ONE dictionary scan: the (tiny) prefix set
    broadcast-joins the vocabulary under a ``startswith`` predicate, then a
    per-prefix window keeps the top ``max_expansions`` by (df DESC, term
    ASC) — the same rule as :func:`expand_prefix`, amortized over N
    prefixes.  The multi-prefix predicate can't push a single
    StringStartsWith into the scan, but the dictionary is the metadata
    table (tiny next to postings) and N prefixes cost one scan, not N."""
    pfx = sorted({p for p in prefixes if p})
    if not pfx:
        return {}
    spark = reader.spark
    pfx_df = spark.createDataFrame([(p,) for p in pfx], "qpfx string")
    w = Window.partitionBy("qpfx").orderBy(F.desc("df"), F.asc("term"))
    rows = (
        reader._dict_df.join(F.broadcast(pfx_df), F.col("term").startswith(F.col("qpfx")))
        .select("qpfx", "term", "df")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_expansions)
        .collect()
    )
    out: dict[str, list[str]] = {p: [] for p in pfx}
    for r in sorted(rows, key=lambda r: (r["qpfx"], -int(r["df"]), r["term"])):
        out[r["qpfx"]].append(r["term"])
    return out


def prefix_batch(
    reader,
    queries: list[tuple[str, str]],
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Batched prefix search: ``queries`` = [(query_id, prefix)] →
    (query_id, rank, doc_id, score) — :func:`prefix_search` semantics per
    query through the amortized shape shared by fuzzy_batch /
    phrase_batch / boolean_batch: ONE dictionary-expansion scan for all
    prefixes (:func:`expand_prefix_multi`), then ONE pruned posting scan
    + exchange through the shared batch scorer, where expansions shared
    across queries decode once per bucket for the whole batch.

    Both halves are driver-gate-verified independently (the expansion
    rule by prefix_topk/suggest_terms, the batch scorer by the
    *_batch entries); tests/test_prefix.py pins this composition
    rank+score-identical to per-query prefix_search."""
    spark = reader.spark
    empty = "query_id string, rank int, doc_id bigint, score double"
    if k <= 0 or not queries:
        return spark.createDataFrame([], empty)
    norm_by_q: dict[str, str] = {}
    for qid, text in queries:
        toks = tokenize(text)
        if toks:
            norm_by_q[qid] = toks[0]
    per_pfx = expand_prefix_multi(
        reader, sorted(set(norm_by_q.values())), max_expansions
    )
    batch = [
        (qid, " ".join(per_pfx[p])) for qid, p in norm_by_q.items() if per_pfx.get(p)
    ]
    if not batch:
        return spark.createDataFrame([], empty)
    return reader.batch_search(batch, k)


#: per-token cap for fuzzy expansion (tighter than prefix: distance-1
#: neighborhoods are small, distance-2 can explode on short tokens)
MAX_FUZZY_EXPANSIONS = 16


def expand_fuzzy_multi(
    reader,
    tokens: list[str],
    max_dist: int = 1,
    max_expansions: int = MAX_FUZZY_EXPANSIONS,
) -> dict[str, list[str]]:
    """Per-token Levenshtein neighborhoods in ONE dictionary scan: the
    (tiny) token set broadcast-joins the vocabulary under a
    length-band + levenshtein predicate, then a per-token window keeps
    the top ``max_expansions`` by (df DESC, term ASC).

    Levenshtein can't push into parquet, but the dictionary is the
    metadata table (parallel, columnar, tiny next to postings) and this
    form scans it once for ANY number of query tokens.  At extreme vocab
    scale an n-gram index over the dictionary would pre-select
    candidates; not warranted here.
    """
    toks = sorted({t for t in tokens if t})
    if not toks:
        return {}
    spark = reader.spark
    tok_df = spark.createDataFrame([(t,) for t in toks], "qtok string")
    cond = (
        F.abs(F.length("term") - F.length("qtok")) <= max_dist
    ) & (F.levenshtein(F.col("term"), F.col("qtok")) <= max_dist)
    w = Window.partitionBy("qtok").orderBy(F.desc("df"), F.asc("term"))
    rows = (
        reader._dict_df.join(F.broadcast(tok_df), cond)
        .select("qtok", "term", "df")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_expansions)
        .collect()
    )
    out: dict[str, list[str]] = {t: [] for t in toks}
    for r in sorted(rows, key=lambda r: (r["qtok"], -int(r["df"]), r["term"])):
        out[r["qtok"]].append(r["term"])
    return out


def expand_fuzzy(
    reader, term: str, max_dist: int = 1, max_expansions: int = MAX_FUZZY_EXPANSIONS
) -> list[str]:
    """Dictionary terms within Levenshtein distance ``max_dist`` of
    ``term`` (analyzer-normalized), top ``max_expansions`` by
    (df DESC, term ASC)."""
    toks = tokenize(term)
    if not toks:
        return []
    return expand_fuzzy_multi(reader, [toks[0]], max_dist, max_expansions).get(
        toks[0], []
    )


def fuzzy_search(
    reader,
    query_text: str,
    max_dist: int = 1,
    k: int = 10,
    max_expansions: int = MAX_FUZZY_EXPANSIONS,
) -> DataFrame:
    """Typo-tolerant top-k BM25: each query token expands to its
    distance-``max_dist`` dictionary neighborhood (per-token cap), the
    union scores as a disjunctive query.  (doc_id, rank, score)."""
    spark = reader.spark
    if k <= 0:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    per_tok = expand_fuzzy_multi(
        reader, sorted(set(tokenize(query_text))), max_dist, max_expansions
    )
    expanded = sorted({t for terms in per_tok.values() for t in terms})
    if not expanded:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    return (
        reader.batch_search([("q", " ".join(expanded))], k)
        .select("doc_id", "rank", "score")
    )


def fuzzy_batch(
    reader,
    queries: list[tuple[str, str]],
    max_dist: int = 1,
    k: int = 10,
    max_expansions: int = MAX_FUZZY_EXPANSIONS,
) -> DataFrame:
    """Batched fuzzy search: ``queries`` = [(query_id, text)] →
    (query_id, rank, doc_id, score) — :func:`fuzzy_search` semantics per
    query, amortized like the other batch forms (phrase_batch /
    near_batch / boolean_batch):

    1. ONE dictionary-expansion scan for the UNION of every query's
       tokens (expand_fuzzy_multi already joins the token set against the
       vocabulary in a single job — N queries cost one scan, not N);
    2. ONE pruned posting scan + exchange through the shared batch scorer
       (wand.IndexReader.batch_search), where expansions that several
       queries share decode once per bucket for the whole batch.

    Per-query semantics unchanged: a query whose every token has an empty
    neighborhood contributes 0 rows; per-token neighborhoods keep their
    own (df DESC, term ASC) caps."""
    spark = reader.spark
    if k <= 0 or not queries:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id bigint, score double"
        )
    toks_by_q = {qid: sorted(set(tokenize(text))) for qid, text in queries}
    all_toks = sorted({t for ts in toks_by_q.values() for t in ts})
    per_tok = expand_fuzzy_multi(reader, all_toks, max_dist, max_expansions)
    batch = []
    for qid, ts in toks_by_q.items():
        expanded = sorted({e for t in ts for e in per_tok.get(t, [])})
        if expanded:
            batch.append((qid, " ".join(expanded)))
    if not batch:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id bigint, score double"
        )
    return reader.batch_search(batch, k)
