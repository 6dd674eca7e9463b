"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Engine under test: ``search_spark`` — a PySpark-native BM25 inverted-index
build + query engine (SURVEY.md).  Float scores cross the comparison
boundary as integer micro-units on both sides (see search_spark/oracle_sql.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from search_spark import oracle_sql as osql
from search_spark.analyzer import sql_tokens, tokenize, tokens_col
from search_spark.corpus import (
    SQL_TRANSCRIPTS_FROM_DOCUMENTS,
    TURNS_PER_CONV,
    transcripts_from_documents,
)
from search_spark.operators.build import build_df_index, score_query_df
from search_spark.operators.docids import assign_doc_ids
from search_spark.sources.queryset import load_queryset_py

# Fixed query strings over the documents vocabulary (see /root/testdata).
Q_HEAD = "the fast scan"
Q_MIX = "merge window customer batch"
Q_RARE = "vector stream spark"

_TOPK = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def _bm25_topk(spark: SparkSession, sf_dir: str, query_text: str, k: int = _TOPK,
               docs: DataFrame | None = None) -> DataFrame:
    """Top-k BM25: (doc_id, rank, score_micro), rank over rounded score."""
    idx = build_df_index(docs if docs is not None else _docs(spark, sf_dir), assign_ids=False)
    scored = score_query_df(idx, tokenize(query_text))
    micro = scored.select(
        "doc_id", F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro")
    )
    topk = micro.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(k)
    # rank runs AFTER limit(k): the window input is ≤ k rows by design, so
    # the single-partition WindowExec warning is benign here (a literal
    # partition key doesn't silence it — Catalyst folds it away).
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "rank", "score_micro"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over sf0.001 documents via the DF-native engine."""
    return _bm25_topk(spark, "/root/testdata/sf0.001", Q_MIX)


# ---------------------------------------------------------------------------
# queries / oracle_sql registry
# ---------------------------------------------------------------------------

def _q_bm25_head(spark, sf_dir):
    return _bm25_topk(spark, sf_dir, Q_HEAD)


def _q_bm25_mix(spark, sf_dir):
    return _bm25_topk(spark, sf_dir, Q_MIX)


def _q_bm25_rare(spark, sf_dir):
    return _bm25_topk(spark, sf_dir, Q_RARE)


def _q_bm25_transcripts(spark, sf_dir):
    """Full pipeline over the transcript-shaped view: derive transcripts,
    re-assign stable doc_ids via the two-phase operator, index, query."""
    tr = transcripts_from_documents(spark, sf_dir)
    docs = assign_doc_ids(tr).select("doc_id", "text")
    return _bm25_topk(spark, sf_dir, Q_MIX, docs=docs)


def _q_doc_ids_stable(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    return assign_doc_ids(tr).select("conv_id", "turn_idx", "doc_id")


def _q_dictionary(spark, sf_dir):
    idx = build_df_index(_docs(spark, sf_dir), assign_ids=False)
    return (
        idx.dictionary.orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
        .select("term", "df", F.col("cf").cast("bigint").alias("cf"))
    )


def _q_corpus_stats(spark, sf_dir):
    """Fully declarative (one plan, no driver-side actions): doc-level and
    posting-level aggregates crossJoined — Catalyst runs both branches and
    a 1×1 join."""
    docs = _docs(spark, sf_dir).withColumn("toks", tokens_col("text"))
    dl = docs.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .count()
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
        F.round(F.avg("dl") * 1e6).cast("bigint").alias("avgdl_micro"),
    )
    tf_stats = tf.agg(
        F.countDistinct("term").alias("vocab"),
        F.count("*").alias("postings"),
    )
    return stats.crossJoin(tf_stats)


def _q_doclens(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", F.size(tokens_col("text")).cast("int").alias("dl"))


_READER_CACHE: dict[str, object] = {}


def _wand_reader(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the persisted block-max index over the
    transcript-shaped corpus and return an IndexReader.  doc_id assignment
    over the derived transcripts reproduces documents.doc_id (fixed-width
    conv_id keeps lexicographic == numeric order), so results compare
    against the same SQL oracle as the DF-native path."""
    from search_spark.operators.indexer import build_index
    from search_spark.operators.wand import IndexReader
    from search_spark.sources.index_store import IndexStore

    if sf_dir not in _READER_CACHE:
        import tempfile

        root = tempfile.mkdtemp(prefix="search_spark_idx_")
        store = IndexStore(root, doc_bucket_size=2048, term_buckets=8)
        tr = transcripts_from_documents(spark, sf_dir)
        build_index(spark, tr, store, n_units=2)
        _READER_CACHE[sf_dir] = IndexReader(spark, store)
    return _READER_CACHE[sf_dir]


def _wand_topk(spark: SparkSession, sf_dir: str, query_text: str, k: int = _TOPK) -> DataFrame:
    reader = _wand_reader(spark, sf_dir)
    res = reader.batch_search([("q", query_text)], k)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


def _q_wand_head(spark, sf_dir):
    return _wand_topk(spark, sf_dir, Q_HEAD)


def _q_wand_mix(spark, sf_dir):
    return _wand_topk(spark, sf_dir, Q_MIX)


def _q_wand_batch(spark, sf_dir):
    reader = _wand_reader(spark, sf_dir)
    res = reader.batch_search([("h", Q_HEAD), ("m", Q_MIX), ("r", Q_RARE)], _TOPK)
    return res.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


import os as _os

QUERYSET_PATH = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "fixtures", "queries.tsv"
)


def _q_wand_queryset(spark, sf_dir):
    """The reference-eval shape end-to-end: load the checked-in TSV query
    set (SURVEY.md §2.3 #23, loadSICK analogue) and batch-search all of it
    against the persisted index."""
    from search_spark.sources.queryset import load_queryset

    reader = _wand_reader(spark, sf_dir)
    queries = load_queryset(spark, QUERYSET_PATH)
    res = reader.batch_search(queries, _TOPK)
    return res.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


#: gate phrase queries over the documents vocabulary (bigram df≈46 and
#: trigram df≈7 at sf0.01 — one head-ish, one selective)
Q_PHRASE = "table hash"
Q_PHRASE_LONG = "part filter scan"


def _phrase_topk(spark: SparkSession, sf_dir: str, phrase: str, k: int = _TOPK) -> DataFrame:
    """Exact phrase search off the persisted index (operators/phrase.py):
    conjunctive posting-intersection candidates → pruned-scan positional
    verify → BM25 with the phrase as one pseudo-term."""
    from search_spark.operators.phrase import phrase_search

    reader = _wand_reader(spark, sf_dir)
    res = phrase_search(reader, phrase, k)
    micro = res.select(
        "doc_id",
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
        F.col("ptf").cast("int").alias("ptf"),
    )
    # ≤ k rows here (search already top-k'd): single-partition rank by design
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "rank", "score_micro", "ptf"
    )


def _q_phrase(spark, sf_dir):
    return _phrase_topk(spark, sf_dir, Q_PHRASE)


def _q_phrase_long(spark, sf_dir):
    return _phrase_topk(spark, sf_dir, Q_PHRASE_LONG)


def _q_phrase_count(spark, sf_dir):
    from search_spark.operators.phrase import phrase_count

    return phrase_count(_wand_reader(spark, sf_dir), Q_PHRASE)


#: batched phrase set: the two gate phrases plus a third unseen bigram
PHRASE_BATCH = [("p1", Q_PHRASE), ("p2", Q_PHRASE_LONG), ("p3", "fast scan")]

#: batched proximity set: the gate near query at two slops + a third pair
NEAR_BATCH = [("n1", "table hash", 3), ("n2", "table hash", 0), ("n3", "merge stream", 2)]


def _q_near_batch(spark, sf_dir):
    """N proximity queries in ONE shared-scan job (operators/phrase.
    near_batch): per-query terms AND slop live in the verify kernels'
    closures, one tokenize-once positional verify for the whole batch."""
    from search_spark.operators.phrase import near_batch

    res = near_batch(_wand_reader(spark, sf_dir), NEAR_BATCH, _TOPK)
    micro = res.select(
        "query_id",
        "doc_id",
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
        F.col("ptf").cast("int").alias("ptf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "query_id", "doc_id", "rank", "score_micro", "ptf"
    )


def _q_phrase_batch(spark, sf_dir):
    """N phrase queries in ONE shared-scan job (operators/phrase.
    phrase_batch): union-of-terms pruned posting scan, per-bucket decode
    shared across phrases, one positional verify over the distinct
    candidate docs, hierarchical exact top-k merge."""
    from search_spark.operators.phrase import phrase_batch

    res = phrase_batch(_wand_reader(spark, sf_dir), PHRASE_BATCH, _TOPK)
    micro = res.select(
        "query_id",
        "doc_id",
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
        F.col("ptf").cast("int").alias("ptf"),
    )
    # rank over ROUNDED scores (the oracle convention) — k rows per query
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "query_id", "doc_id", "rank", "score_micro", "ptf"
    )


#: proximity gate query: terms co-occur within |terms|+slop tokens
Q_NEAR = "table hash"
NEAR_SLOP = 3


def _q_near(spark, sf_dir):
    """Proximity (slop) search — pseudo-term BM25 like phrase, windowed
    unordered co-occurrence instead of exact adjacency."""
    from search_spark.operators.phrase import near_search

    res = near_search(_wand_reader(spark, sf_dir), Q_NEAR, NEAR_SLOP, _TOPK)
    micro = res.select(
        "doc_id",
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
        F.col("ptf").cast("int").alias("ptf"),
    )
    # ≤ k rows here (search already top-k'd): single-partition rank by design
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "rank", "score_micro", "ptf"
    )


#: prefix gate query — expands to several corpus terms
Q_PREFIX = "fi"


def _q_prefix(spark, sf_dir):
    """Prefix search (operators/prefix.py): capped dictionary expansion →
    disjunctive BM25 through the standard batch scorer."""
    from search_spark.operators.prefix import prefix_search

    res = prefix_search(_wand_reader(spark, sf_dir), Q_PREFIX, _TOPK)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


#: fuzzy gate query — two distance-1 typos of corpus terms (plain
#: Levenshtein: transpositions like "tabel" cost 2, deletions cost 1)
Q_FUZZY = "tble hashh"


def _q_fuzzy(spark, sf_dir):
    """Fuzzy search (operators/prefix.fuzzy_search): per-token Levenshtein
    dictionary neighborhoods → disjunctive BM25."""
    from search_spark.operators.prefix import fuzzy_search

    res = fuzzy_search(_wand_reader(spark, sf_dir), Q_FUZZY, 1, _TOPK)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


#: batched fuzzy set: the gate typo pair, a single-typo head term, and a
#: typo of a rarer term — three expansion shapes through one shared scan
FUZZY_BATCH = [("f1", Q_FUZZY), ("f2", "fastt"), ("f3", "mergge windoww")]


def _q_fuzzy_batch(spark, sf_dir):
    """N fuzzy queries in ONE shared dictionary-expansion scan + ONE
    posting scan (operators/prefix.fuzzy_batch) — the batch form the
    other fulltext operators already have."""
    from search_spark.operators.prefix import fuzzy_batch

    res = fuzzy_batch(_wand_reader(spark, sf_dir), FUZZY_BATCH, 1, _TOPK)
    return res.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


#: batched prefix set: the gate prefix, a second two-letter prefix, and a
#: one-letter prefix that expands to several dictionary terms
PREFIX_BATCH = [("p1", Q_PREFIX), ("p2", "fa"), ("p3", "s")]


def _q_prefix_batch(spark, sf_dir):
    """N prefix queries in ONE shared dictionary-expansion scan + ONE
    posting scan (operators/prefix.prefix_batch)."""
    from search_spark.operators.prefix import prefix_batch

    res = prefix_batch(_wand_reader(spark, sf_dir), PREFIX_BATCH, _TOPK)
    return res.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


def _q_snippets(spark, sf_dir):
    """Top-k with best-window highlights (operators/snippet.py)."""
    from search_spark.operators.snippet import search_snippets

    res = search_snippets(_wand_reader(spark, sf_dir), Q_MIX, _TOPK)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
        F.col("match_pos").cast("int").alias("match_pos"),
        "snippet",
    )


#: boosted gate query: one up-weighted, one down-weighted term
BOOST_Q = "merge window customer batch"
BOOSTS = {"merge": 2.0, "batch": 0.5}


def _q_boosted(spark, sf_dir):
    """Query-time term boosting (idf scaling — wand.batch_search boosts)."""
    res = _wand_reader(spark, sf_dir).batch_search([("q", BOOST_Q)], _TOPK, boosts=BOOSTS)
    return res.drop("query_id").select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


def _q_page2(spark, sf_dir):
    """Second result page (absolute ranks 11-20) — exact deep pagination."""
    res = _wand_reader(spark, sf_dir).search_page(Q_MIX, offset=_TOPK, size=_TOPK)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


def _q_suggest(spark, sf_dir):
    """Autocomplete suggestions off the dictionary (operators/prefix.py)."""
    from search_spark.operators.prefix import suggest_terms

    return suggest_terms(_wand_reader(spark, sf_dir), Q_PREFIX, 8)


#: boolean gate clauses — head must + mid should + head must_not exercises
#: intersection, score-only terms, and exclusion in one entry
BOOL_MUST = "table scan"
BOOL_SHOULD = "filter hash"
BOOL_MUST_NOT = "order"


def _q_boolean(spark, sf_dir):
    """Filtered BM25 (operators/boolean.py): must ∧ ¬must_not candidates
    from posting-set algebra, scored over must ∪ should."""
    from search_spark.operators.boolean import boolean_search

    res = boolean_search(
        _wand_reader(spark, sf_dir), BOOL_MUST, BOOL_SHOULD, BOOL_MUST_NOT, _TOPK
    )
    micro = res.select(
        "doc_id", F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro")
    )
    # ≤ k rows here (search already top-k'd): single-partition rank by design
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "rank", "score_micro"
    )


def _q_boolean_should(spark, sf_dir):
    """Disjunctive-with-exclusion form (no must clause)."""
    from search_spark.operators.boolean import boolean_search

    res = boolean_search(
        _wand_reader(spark, sf_dir), "", BOOL_SHOULD, BOOL_MUST_NOT, _TOPK
    )
    micro = res.select(
        "doc_id", F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro")
    )
    # ≤ k rows here (search already top-k'd): single-partition rank by design
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "rank", "score_micro"
    )


#: batched boolean clauses (VERDICT r3 #4: serving is batched — the batch
#: shares one pruned scan + one exchange): conjunctive+exclusion,
#: disjunctive+exclusion, and a pure must-only clause
BOOL_BATCH = [
    ("b1", BOOL_MUST, BOOL_SHOULD, BOOL_MUST_NOT),
    ("b2", "", BOOL_SHOULD, BOOL_MUST_NOT),
    ("b3", "merge window", "", ""),
]


def _q_boolean_batch(spark, sf_dir):
    """N boolean queries in ONE job (operators/boolean.boolean_batch):
    shared pruned posting scan, per-bucket decode shared across clauses,
    hierarchical exact top-k merge."""
    from search_spark.operators.boolean import boolean_batch

    res = boolean_batch(_wand_reader(spark, sf_dir), BOOL_BATCH, _TOPK)
    micro = res.select(
        "query_id",
        "doc_id",
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )
    # rank over ROUNDED scores (the boolean-entry convention: the oracle's
    # rank is computed on score_micro) — k rows per query, driver-light
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return micro.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "query_id", "doc_id", "rank", "score_micro"
    )


def _q_facet_role(spark, sf_dir):
    """Index-driven facet counts over the match set's role column."""
    from search_spark.operators.boolean import facet_counts

    return facet_counts(_wand_reader(spark, sf_dir), BOOL_MUST, facet="role", mode="any")


#: context-window budget for the packing gate entries
PACK_BUDGET = 256


def _collect_release(df: DataFrame, handles: list) -> DataFrame:
    """Materialize a gate-sized result, then unpersist the operator's
    cached intermediates (the pack_sequences/assign_doc_ids cache_handle
    contract): the persisted ranged layout must stay alive until the plan
    is EXECUTED (the prefix-sum bases were computed against its sampled
    range boundaries), and the verify harness re-runs these entries many
    times per session — without the release, cached layouts accumulate
    (ADVICE r3).  Gate results are driver-sized by contract."""
    rows = df.collect()
    out = (
        df.sparkSession.createDataFrame(rows, schema=df.schema)
        if rows
        else df.sparkSession.createDataFrame([], df.schema)
    )
    for h in handles:
        h.unpersist()
    return out


def _q_pack_assignments(spark, sf_dir):
    """Training-sequence packing (operators/packing.py): per-turn global
    token-offset chunking under the stable (conv_id, turn_idx) order."""
    from search_spark.operators.packing import pack_sequences

    tr = transcripts_from_documents(spark, sf_dir)
    handles: list = []
    out = pack_sequences(tr, PACK_BUDGET, cache_handle=handles).select(
        "conv_id", "turn_idx", "n_tokens", "start_offset", "seq_id", "spans_boundary"
    )
    return _collect_release(out, handles)


def _q_pack_summary(spark, sf_dir):
    """Per-sequence rollup of the packing assignment."""
    from search_spark.operators.packing import pack_sequences, pack_summary

    tr = transcripts_from_documents(spark, sf_dir)
    handles: list = []
    out = pack_summary(
        pack_sequences(tr, PACK_BUDGET, cache_handle=handles), PACK_BUDGET
    )
    return _collect_release(out, handles)


#: materialization gate config: the quality floor sits at the corpus's
#: ~10th percentile so the filter provably bites
MAT_BUDGET = 256
MAT_MIN_QUALITY = 650_000


def _q_materialize(spark, sf_dir):
    """Composed training-corpus materialization (operators/materialize.py):
    quality filter → dedup keeper → splits → per-split packing, verified
    end-to-end against one SQL oracle."""
    from search_spark.operators.materialize import materialize_training_corpus

    tr = transcripts_from_documents(spark, sf_dir)
    handles: list = []
    out = materialize_training_corpus(
        tr, MAT_BUDGET, MAT_MIN_QUALITY, cache_handle=handles
    )
    return _collect_release(out, handles)


def _q_materialize_summary(spark, sf_dir):
    from search_spark.operators.materialize import (
        materialize_summary,
        materialize_training_corpus,
    )

    tr = transcripts_from_documents(spark, sf_dir)
    handles: list = []
    out = materialize_summary(
        materialize_training_corpus(tr, MAT_BUDGET, MAT_MIN_QUALITY, cache_handle=handles)
    )
    return _collect_release(out, handles)


#: seed document for the find-similar gate entry
MLT_SEED = 42


def _q_more_like_this(spark, sf_dir):
    """Find-similar (operators/keywords.more_like_this): seed keywords by
    tf·idf from the dictionary → disjunctive BM25, seed excluded."""
    from search_spark.operators.keywords import more_like_this

    res = more_like_this(_wand_reader(spark, sf_dir), MLT_SEED, _TOPK)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


#: sampling rate for the hash-sample gate entry
SAMPLE_RATE = 0.2


def _q_split_assignments(spark, sf_dir):
    """Deterministic conversation-coherent splits (operators/splits.py)."""
    from search_spark.operators.splits import assign_splits

    tr = transcripts_from_documents(spark, sf_dir)
    return assign_splits(tr).select("conv_id", "split").distinct()


def _q_split_summary(spark, sf_dir):
    from search_spark.operators.splits import split_summary

    return split_summary(transcripts_from_documents(spark, sf_dir))


def _q_hash_sample(spark, sf_dir):
    """Deterministic keyed sampling (superset-stable across rates)."""
    from search_spark.operators.splits import hash_sample

    tr = transcripts_from_documents(spark, sf_dir)
    return hash_sample(tr, SAMPLE_RATE).select("conv_id", "turn_idx")


#: decontamination gate config: eval suite = every 97th doc (deterministic,
#: guarantees self-hits), trigram shingles with a 3-hit threshold so
#: cross-document template overlap shows up too
DECONTAM_EVAL_SQL = "SELECT doc_id AS eval_id, text FROM documents WHERE doc_id % 97 = 0"
DECONTAM_GATE_W = 3
DECONTAM_GATE_HITS = 3


def _q_contamination(spark, sf_dir):
    """Eval-overlap decontamination (operators/decontam.py)."""
    from search_spark.operators.decontam import contamination_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    return contamination_report(
        docs, eval_df, DECONTAM_GATE_W, DECONTAM_GATE_HITS
    )


#: delete gate set — every 7th doc (mod 3): dense enough to intersect any
#: top-10, pure function of doc_id so the oracle inlines it
def _delete_ids(sf_dir: str) -> list[int]:
    import duckdb as _dd

    n = _dd.sql(
        f"SELECT max(doc_id) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    return [d for d in range(int(n) + 1) if d % 7 == 3]


_DELETE_CACHE: dict[tuple[str, str], object] = {}


def _deleted_reader(spark: SparkSession, sf_dir: str, purge: bool):
    """Dedicated store exercising the delete path: tombstoned (logical)
    or compacted-after-delete (physical purge)."""
    from search_spark.operators.compact import compact_index
    from search_spark.operators.indexer import build_index
    from search_spark.operators.wand import IndexReader
    from search_spark.sources.index_store import IndexStore

    key = (sf_dir, "purge" if purge else "tomb")
    if key not in _DELETE_CACHE:
        import tempfile

        root = tempfile.mkdtemp(prefix="search_spark_didx_")
        store = IndexStore(root, doc_bucket_size=2048, term_buckets=8)
        build_index(spark, transcripts_from_documents(spark, sf_dir), store, n_units=2)
        store.delete_docs(_delete_ids(sf_dir))
        if purge:
            compact_index(spark, store)
        _DELETE_CACHE[key] = IndexReader(spark, store)
    return _DELETE_CACHE[key]


def _q_bm25_tombstoned(spark, sf_dir):
    """Logical delete: tombstoned docs excluded, physical stats kept."""
    res = _deleted_reader(spark, sf_dir, purge=False).batch_search([("q", Q_MIX)], _TOPK)
    return res.drop("query_id").select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


def _q_bm25_purged(spark, sf_dir):
    """Physical delete: compaction purged the postings, stats + dictionary
    rebuilt over the reduced corpus."""
    res = _deleted_reader(spark, sf_dir, purge=True).batch_search([("q", Q_MIX)], _TOPK)
    return res.drop("query_id").select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


_COMPACT_CACHE: dict[str, object] = {}


def _compacted_reader(spark: SparkSession, sf_dir: str):
    """Separate store (the WAND cache store must stay uncompacted for its
    own entries): build from a streaming-style multi-segment layout, then
    compact — so the serving entry exercises merge + snapshot repointing."""
    from search_spark.operators.compact import compact_index
    from search_spark.operators.indexer import build_index
    from search_spark.operators.wand import IndexReader
    from search_spark.sources.index_store import IndexStore

    if sf_dir not in _COMPACT_CACHE:
        import tempfile

        root = tempfile.mkdtemp(prefix="search_spark_cidx_")
        store = IndexStore(root, doc_bucket_size=2048, term_buckets=8)
        tr = transcripts_from_documents(spark, sf_dir)
        build_index(spark, tr, store, n_units=3)
        compact_index(spark, store)
        _COMPACT_CACHE[sf_dir] = IndexReader(spark, store)
    return _COMPACT_CACHE[sf_dir]


def _q_wand_compacted(spark, sf_dir):
    """Query served from the post-compaction layout — compaction
    correctness rides the driver gate, not only pytest (results must be
    rank/score-identical to the uncompacted bm25_wand_mix oracle)."""
    reader = _compacted_reader(spark, sf_dir)
    res = reader.batch_search([("q", Q_MIX)], _TOPK)
    return res.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# training-pipeline operators: dedup / text stats / media
# ---------------------------------------------------------------------------

from search_spark import oracle_sql_pipeline as osp  # noqa: E402
from search_spark.operators import splits as _splits  # noqa: E402
from search_spark.functions import stats as stats_sql  # noqa: E402
from search_spark.operators import dedup as dd  # noqa: E402
from search_spark.operators import media as md  # noqa: E402

def _q_dedup_exact(spark, sf_dir):
    return dd.exact_dedup(_docs(spark, sf_dir))


def _q_dedup_minhash(spark, sf_dir):
    handles: list = []
    out = dd.minhash_lsh_pairs(_docs(spark, sf_dir), cache_handle=handles)
    return _collect_release(out, handles)


def _q_dedup_ngram(spark, sf_dir):
    # exact (uncapped) inverted join — the verification form; the capped
    # default below is the scale configuration
    handles: list = []
    out = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir), max_shingle_df=None, cache_handle=handles
    )
    return _collect_release(out, handles)


def _q_dedup_ngram_capped(spark, sf_dir):
    # DEFAULT path: Zipf-head shingle cap derived from corpus stats
    handles: list = []
    out = dd.ngram_jaccard_pairs(_docs(spark, sf_dir), cache_handle=handles)
    return _collect_release(out, handles)


def _q_dedup_clusters(spark, sf_dir):
    """Pair mining → connected components → keeper verdict: the last step
    of the dedup family (what a pipeline actually drops).  Pairs come from
    the MinHash-LSH path; clustering is iterative min-label propagation
    (operators/cluster.py), oracle = recursive reachability CTE."""
    from search_spark.operators.cluster import keeper_assignment

    docs = _docs(spark, sf_dir)
    handles: list = []
    out = keeper_assignment(
        docs, dd.minhash_lsh_pairs(docs, cache_handle=handles)
    )
    return _collect_release(out, handles)


def _q_simhash_fps(spark, sf_dir):
    return dd.simhash_fingerprints(_docs(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    handles: list = []
    out = dd.simhash_pairs(_docs(spark, sf_dir), cache_handle=handles)
    return _collect_release(out, handles)


def _q_token_counts(spark, sf_dir):
    from search_spark.functions import textstats as ts

    docs = _docs(spark, sf_dir)
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        ts.ws_token_count_col(F.col("text")).alias("ws_tokens"),
        F.size(toks).cast("int").alias("re_tokens"),
        ts.bpe_count_col(toks).alias("bpe_tokens"),
    )


def _q_lang_id(spark, sf_dir):
    from search_spark.functions import textstats as ts

    return _docs(spark, sf_dir).select(
        "doc_id", ts.lang_id_col(tokens_col("text")).alias("lang_pred")
    )


def _q_quality(spark, sf_dir):
    from search_spark.functions import textstats as ts

    docs = _docs(spark, sf_dir)
    cols = ts.quality_cols(F.col("text"), tokens_col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def _q_fingerprints(spark, sf_dir):
    from search_spark.functions.hashing import rolling_fp_col

    return _docs(spark, sf_dir).select(
        "doc_id", rolling_fp_col(tokens_col("text")).alias("fingerprint")
    )


def _q_top_terms(spark, sf_dir):
    """Per-doc keyword extraction: top-5 terms by tf·idf (operators/
    keywords.py) — topic tagging / term pruning for a training pipeline."""
    from search_spark.operators.keywords import top_terms

    return top_terms(_docs(spark, sf_dir))


def _q_media_meta(spark, sf_dir):
    return md.media_metadata(md.attach_payload(_docs(spark, sf_dir)))


def _q_media_resize(spark, sf_dir):
    """Decode → resize-plan: JVM integer expressions over the mapInPandas
    metadata stage (the pixel kernel itself is the documented library seam)."""
    return md.resize_plan(md.media_metadata(md.attach_payload(_docs(spark, sf_dir))))


def _q_frame_sample(spark, sf_dir):
    return md.frame_sample(md.attach_payload(_docs(spark, sf_dir)))


def _q_media_features(spark, sf_dir):
    return md.extract_features(md.attach_payload(_docs(spark, sf_dir)))


def _eval_pairs(spark, sf_dir):
    """(n_chars, re_tokens) per document — the metric operators' input."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(tokens_col("text")).cast("bigint").alias("re_tokens"),
    )


def _an_sql():
    from search_spark.operators import analytics

    return analytics


_EVAL_REL_SQL = (
    "SELECT CAST(n_chars AS BIGINT) AS n_chars, "
    "CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS re_tokens "
    "FROM documents"
)


def _q_eval_pearson(spark, sf_dir):
    from search_spark.functions.stats import pearson

    return pearson(_eval_pairs(spark, sf_dir), "n_chars", "re_tokens")


def _q_eval_spearman(spark, sf_dir):
    from search_spark.functions.stats import spearman

    return spearman(_eval_pairs(spark, sf_dir), "n_chars", "re_tokens")


def _q_eval_mse(spark, sf_dir):
    from search_spark.functions.stats import mse

    return mse(_eval_pairs(spark, sf_dir), "n_chars", "re_tokens")


def _q_pricing_summary(spark, sf_dir):
    from search_spark.operators import analytics as an

    return an.pricing_summary(spark, sf_dir)


def _q_shipping_priority(spark, sf_dir):
    from search_spark.operators import analytics as an

    return an.shipping_priority(spark, sf_dir)


def _q_revenue_by_nation(spark, sf_dir):
    from search_spark.operators import analytics as an

    return an.revenue_by_nation(spark, sf_dir)


def _q_conversations_summary(spark, sf_dir):
    """Batch twin of the stateful-streaming sessionizer (streaming
    convergence to this aggregation is pinned in
    tests/test_streaming_stateful.py)."""
    from search_spark.streaming.sessionize import conversation_summary

    tr = transcripts_from_documents(spark, sf_dir)
    return conversation_summary(tr).select(
        "conv_id",
        "n_turns",
        "total_tokens",
        F.col("first_ts").cast("string").alias("first_ts"),
        F.col("last_ts").cast("string").alias("last_ts"),
    )


def _q_events_windowed(spark, sf_dir):
    """Tumbling 1-hour windows per event_type over the events table —
    the time-window aggregation shape (Structured Streaming uses the
    identical F.window expression on a stream)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value") * 1e2).cast("bigint").alias("sum_value_cents"),
            F.countDistinct("user_id").cast("bigint").alias("uniq_users"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
            "uniq_users",
        )
    )


def _q_bm25_rehydrated(spark, sf_dir):
    """Top-k + payload text: the reference returns the stored Value with
    each result (/root/reference/index.go:20-24); relational analogue is the
    doc_id → documents join after ranking."""
    topk = _bm25_topk(spark, sf_dir, Q_MIX)
    docs = _docs(spark, sf_dir)
    return topk.join(docs, "doc_id", "inner").select(
        "doc_id", "rank", "score_micro", "text"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """GATE ROTATION (TESTDATA.md §rotation): the correctness gate runs
    the FIRST 50 entries of this dict, so order is evidence policy, not
    style.  Priority rules (mechanically checked by
    tests/test_gate_rotation.py against the newest CORRECTNESS_r*.json
    and the git diff since the last gated commit):

    1. every entry WITHOUT a row in the last gate claims a slot (the 24
       entries the r5 gate rotated past the cap);
    2. every NEW entry claims a slot (prefix_batch);
    3. every entry whose implementing modules CHANGED since the last
       gated commit claims a slot (the one BM25 bucket kernel and scoring
       plan in wand/boolean/phrase/codec pull in every index-store
       entry; the media docstring edit pulls in the media entries, which
       rule 1 already gates) — touched code re-earns its row;
    4. only untouched entries that were GREEN in the last gate may rotate
       past the cap — they keep a green gate row within the last two
       rounds and stay covered on every run by the local gate replica
       (tests/test_entry_contract.py runs ALL entries).

    Rules 1-3 fill exactly 50 slots (24 + 25 index-store entries + 1
    new); the 17 rotated-out entries are all r5-green and none of their
    modules changed since r5."""
    return {
        # -- (1) no gate row in r5: first claim on the 50 slots ----------
        "tpch_pricing_summary": _q_pricing_summary,
        "tpch_shipping_priority": _q_shipping_priority,
        "tpch_revenue_by_nation": _q_revenue_by_nation,
        "media_metadata": _q_media_meta,
        "media_resize": _q_media_resize,
        "media_features": _q_media_features,
        "media_frame_sample": _q_frame_sample,
        "text_token_counts": _q_token_counts,
        "text_lang_id": _q_lang_id,
        "text_quality": _q_quality,
        "text_fingerprints": _q_fingerprints,
        "text_top_terms": _q_top_terms,
        "eval_pearson": _q_eval_pearson,
        "eval_spearman": _q_eval_spearman,
        "eval_mse": _q_eval_mse,
        "events_windowed": _q_events_windowed,
        "conversations_summary": _q_conversations_summary,
        "bm25_topk_rehydrated": _q_bm25_rehydrated,
        "pack_assignments": _q_pack_assignments,
        "pack_summary": _q_pack_summary,
        "materialize_corpus": _q_materialize,
        "materialize_summary": _q_materialize_summary,
        "dedup_ngram_jaccard_capped": _q_dedup_ngram_capped,
        "dedup_minhash_lsh": _q_dedup_minhash,
        # -- (3) modules changed since the r5 gate: re-earn the gate row --
        "bm25_wand_head": _q_wand_head,
        "bm25_wand_mix": _q_wand_mix,
        "bm25_wand_batch": _q_wand_batch,
        "bm25_wand_queryset": _q_wand_queryset,
        "bm25_wand_compacted": _q_wand_compacted,
        "bm25_boosted": _q_boosted,
        "bm25_page2": _q_page2,
        "bm25_tombstoned": _q_bm25_tombstoned,
        "bm25_purged": _q_bm25_purged,
        "boolean_topk": _q_boolean,
        "boolean_should_topk": _q_boolean_should,
        "boolean_batch": _q_boolean_batch,
        "facet_role_counts": _q_facet_role,
        "phrase_topk": _q_phrase,
        "phrase_topk_long": _q_phrase_long,
        "phrase_count": _q_phrase_count,
        "near_topk": _q_near,
        "phrase_batch": _q_phrase_batch,
        "near_batch": _q_near_batch,
        "prefix_topk": _q_prefix,
        "fuzzy_topk": _q_fuzzy,
        "fuzzy_batch": _q_fuzzy_batch,
        "suggest_terms": _q_suggest,
        "more_like_this": _q_more_like_this,
        "snippet_topk": _q_snippets,
        # -- (2) new since r5 ----------------------------------------------
        "prefix_batch": _q_prefix_batch,
        # -------------------- 50-slot cap falls here --------------------
        # rotated out (rule 4: r5-green, modules untouched since r5):
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "bm25_topk_head": _q_bm25_head,
        "bm25_topk_mix": _q_bm25_mix,
        "bm25_topk_rare": _q_bm25_rare,
        "bm25_topk_transcripts": _q_bm25_transcripts,
        "doc_ids_stable": _q_doc_ids_stable,
        "index_dictionary": _q_dictionary,
        "corpus_stats": _q_corpus_stats,
        "doclens": _q_doclens,
        "split_assignments": _q_split_assignments,
        "split_summary": _q_split_summary,
        "hash_sample": _q_hash_sample,
        "contamination_report": _q_contamination,
        "dedup_simhash_fingerprints": _q_simhash_fps,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "bm25_topk_head": osql.bm25_topk_sql(Q_HEAD, _TOPK),
        "bm25_topk_mix": osql.bm25_topk_sql(Q_MIX, _TOPK),
        "bm25_topk_rare": osql.bm25_topk_sql(Q_RARE, _TOPK),
        "bm25_topk_transcripts": osql.bm25_topk_sql(Q_MIX, _TOPK, docs_sql=osql.transcripts_docs_sql()),
        "doc_ids_stable": osql.doc_ids_stable_sql(),
        "index_dictionary": osql.dictionary_sql(100),
        "corpus_stats": osql.corpus_stats_sql(),
        "doclens": osql.doclens_sql(),
        "bm25_wand_head": osql.bm25_topk_sql(Q_HEAD, _TOPK),
        "bm25_wand_mix": osql.bm25_topk_sql(Q_MIX, _TOPK),
        "bm25_wand_batch": osql.bm25_batch_sql(
            [("h", Q_HEAD), ("m", Q_MIX), ("r", Q_RARE)], _TOPK
        ),
        "bm25_wand_queryset": osql.bm25_batch_sql(
            load_queryset_py(QUERYSET_PATH), _TOPK
        ),
        "bm25_wand_compacted": osql.bm25_topk_sql(Q_MIX, _TOPK),
        "bm25_boosted": osql.bm25_boosted_sql(BOOST_Q, BOOSTS, _TOPK),
        "bm25_page2": osql.bm25_page_sql(Q_MIX, _TOPK, _TOPK),
        "phrase_topk": osql.phrase_topk_sql(Q_PHRASE, _TOPK),
        "phrase_topk_long": osql.phrase_topk_sql(Q_PHRASE_LONG, _TOPK),
        "phrase_count": osql.phrase_count_sql(Q_PHRASE),
        "near_topk": osql.near_topk_sql(Q_NEAR, NEAR_SLOP, _TOPK),
        "prefix_topk": osql.prefix_topk_sql(Q_PREFIX, _TOPK),
        "suggest_terms": osql.suggest_terms_sql(Q_PREFIX, 8),
        "fuzzy_topk": osql.fuzzy_topk_sql(Q_FUZZY, 1, _TOPK),
        "fuzzy_batch": osql.fuzzy_batch_sql(FUZZY_BATCH, 1, _TOPK),
        "prefix_batch": osql.prefix_batch_sql(PREFIX_BATCH, _TOPK),
        "snippet_topk": osql.snippet_topk_sql(Q_MIX, _TOPK),
        "boolean_topk": osql.boolean_topk_sql(
            BOOL_MUST, BOOL_SHOULD, BOOL_MUST_NOT, _TOPK
        ),
        "boolean_should_topk": osql.boolean_topk_sql(
            "", BOOL_SHOULD, BOOL_MUST_NOT, _TOPK
        ),
        "boolean_batch": osql.boolean_batch_sql(BOOL_BATCH, _TOPK),
        "phrase_batch": osql.phrase_batch_sql(PHRASE_BATCH, _TOPK),
        "near_batch": osql.near_batch_sql(NEAR_BATCH, _TOPK),
        "facet_role_counts": osql.facet_counts_sql(
            BOOL_MUST,
            f"CASE WHEN (doc_id % {TURNS_PER_CONV}) % 2 = 0 "
            "THEN 'user' ELSE 'assistant' END",
        ),
        "pack_assignments": osql.pack_assignments_sql(PACK_BUDGET),
        "pack_summary": osql.pack_summary_sql(PACK_BUDGET),
        "more_like_this": osql.more_like_this_sql(MLT_SEED, _TOPK),
        "bm25_tombstoned": osql.bm25_topk_excluding_sql(
            Q_MIX, _TOPK, "doc_id % 7 = 3"
        ),
        "bm25_purged": osql.bm25_topk_sql(
            Q_MIX, _TOPK, docs_sql=osql.docs_sql_excluding("doc_id % 7 = 3")
        ),
        "contamination_report": osp.contamination_sql(
            DECONTAM_EVAL_SQL, DECONTAM_GATE_W, DECONTAM_GATE_HITS
        ),
        "split_assignments": osql.split_assignments_sql(
            _splits.DEFAULT_WEIGHTS, _splits.DEFAULT_SALT
        ),
        "split_summary": osql.split_summary_sql(
            _splits.DEFAULT_WEIGHTS, _splits.DEFAULT_SALT
        ),
        "hash_sample": osql.hash_sample_sql(SAMPLE_RATE, "sample/v1"),
        "materialize_corpus": osql.materialize_sql(
            MAT_BUDGET, MAT_MIN_QUALITY, _splits.DEFAULT_WEIGHTS, _splits.DEFAULT_SALT
        ),
        "materialize_summary": osql.materialize_summary_sql(
            MAT_BUDGET, MAT_MIN_QUALITY, _splits.DEFAULT_WEIGHTS, _splits.DEFAULT_SALT
        ),
        "dedup_exact": osp.dedup_exact_sql(),
        "dedup_minhash_lsh": osp.minhash_lsh_sql(),
        "dedup_ngram_jaccard": osp.ngram_jaccard_sql(),
        "dedup_ngram_jaccard_capped": osp.ngram_jaccard_capped_sql(),
        "dedup_simhash_fingerprints": osp.simhash_fingerprints_sql(),
        "dedup_simhash_pairs": osp.simhash_pairs_sql(),
        "dedup_clusters": osp.keeper_assignment_sql(osp.minhash_lsh_sql()),
        "text_token_counts": osp.token_counts_sql(),
        "text_lang_id": osp.lang_id_sql_query(),
        "text_quality": osp.quality_sql_query(),
        "text_fingerprints": osp.fingerprints_sql(),
        "text_top_terms": osp.top_terms_sql(5),
        "media_metadata": osp.media_metadata_sql(),
        "media_resize": osp.media_resize_sql(),
        "media_features": osp.media_features_sql(),
        "media_frame_sample": osp.frame_sample_sql(),
        "bm25_topk_rehydrated": f"""
WITH topk AS ({osql.bm25_topk_sql(Q_MIX, _TOPK)})
SELECT topk.doc_id, topk.rank, topk.score_micro, documents.text
FROM topk JOIN documents ON documents.doc_id = topk.doc_id""",
        "conversations_summary": f"""
WITH tr AS ({SQL_TRANSCRIPTS_FROM_DOCUMENTS})
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(coalesce(len({sql_tokens('text')}), 0)) AS BIGINT) AS total_tokens,
       CAST(min(ts) AS VARCHAR) AS first_ts,
       CAST(max(ts) AS VARCHAR) AS last_ts
FROM tr GROUP BY conv_id""",
        "events_windowed": """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
FROM events
GROUP BY 1, 2""",
        "tpch_pricing_summary": _an_sql().pricing_summary_sql(),
        "tpch_shipping_priority": _an_sql().shipping_priority_sql(),
        "tpch_revenue_by_nation": _an_sql().revenue_by_nation_sql(),
        "eval_pearson": stats_sql.pearson_sql(_EVAL_REL_SQL, "n_chars", "re_tokens"),
        "eval_spearman": stats_sql.spearman_sql(_EVAL_REL_SQL, "n_chars", "re_tokens"),
        "eval_mse": stats_sql.mse_sql(_EVAL_REL_SQL, "n_chars", "re_tokens"),
    }
