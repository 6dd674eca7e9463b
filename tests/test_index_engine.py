"""M2+M3: persisted block index + BM25 top-k scorer vs oracle rank identity.

The analogues: codec/segment round-trip (/root/reference/index_test.go:44-76),
kernel-vs-reference equivalence (/root/reference/internal/cosine/simd/simd_test.go:52-74),
golden-count invariant (/root/reference/index_test.go:33).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from search_spark import corpus
from search_spark.operators.indexer import build_index
from search_spark.operators.wand import IndexReader
from search_spark.oracle import OracleIndex
from search_spark.sources.index_store import IndexStore

N_CONVS = 60

QUERIES = [
    ("q_head", "the fast"),
    ("q_mid", "w0003 w0010 w0055"),
    ("q_needle", "needle0"),
    ("q_mix", "needle1 the"),
    ("q_oov", "zzzqqq oovtoken"),
    ("q_tail", "w1000 w2000 w3000 w0500 a"),
    ("q_single", "w0007"),
    ("q_dups", "the the the a a"),
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    st = IndexStore(root, doc_bucket_size=100, term_buckets=4)  # force multi-bucket paths
    tr = corpus.generate_spark(spark, N_CONVS, partitions=4)
    build_index(spark, tr, st, n_units=3)
    return st


@pytest.fixture(scope="module")
def reader(spark, store):
    return IndexReader(spark, store)


@pytest.fixture(scope="module")
def oracle():
    df = corpus.generate_pandas(N_CONVS).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df["doc_id"] = range(len(df))
    return OracleIndex.build(df)


def test_stats_match_oracle(reader, oracle):
    assert reader.stats["n_docs"] == oracle.n_docs
    assert reader.stats["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-9)
    assert reader.stats["vocab"] == len(oracle.postings)
    assert reader.stats["n_postings"] == sum(len(p) for p in oracle.postings.values())


@pytest.mark.parametrize("qid,query", QUERIES)
@pytest.mark.parametrize("k", [5, 10])
def test_wand_rank_identity(reader, oracle, qid, query, k):
    got = reader.batch_search([(qid, query)], k).orderBy("rank").collect()
    want = oracle.search(query, k)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], query
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, abs=1e-6)
    assert [r["rank"] for r in got] == list(range(1, len(want) + 1))


def test_batch_search_many(reader, oracle):
    res = reader.batch_search(QUERIES, 10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, query in QUERIES:
        want = oracle.search(query, 10)
        got = sorted(by_q.get(qid, []))
        assert [g[1] for g in got] == [d for d, _ in want], qid


def test_k_guard(reader):
    assert reader.batch_search([("q", "the")], 0).count() == 0
    assert reader.search("", 10).count() == 0


def test_rehydrate_text_equality(reader, oracle, spark):
    """input_hint per-turn invariant via the full engine: rehydrated text
    equals the source turn text."""
    corpus_pd = (
        corpus.generate_pandas(N_CONVS)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    res = reader.batch_search([("q", "needle2 the fast w0100")], 10)
    hydrated = reader.rehydrate(res).collect()
    assert hydrated
    for r in hydrated:
        assert r["text"] == corpus_pd.iloc[r["doc_id"]]["text"]
        assert (r["conv_id"], r["turn_idx"]) == (
            corpus_pd.iloc[r["doc_id"]]["conv_id"],
            int(corpus_pd.iloc[r["doc_id"]]["turn_idx"]),
        )


def test_self_search_rank1_engine(reader, oracle):
    """/root/reference/index_test.go:35-41 through the persisted engine."""
    df = corpus.generate_pandas(N_CONVS).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df["doc_id"] = range(len(df))
    sample = df.sample(6, random_state=11)
    queries = [(f"q{d}", t) for d, t in zip(sample.doc_id, sample.text)]
    res = reader.batch_search(queries, 5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for d in sample.doc_id:
        rows = sorted(by_q[f"q{d}"], key=lambda r: r["rank"])
        top_score = rows[0]["score"]
        assert d in [r["doc_id"] for r in rows if r["score"] == top_score]


def test_wand_exhaustive_vs_oracle(reader, oracle):
    """Wider sweep: 40 generated queries, all must be rank-identical."""
    rng = np.random.Generator(np.random.PCG64(5))
    vocab = list(oracle.postings.keys())
    queries = []
    for i in range(40):
        n = int(rng.integers(1, 6))
        qs = " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), n))
        queries.append((f"g{i}", qs))
    res = reader.batch_search(queries, 10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, q in queries:
        want = oracle.search(q, 10)
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in got] == [d for d, _ in want], q
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, abs=1e-6)


def test_tf_triples_matches_pandas_reference(spark, tiny_corpus_pd):
    """JVM higher-order-function tf == the Arrow/pandas reference impl."""
    from pyspark.sql import functions as F

    from search_spark.operators.indexer import TF_SCHEMA, _tf_batches, tf_triples

    sdf = spark.createDataFrame(tiny_corpus_pd)
    docs = (
        sdf.withColumn("doc_id", F.monotonically_increasing_id())
        .withColumn("doc_bucket", (F.col("doc_id") % 4).cast("int"))
        .select("doc_id", "doc_bucket", "text")
    )
    jvm = {tuple(r) for r in tf_triples(docs).collect()}
    ref = {tuple(r) for r in docs.mapInPandas(_tf_batches, schema=TF_SCHEMA).collect()}
    assert jvm == ref and len(jvm) > 100


def test_term_cache_reset_keeps_current_batch_terms(spark, store, oracle):
    """Cache-overflow reset must NOT drop terms of the in-flight batch:
    with TERM_CACHE_MAX forced to 1, a two-term query whose first term is
    already cached must still score both terms (regression: the reset
    silently turned cached terms into OOV)."""
    from search_spark.operators.wand import IndexReader

    r = IndexReader(spark, store)
    r.TERM_CACHE_MAX = 1
    # seed the cache with 'the'
    r.batch_search([("seed", "the")], 5).collect()
    assert "the" in r._term_cache
    # now 'the fast': 'fast' is missing → overflow path runs
    got = r.batch_search([("q", "the fast")], 10).collect()
    want = oracle.search("the fast", 10)
    assert [(row["doc_id"], round(row["score"] * 1e6)) for row in got] == [
        (d, round(s * 1e6)) for d, s in want
    ]
