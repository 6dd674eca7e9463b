"""Unit tests for the training-pipeline operators (dedup / text stats /
media / clustering) — spec-level agreement across the three
implementations (Python / Spark Column / DuckDB SQL) plus behavior checks
a row-level oracle comparison can't see (band guards, stub seams).

The full Spark-vs-DuckDB comparison of every operator runs in
tests/test_entry_contract.py at sf0.01."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from search_spark.analyzer import tokenize
from search_spark.functions import hashing as H
from search_spark.functions import textstats as TS

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    return con


def test_h32_three_way(spark, ddb):
    samples = ["", "hello", "the fast scan", "a b c", "héllo-∆"]
    py = [H.h32_py(s) for s in samples]
    sdf = spark.createDataFrame([(s,) for s in samples], "s string")
    sp = [r[0] for r in sdf.select(H.h32_col(F.col("s"))).collect()]
    dk = [
        ddb.execute(f"SELECT {H.h32_sql('?')}", [s]).fetchone()[0] for s in samples
    ]
    assert py == sp == dk


def test_minhash_perm_bounds_and_agreement(spark):
    # no signed-64 overflow by construction; three-way agreement on perms
    hmax = 2**32 - 1
    for j in range(H.MINHASH_K):
        assert H.MINHASH_A[j] * (hmax % H.P31) + H.MINHASH_B[j] < 2**63
    sdf = spark.createDataFrame([(H.h32_py("x"),)], "h long")
    sp = sdf.select(
        *[H.minhash_perm_col(F.col("h"), j) for j in range(H.MINHASH_K)]
    ).collect()[0]
    py = [H.minhash_perm_py(H.h32_py("x"), j) for j in range(H.MINHASH_K)]
    assert list(sp) == py


def test_rolling_fingerprint_three_way(spark, ddb):
    texts = ["the fast scan merges", "", "one", "a a a a a a"]
    py = [H.rolling_fp_py(tokenize(t)) for t in texts]
    sdf = spark.createDataFrame([(t,) for t in texts], "t string")
    from search_spark.analyzer import tokens_col

    sp = [r[0] for r in sdf.select(H.rolling_fp_col(tokens_col("t"))).collect()]
    from search_spark.analyzer import sql_tokens

    dk = [
        ddb.execute(f"SELECT {H.rolling_fp_sql(sql_tokens('?'))}", [t]).fetchone()[0]
        for t in texts
    ]
    assert py == sp == dk


def test_lang_id_spec(spark):
    cases = {
        "the cat is on the mat": "en",
        "el que la de los": "es",
        "": "und",
        "xyz qrs tuv": "und",
        # tie between en and de on 'und'? 'und' is a de marker only
        "der die und": "de",
    }
    sdf = spark.createDataFrame([(t,) for t in cases], "t string")
    from search_spark.analyzer import tokens_col

    got = [r[0] for r in sdf.select(TS.lang_id_col(tokens_col("t"))).collect()]
    assert got == list(cases.values())
    assert [TS.lang_id_py(tokenize(t)) for t in cases] == list(cases.values())


def test_bpe_count_spec():
    assert TS.bpe_count_py([]) == 0
    assert TS.bpe_count_py(["ab"]) == 1
    assert TS.bpe_count_py(["abcd", "abcde"]) == 1 + 2


def test_dedup_band_guard_survives_identical_flood(spark):
    """10k identical docs: MinHash banding would form one quadratic group;
    the guard drops it and the job completes with only the distinct docs'
    pairs considered (identical rows are exact-dedup's job)."""
    from search_spark.operators.dedup import lsh_candidates, minhash_signatures, doc_shingles

    rows = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(10_000)]
    rows += [(10_000 + i, f"unique text number {i} with words w{i} w{i+1} w{i+2} filler") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = minhash_signatures(doc_shingles(docs))
    cand = lsh_candidates(sig, max_band_size=100)
    got = cand.collect()
    ids = {r["a_id"] for r in got} | {r["b_id"] for r in got}
    assert all(i >= 10_000 for i in ids)  # flood dropped, job bounded


def test_auto_shingle_df_cap_matches_sql_rule(spark, ddb):
    """The Spark histogram walk and the DuckDB cume_dist rule must derive
    the SAME cap (floor included) — that equality is what keeps the capped
    entry green."""
    from search_spark.analyzer import sql_tokens
    from search_spark.operators.dedup import (
        SHINGLE_DF_CAP_MIN,
        auto_shingle_df_cap,
        doc_shingles,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    cap = auto_shingle_df_cap(doc_shingles(docs))
    toks = sql_tokens("text")
    sql = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, len({toks}) - 2),
    i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))) AS shingle
  FROM documents),
dfs AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle)
SELECT greatest(min(sdf), {SHINGLE_DF_CAP_MIN})
FROM (SELECT sdf, cume_dist() OVER (ORDER BY sdf) cd FROM dfs)
WHERE cd >= 0.995"""
    assert cap == ddb.execute(sql).fetchone()[0]
    assert cap >= SHINGLE_DF_CAP_MIN


def test_auto_cap_floor_keeps_neardups_on_unique_corpus(spark):
    """On a MOSTLY-UNIQUE corpus (>=99.5% of distinct shingles at df=1 —
    the norm for w-gram shingles over natural text) the raw quantile cap
    degenerates to 1, which would exclude every repeated shingle and the
    DEFAULT capped operator would silently find ZERO pairs.  The floor
    must keep a known df=2 near-dup pair alive."""
    from search_spark.operators.dedup import (
        SHINGLE_DF_CAP_MIN,
        auto_shingle_df_cap,
        doc_shingles,
        ngram_jaccard_pairs,
    )

    # 400 unique docs (distinct token streams, shingles all df=1) + one
    # near-dup pair sharing most of their shingles (those shingles: df=2)
    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f") for i in range(400)]
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows.append((9001, dup))
    rows.append((9002, dup + " iota"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cap = auto_shingle_df_cap(doc_shingles(docs))
    assert cap == SHINGLE_DF_CAP_MIN  # raw quantile degenerates to 1 here

    pairs = ngram_jaccard_pairs(docs).collect()  # DEFAULT auto cap
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(9001, 9002)}


def test_spearman_average_rank_matches_pandas(spark, ddb):
    """Standard tie handling: ρ must equal pandas' average-rank Spearman
    (hence scipy / the reference's rank transform), not just this repo's
    own oracle — three-way bit-identity on tie-heavy data."""
    import numpy as np
    import pandas as pd

    from search_spark.functions.stats import spearman, spearman_sql

    rng = np.random.default_rng(3)
    x = rng.integers(0, 50, 400).astype(np.int64)
    y = (x * 3 + rng.integers(0, 40, 400)).astype(np.int64)
    pdf = pd.DataFrame({"x": x, "y": y})
    ref = round(pdf.corr(method="spearman").iloc[0, 1] * 1e6)
    got = spearman(spark.createDataFrame(pdf), "x", "y").collect()[0][0]
    ddb.register("sp_rel", pdf)
    want = ddb.execute(spearman_sql("SELECT x, y FROM sp_rel", "x", "y")).fetchone()[0]
    assert got == want == ref


def test_media_decode_stub_seam():
    from search_spark.operators.media import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01", fake=False)
    meta = decode_image(b"payload", fake=True)
    assert set(meta) == {"width", "height", "format"}
    assert meta["width"] >= 16 and meta["height"] >= 16


def test_media_plumbing_shapes(spark):
    from search_spark.operators.media import attach_payload, frame_sample, media_metadata

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(20)
    media = attach_payload(docs)
    meta = media_metadata(media)
    rows = meta.collect()
    assert len(rows) == 20
    assert meta.columns == [
        "doc_id", "media_type", "byte_len", "content_h32", "width", "height", "format",
    ]
    frames = frame_sample(media).collect()
    assert len(frames) >= 20  # every doc emits ≥1 frame
    # deterministic: same input → same fan-out
    assert len(frames) == len(frame_sample(media).collect())


def test_simhash_near_dups_rank_below_background(spark, ddb):
    """True near-dup pairs (Jaccard ≥ 0.5) must appear among simhash pairs
    at the pinned Hamming threshold."""
    from search_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    true_pairs = {
        (r["a_id"], r["b_id"]) for r in ngram_jaccard_pairs(docs).collect()
    }
    sh_pairs = {(r["a_id"], r["b_id"]) for r in simhash_pairs(docs).collect()}
    hit = len(true_pairs & sh_pairs) / max(len(true_pairs), 1)
    assert hit >= 0.8, hit  # candidate generator: high recall on true dups


def test_capped_ngram_broadcasts_head_not_tail(spark):
    """Scale guard: the capped path must broadcast the tiny OVER-cap head
    set into a LEFT ANTI join — broadcasting the under-cap side (~all
    distinct shingles) would OOM executors at corpus scale."""
    from search_spark.operators.dedup import doc_shingles, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, max_shingle_df=4)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    # semantics unchanged vs the plain inner-join-on-under-cap form
    sh = doc_shingles(docs)
    from pyspark.sql import functions as F

    dfs = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    kept_inner = sh.join(dfs.filter(F.col("sdf") <= 4).select("shingle"), "shingle")
    kept_anti = sh.join(
        dfs.filter(F.col("sdf") > 4).select("shingle"), "shingle", "left_anti"
    )
    assert sorted(map(tuple, kept_inner.collect())) == sorted(map(tuple, kept_anti.collect()))


def test_xxhash64_py_matches_spark(spark):
    """The layout hash twin: xxhash64_py must equal F.xxhash64 bit-for-bit
    (the dictionary-lookup partition pruning rides on this)."""
    from pyspark.sql import functions as F

    from search_spark.functions.hashing import term_bucket_py, xxhash64_py

    cases = (
        ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
         "0123456789abcdef", "x" * 31, "y" * 32, "z" * 33, "w" * 100]
        + ["héllo-∆ ünïcode 测试", "needle7", "conv-000123", " mixÿ"]
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text").limit(50)
    vocab = sorted({
        t for r in docs.collect() for t in tokenize(r["text"] or "")
    })
    cases = [c for c in cases if c] + vocab + [""]
    sdf = spark.createDataFrame([(c,) for c in cases], "s string")
    rows = sdf.select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(16)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxhash64_py(r["s"]) == r["h"], repr(r["s"])
        assert term_bucket_py(r["s"], 16) == r["b"], repr(r["s"])


def test_dup_clusters_transitive_and_keepers(spark):
    """Chain a-b, b-c and an island d-e must yield two components with
    min-id cluster ids; untouched docs are singleton keepers."""
    from search_spark.operators.cluster import dup_clusters, keeper_assignment

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 9)], "a_id long, b_id long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i,) for i in range(11)], "doc_id long")
    ka = {r["doc_id"]: (r["cluster_id"], r["is_dup"]) for r in keeper_assignment(docs, pairs).collect()}
    assert ka[1] == (1, False) and ka[2] == (1, True) and ka[3] == (1, True)
    assert ka[7] == (7, False) and ka[9] == (7, True)
    assert ka[0] == (0, False) and ka[10] == (10, False)  # singletons


def test_dup_clusters_twophase_vs_propagation_vs_unionfind(spark):
    """Cross-algorithm equivalence on seeded random graphs: the two-phase
    large-star/small-star default, the min-label-propagation twin, and a
    pure-Python union-find must produce identical labelings (the same
    doctrine as the SIMD/scalar kernel twins)."""
    import random

    from search_spark.operators.cluster import dup_clusters, dup_clusters_propagation

    rng = random.Random(1234)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 80))
        ]
        # union-find ground truth (component min as label)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in sorted(touched)}

        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        got_star = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
        got_prop = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters_propagation(pairs).collect()
        }
        assert got_star == want, f"trial {trial}: two-phase != union-find"
        assert got_prop == want, f"trial {trial}: propagation != union-find"


def test_dup_clusters_chain_beyond_propagation_budget(spark):
    """A 120-node dup chain (diameter 119 — the boilerplate-page-edited-
    per-snapshot shape): min-label propagation capped at 8 rounds must
    raise, while the two-phase default converges in O(log n) rounds (a
    15-round cap, ~log2(119)+detection — vs 119 rounds for propagation)
    and labels the whole chain with its minimum."""
    import pytest as _pytest

    from search_spark.operators.cluster import dup_clusters, dup_clusters_propagation

    chain = [(i, i + 1) for i in range(119)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")

    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters_propagation(pairs, max_iters=8)

    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs, max_iters=15).collect()}
    assert got == {i: 0 for i in range(120)}


def test_dup_clusters_degenerate_inputs(spark):
    """Self-pairs label themselves; an empty pair list yields an empty
    labeling with the right schema."""
    from search_spark.operators.cluster import dup_clusters

    selfp = spark.createDataFrame([(5, 5), (3, 3)], "a_id long, b_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(selfp).collect()}
    assert got == {5: 5, 3: 3}

    empty = spark.createDataFrame([], "a_id long, b_id long")
    out = dup_clusters(empty)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0


def test_dictionary_lookup_partition_pruned(spark, tmp_path):
    """The per-query dictionary lookup must carry PartitionFilters on
    term_bucket (vocabulary-scan lookups won't survive a big dictionary)."""
    from pyspark.sql import functions as F

    from search_spark.functions.hashing import term_bucket_py
    from search_spark.operators.indexer import build_index
    from search_spark.operators.wand import IndexReader
    from search_spark.sources.index_store import IndexStore
    from search_spark.corpus import transcripts_from_documents

    store = IndexStore(str(tmp_path / "idx"), doc_bucket_size=256, term_buckets=8)
    tr = transcripts_from_documents(spark, SF)
    build_index(spark, tr, store, n_units=2)
    reader = IndexReader(spark, store)
    terms = ["the", "fast", "scan"]
    buckets = sorted({term_bucket_py(t, 8) for t in terms})
    lookup = reader._dict_df.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "term_bucket" in plan.split("PartitionFilters")[1][:200]
    # and the full lookup path agrees with the stored buckets (the runtime
    # invariant raises on mismatch)
    rows = reader._dictionary_rows(terms)
    assert set(rows) == set(terms)
