"""The columnar query path: the Arrow block decoder, direct bucket
placement behind one exchange, one-expression term predicates, and the
driver-side dictionary lookup on the reader's snapshot files."""

from __future__ import annotations

import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from search_spark import codec, corpus
from search_spark.operators.indexer import build_index
from search_spark.operators.wand import IndexReader, decode_blocks
from search_spark.oracle import OracleIndex
from search_spark.sources.index_store import IndexStore

QUERIES = [
    ("q1", "the needle0"),
    ("q2", "w0003 w0010"),
    ("q3", "the w0007 needle0"),
    ("q4", "w0010 needle0 the w0003"),
    ("q5", "zzq_oov the"),
]


# ---------------------------------------------------------------------------
# decode_blocks == per-block codec.decode_block
# ---------------------------------------------------------------------------


def _block_rows(seed: int, n_terms: int = 4, base: int = 0) -> pd.DataFrame:
    """Encoded block rows of ``n_terms`` random terms (several blocks each),
    shuffled — group rows carry no order guarantee."""
    rng = np.random.default_rng(seed)
    frames = []
    for t in range(n_terms):
        n = int(rng.integers(1, 400))
        docs = base + np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 300, size=n)
        dls = rng.integers(1, 5000, size=n)
        frames.append(pd.DataFrame(codec.make_blocks(docs, tfs, dls, 25.0)).assign(term=f"t{t}"))
    rows = pd.concat(frames, ignore_index=True)
    return rows.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def _reference(rows: pd.DataFrame) -> dict:
    """term → (doc_ids, tfs, dls) by per-block codec.decode_block."""
    out = {}
    for term, g in rows.groupby("term"):
        parts = [codec.decode_block(r) for _, r in g.sort_values("first_doc").iterrows()]
        out[term] = tuple(np.concatenate([p[i] for p in parts]) for i in range(3))
    return out


def _assert_same(got: dict, want: dict) -> None:
    assert sorted(got) == sorted(want)
    for term, arrays in want.items():
        for g, w in zip(got[term], arrays):
            assert g.dtype == np.int64
            np.testing.assert_array_equal(g, w)


def _table(rows: pd.DataFrame, binary=pa.binary()) -> pa.Table:
    table = pa.Table.from_pandas(rows, preserve_index=False)
    for name in ("doc_ids_delta", "tfs", "dls"):
        i = table.schema.get_field_index(name)
        table = table.set_column(i, name, table.column(name).cast(binary))
    return table


def test_decode_blocks_plain():
    rows = _block_rows(1)
    _assert_same(decode_blocks(_table(rows)), _reference(rows))


def test_decode_blocks_sliced_table():
    """A table slice has a non-zero array offset into shared buffers."""
    rows = _block_rows(2)
    table = _table(rows).slice(3, len(rows) - 5)
    assert table.column("tfs").chunk(0).offset == 3
    _assert_same(decode_blocks(table), _reference(rows.iloc[3 : len(rows) - 2]))


def test_decode_blocks_multi_chunk():
    rows = _block_rows(3)
    cut = len(rows) // 3
    table = pa.concat_tables([_table(rows.iloc[:cut]), _table(rows.iloc[cut:])])
    assert table.column("doc_ids_delta").num_chunks == 2
    _assert_same(decode_blocks(table), _reference(rows))


def test_decode_blocks_large_binary():
    rows = _block_rows(4)
    table = _table(rows, pa.large_binary())
    assert pa.types.is_large_binary(table.schema.field("dls").type)
    _assert_same(decode_blocks(table), _reference(rows))


def test_decode_blocks_stream_range_doc_ids():
    """40-bit doc_ids (the streaming range): multi-byte varint seeds."""
    rows = _block_rows(5, base=(1 << 40) + 12345)
    got = decode_blocks(_table(rows))
    assert min(int(a[0].min()) for a in got.values()) > 1 << 40
    _assert_same(got, _reference(rows))


def test_decode_blocks_truncated_payload_raises():
    rows = _block_rows(6)
    i = int(np.flatnonzero(rows["n_docs"] > 1)[0])
    rows.at[i, "tfs"] = rows.at[i, "tfs"][:-1]
    with pytest.raises(ValueError, match="tfs"):
        decode_blocks(_table(rows))


# ---------------------------------------------------------------------------
# Spark: placement, plan shape, predicates, dictionary lookup
# ---------------------------------------------------------------------------

N_CONVS = 40  # 320 docs / doc_bucket_size=16 → 20 buckets > 4 cores


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("columnar_idx"))
    store = IndexStore(root, doc_bucket_size=16, term_buckets=4)
    build_index(spark, corpus.generate_spark(spark, N_CONVS, partitions=4), store, n_units=2)
    return store


@pytest.fixture(scope="module")
def reader(spark, built):
    return IndexReader(spark, built)


def _oracle(pdf: pd.DataFrame) -> OracleIndex:
    df = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df["doc_id"] = range(len(df))
    return OracleIndex.build(df)


def _assert_matches_oracle(reader, oracle, doc_base: int = 0) -> None:
    got = {}
    for r in reader.batch_search(QUERIES, 10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], round(r["score"] * 1e6)))
    for qid, text in QUERIES:
        want = [
            (i + 1, doc_base + d, round(s * 1e6)) for i, (d, s) in enumerate(oracle.search(text, 10))
        ]
        assert sorted(got.get(qid, [])) == want, qid


def test_map_buckets_places_bucket_b_on_task_b_mod_n(spark, reader):
    from pyspark.sql import functions as F

    n = min(spark.sparkContext.defaultParallelism, reader.n_buckets)
    assert reader.n_buckets > n  # more buckets than tasks

    def count(table: pa.Table) -> pa.Table:
        return pa.table(
            {
                "doc_bucket": pa.array([table.column("doc_bucket")[0].as_py()], pa.int32()),
                "n_blocks": pa.array([table.num_rows], pa.int64()),
            }
        )

    out = reader.map_buckets(
        reader.candidate_blocks(["the", "needle0", "w0003"]), count, "doc_bucket int, n_blocks long"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    rows = out.withColumn("pid", F.spark_partition_id()).collect()
    assert len(rows) == reader.n_buckets  # one group per bucket
    assert all(r["pid"] == r["doc_bucket"] % n for r in rows)


def test_batch_search_matches_oracle_more_buckets_than_cores(reader):
    _assert_matches_oracle(reader, _oracle(corpus.generate_pandas(N_CONVS)))


def test_batch_search_matches_oracle_on_stream_buckets(spark, tmp_path_factory):
    """A streamed store's doc_buckets sit at STREAM_BUCKET_BASE and above,
    far past the task count; placed by b mod n, answers stay exact."""
    from search_spark.streaming.ingest import (
        STREAM_BUCKET_BASE,
        STREAM_DOC_BASE,
        finalize_stream,
        start_ingest,
    )

    root = tmp_path_factory.mktemp("columnar_stream")
    src = root / "src"
    pdf = corpus.generate_pandas(N_CONVS)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "part1"))
    store = IndexStore(str(root / "idx"), doc_bucket_size=16, term_buckets=4)
    start_ingest(
        spark, f"{src}/part*", store, checkpoint_dir=str(root / "cp"), available_now=True
    ).awaitTermination(300)
    finalize_stream(spark, store)
    reader = IndexReader(spark, store)
    buckets = {r["doc_bucket"] for r in reader._posts_df.select("doc_bucket").distinct().collect()}
    assert len(buckets) > 4 and min(buckets) >= STREAM_BUCKET_BASE
    _assert_matches_oracle(reader, _oracle(pdf), doc_base=STREAM_DOC_BASE)


def test_predicates_build_no_per_term_literals(reader, monkeypatch):
    import pyspark.sql.classic.column as classic_column

    calls = []
    real = classic_column._create_column_from_literal
    monkeypatch.setattr(
        classic_column,
        "_create_column_from_literal",
        lambda *a, **kw: calls.append(a) or real(*a, **kw),
    )
    terms = [f"zq{i:04d}" for i in range(497)] + ["the", "needle0", "w0003"]
    rows = reader._dictionary_rows(terms)
    blocks = reader.candidate_blocks(terms, sorted({b for _, b in rows.values()}))
    assert calls == []
    assert set(rows) == {"the", "needle0", "w0003"}
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(term,", plan), plan


def test_quote_and_backslash_terms_are_oov(reader):
    odd = ["it's", "a\\b", "x' OR '1'='1", "\\'"]
    assert reader._dictionary_rows(odd + ["the"]).keys() == {"the"}
    assert reader.candidate_blocks(odd).count() == 0
    assert reader.candidate_blocks(odd + ["the"], [0, 1, 2, 3]).count() > 0


def test_dictionary_miss_runs_no_spark_job(spark, built):
    reader = IndexReader(spark, built)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    rows = reader._dictionary_rows(["the", "needle0", "zzq_oov"])
    assert set(tracker.getJobIdsForGroup()) == before
    assert set(rows) == {"the", "needle0"}


def test_dictionary_miss_after_files_removed_raises(spark, tmp_path_factory):
    """A miss must read the snapshot's files; when they are gone the lookup
    raises instead of scoring the term as out-of-vocabulary."""
    root = str(tmp_path_factory.mktemp("columnar_gone"))
    store = IndexStore(root, doc_bucket_size=64, term_buckets=4)
    build_index(spark, corpus.generate_spark(spark, 10, partitions=2), store, n_units=1)
    reader = IndexReader(spark, store)
    shutil.rmtree(store.dictionary_path)
    with pytest.raises(OSError):
        reader._dictionary_rows(["the"])
    with pytest.raises(OSError):
        reader.batch_search([("q", "the needle0")], 5).collect()


def test_empty_results_run_no_spark_job(spark, built):
    """An all-OOV batch, ``k=0`` and an invalid page answer from a local
    relation with the result schema: 0 rows and no Spark job."""
    reader = IndexReader(spark, built)
    sc = spark.sparkContext
    ranked = "struct<query_id:string,rank:int,doc_id:bigint,score:double>"
    page = "struct<rank:int,doc_id:bigint,score:double>"
    cases = {
        "all_oov": (lambda: reader.batch_search([("a", "zzq_oov"), ("b", "zzq_oov2")], 5), ranked),
        "k_zero": (lambda: reader.batch_search([("a", "the needle0")], 0), ranked),
        "page_size_zero": (lambda: reader.search_page("the needle0", 0, 0), page),
        "page_offset_negative": (lambda: reader.search_page("the needle0", -1, 5), page),
    }
    for group, (run, schema) in cases.items():
        sc.setJobGroup(f"empty-{group}", group)
        try:
            df = run()
            assert df.collect() == [], group
            assert df.schema.simpleString() == schema, group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"empty-{group}") == [], group
