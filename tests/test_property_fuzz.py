"""Hypothesis property fuzzing over the frozen specs.

The cross-engine contracts (analyzer, hash spec, codec, scoring kernel) are
exactly the places where a drifted edge case silently breaks rank
identity; fuzz them far beyond the fixture corpus.  Spark is intentionally
NOT in the loop here (hypothesis generates hundreds of cases — driver
jobs would be minutes); the Spark-vs-Python agreement is pinned separately
on fixed corpora in test_analyzer/test_pipeline_ops, so transitivity
covers the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from search_spark import codec
from search_spark.analyzer import tokenize, tokenize_pandas
from search_spark.functions.hashing import P31, h32_py, minhash_perm_py, rolling_fp_py
from search_spark.operators.wand import clause_topk, decode_term
from search_spark.oracle import term_score

text_st = st.text(max_size=300)


def _naive_topk(postings, qidf, avgdl, k):
    """Reference top-k: a plain-Python loop over term → [(doc_id, tf, dl)]
    with the oracle's formula, summed in ascending term order, sorted by
    (score DESC, doc_id ASC)."""
    scores: dict[int, float] = {}
    for term in sorted(postings):
        for doc, tf, dl in postings[term]:
            scores[doc] = scores.get(doc, 0.0) + term_score(tf, dl, avgdl, qidf[term])
    return sorted(scores.items(), key=lambda r: (-r[1], r[0]))[:k]


def _kernel_topk(blocks, qidf, avgdl, k):
    """The per-bucket kernel's should-only top-k over term → block frame."""
    by_term = {t: decode_term(g) for t, g in blocks.items()}
    got = clause_topk(by_term, [], sorted(blocks), [], qidf, avgdl, k, None)
    return [] if got is None else [(int(d), float(s)) for d, s in zip(*got)]


@given(st.lists(text_st, max_size=20))
@settings(max_examples=200, deadline=None)
def test_tokenize_python_vs_pandas(texts):
    """Plain-Python and vectorized-pandas tokenizers agree on arbitrary
    unicode (incl. surrogates-adjacent, digits, empty)."""
    got = tokenize_pandas(pd.Series(texts, dtype=object)).tolist() if texts else []
    want = [tokenize(t) for t in texts]
    assert got == want


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_h32_range_and_determinism(s):
    v = h32_py(s)
    assert 0 <= v < 2**32
    assert v == h32_py(s)
    for j in (0, 7, 15):
        p = minhash_perm_py(v, j)
        assert 0 <= p < P31


@given(st.lists(st.text(alphabet="abc012", min_size=1, max_size=8), max_size=50))
@settings(max_examples=100, deadline=None)
def test_rolling_fp_prefix_sensitivity(tokens):
    """Fingerprint is deterministic and (for nonempty input) depends on the
    last token — the rolling property."""
    fp = rolling_fp_py(tokens)
    assert 0 <= fp < P31
    if tokens:
        changed = tokens[:-1] + [tokens[-1] + "x"]
        # not a collision-freeness proof — just that the fold consumes input
        assert rolling_fp_py(tokens) == rolling_fp_py(list(tokens))
        assert isinstance(rolling_fp_py(changed), int)


@given(
    st.lists(
        st.tuples(st.integers(0, 2**40), st.integers(1, 1000)),
        min_size=1,
        max_size=400,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=150, deadline=None)
def test_codec_roundtrip_arbitrary_gaps(pairs):
    """Delta+varint round-trip on arbitrary sorted doc_id/tf lists,
    including 40-bit ids (stream range) and huge gaps."""
    pairs = sorted(pairs)
    docs = np.array([p[0] for p in pairs], dtype=np.int64)
    tfs = np.array([p[1] for p in pairs], dtype=np.int64)
    dls = (tfs % 60) + 1
    blocks = codec.make_blocks(docs, tfs, dls, avgdl=25.0)
    out_d, out_t, out_dl = [], [], []
    for b in blocks:
        d, t, dl = codec.decode_block(b)
        out_d.append(d)
        out_t.append(t)
        out_dl.append(dl)
    assert (np.concatenate(out_d) == docs).all()
    assert (np.concatenate(out_t) == tfs).all()
    assert (np.concatenate(out_dl) == dls).all()


@given(
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(1, 6), st.integers(1, 80)),
        min_size=1,
        max_size=300,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 4),
    st.integers(1, 30),
    st.floats(5.0, 80.0),
)
@settings(max_examples=150, deadline=None)
def test_scorer_pair_fuzz(postings, n_terms, k, avgdl):
    """Kernel == naive reference on arbitrary posting data split across
    arbitrary term assignments — scores float-equal, order identical."""
    rng = np.random.default_rng(len(postings) * 31 + n_terms)
    postings = sorted(postings)
    assign = rng.integers(0, n_terms, size=len(postings))
    by_term, raw, qidf = {}, {}, {}
    for t in range(n_terms):
        rows = [p for p, a in zip(postings, assign) if a == t]
        if not rows:
            continue
        term = f"t{t}"
        docs = np.array([r[0] for r in rows], dtype=np.int64)
        blk = codec.make_blocks(
            docs,
            np.array([r[1] for r in rows], dtype=np.int64),
            np.array([r[2] for r in rows], dtype=np.int64),
            avgdl,
        )
        by_term[term] = pd.DataFrame(blk)
        raw[term] = rows
        qidf[term] = float(0.05 + (t + 1) * 0.7)
    if not by_term:
        return
    assert _kernel_topk(by_term, qidf, avgdl, k) == _naive_topk(raw, qidf, avgdl, k)


@given(st.lists(text_st, min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_tf_batches_matches_naive_counts(texts):
    """The integer-key tf stage (operators/indexer._tf_batches) must equal
    a naive per-doc Counter over the frozen analyzer, for ANY text."""
    from collections import Counter

    from search_spark.operators.indexer import _tf_batches

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64) * 7 + 3,  # non-dense ids
            "doc_bucket": (np.arange(len(texts)) % 4).astype("int32"),
            "text": texts,
        }
    )
    got = {}
    for out in _tf_batches(iter([pdf])):
        for r in out.itertuples(index=False):
            got[(r.doc_id, r.term)] = (r.tf, r.dl, r.doc_bucket)
    want = {}
    for i, t in enumerate(texts):
        toks = tokenize(t)
        for term, tf in Counter(toks).items():
            want[(int(pdf["doc_id"][i]), term)] = (
                tf,
                len(toks),
                int(pdf["doc_bucket"][i]),
            )
    assert got == want


@given(
    st.lists(  # per-term: postings as (doc_id gaps, tf), plus split points
        st.tuples(
            st.lists(st.tuples(st.integers(1, 5), st.integers(1, 60)), min_size=1, max_size=12),
            st.integers(0, 3),  # number of extra block splits
        ),
        min_size=1,
        max_size=4,
    ),
    st.integers(1, 5),  # k
)
@settings(max_examples=250, deadline=None)
def test_wand_vs_dense_on_multiblock_layouts(term_specs, k):
    """Kernel == naive reference over MULTI-BLOCK per-term layouts (the
    pre-compaction segment shape): postings runs are split at random
    points into separate make_blocks calls, exactly like independent
    segments would produce, and the block rows of a term arrive in no
    particular order."""
    avgdl = 7.0
    by_term, raw = {}, {}
    for ti, (postings, n_splits) in enumerate(term_specs):
        doc = 0
        rows = []
        for gap, tf in postings:
            doc += gap
            rows.append((doc, tf, max(1, tf)))
        # deterministic split points derived from the spec
        cuts = sorted({1 + (i * len(rows)) // (n_splits + 1) for i in range(1, n_splits + 1)} - {len(rows)})
        pieces, start = [], 0
        for c in cuts + [len(rows)]:
            if c > start:
                pieces.append(rows[start:c])
                start = c
        frames = []
        for piece in pieces:
            d = np.array([r[0] for r in piece], dtype=np.int64)
            t = np.array([r[1] for r in piece], dtype=np.int64)
            dl = np.array([r[2] for r in piece], dtype=np.int64)
            frames.append(pd.DataFrame(codec.make_blocks(d, t, dl, avgdl)))
        by_term[f"t{ti}"] = pd.concat(frames[::-1], ignore_index=True)
        raw[f"t{ti}"] = rows
    qidf = {t: 0.5 + 0.25 * i for i, t in enumerate(sorted(by_term))}
    assert _kernel_topk(by_term, qidf, avgdl, k) == _naive_topk(raw, qidf, avgdl, k)


@given(st.lists(text_st, min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_tf_arrow_matches_tf_batches(texts):
    """The dictionary-encoded Arrow tf stage (mapInArrow hot path) must
    carry exactly the same (doc_id, term) -> (tf, dl, doc_bucket)
    information as the pandas reference twin, for ANY text: tids resolve
    to terms through the batch's own named rows, tf/dl unpack from the
    packed long, the bucket derives from doc_id, and every (term, bucket)
    pair of the batch must have a named (non-null term) row."""
    import pyarrow as pa

    from search_spark.operators.indexer import _tf_arrow_fn, _tf_batches

    dbs = 16
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64) * 7 + 3,
            "doc_bucket": ((np.arange(len(texts), dtype=np.int64) * 7 + 3) // dbs).astype(
                "int32"
            ),
            "text": texts,
        }
    )
    ref = {}
    for out in _tf_batches(iter([pdf])):
        for r in out.itertuples(index=False):
            ref[(r.doc_id, r.term)] = (r.tf, r.dl, r.doc_bucket)
    got = {}
    named = set()
    for rb in _tf_arrow_fn(0, 0, dbs)(
        iter([pa.RecordBatch.from_pandas(pdf[["doc_id", "text"]])])
    ):
        t = rb.to_pydict()
        tid2term = {
            tid: term for tid, term in zip(t["tid"], t["term"]) if term is not None
        }
        for tid, doc_id, tfdl, term in zip(
            t["tid"], t["doc_id"], t["tfdl"], t["term"]
        ):
            resolved = tid2term[tid]  # KeyError = unnamed tid → invariant broken
            if term is not None:
                assert term == resolved  # no in-batch tid collision
                named.add((resolved, doc_id // dbs))
            got[(doc_id, resolved)] = (tfdl >> 32, tfdl & 0xFFFFFFFF, doc_id // dbs)
    assert got == ref
    # naming invariant: every (term, bucket) pair has a named row
    assert named == {(term, db) for (_, term), (_, _, db) in got.items()}
