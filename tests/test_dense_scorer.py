"""The per-bucket BM25 kernel (wand.decode_blocks + wand.clause_topk) against
a naive reference — the engine's analogue of the reference engine's
SIMD-vs-scalar kernel equivalence tests (its
internal/cosine/simd/simd_test.go:52-74).

The reference loops in plain Python over the raw postings with the
oracle's formula, sums in ascending term order and sorts by
(score DESC, doc_id ASC).  The kernel must return the IDENTICAL
(doc_id, score) list — same docs, same ranks, float-equal scores — on
arbitrary posting data, including dense Zipf-head shapes and exact-tie
shapes."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from search_spark import codec
from search_spark.operators.wand import clause_topk, decode_blocks
from search_spark.oracle import term_score

AVGDL = 20.0


def naive_topk(postings, qidf, avgdl, k):
    """postings: term → [(doc_id, tf, dl)] → [(doc_id, score)] top-k."""
    scores: dict[int, float] = {}
    for term in sorted(postings):
        for doc, tf, dl in postings[term]:
            doc = int(doc)
            scores[doc] = scores.get(doc, 0.0) + term_score(int(tf), int(dl), avgdl, qidf[term])
    return sorted(scores.items(), key=lambda r: (-r[1], r[0]))[:k]


def kernel_topk(blocks, qidf, avgdl, k):
    """blocks: term → encoded block DataFrame → the kernel's should-only
    top-k as [(doc_id, score)], decoded as one bucket group's Arrow table."""
    table = pa.Table.from_pandas(
        pd.concat([b.assign(term=t) for t, b in blocks.items()], ignore_index=True),
        preserve_index=False,
    )
    by_term = decode_blocks(table)
    got = clause_topk(by_term, [], sorted(blocks), [], qidf, avgdl, k, None)
    if got is None:
        return []
    return [(int(d), float(s)) for d, s in zip(*got)]


def _term(doc_ids, tfs, dls, avgdl=AVGDL):
    """(encoded block DataFrame, raw postings) for one term."""
    docs = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    blocks = pd.DataFrame(codec.make_blocks(docs, tfs, dls, avgdl))
    return blocks, list(zip(docs, tfs, dls))


def _check(terms, qidf, avgdl, k):
    blocks = {t: b for t, (b, _) in terms.items()}
    postings = {t: p for t, (_, p) in terms.items()}
    got = kernel_topk(blocks, qidf, avgdl, k)
    assert got == naive_topk(postings, qidf, avgdl, k)  # docs, order, exact floats
    return got


def _random_corpus(rng, n_terms, n_docs, density):
    terms, qidf = {}, {}
    for t in range(n_terms):
        term = f"t{t:02d}"
        mask = rng.random(n_docs) < density[t]
        docs = np.flatnonzero(mask)
        if docs.size == 0:
            continue
        tfs = rng.integers(1, 6, size=docs.size)
        dls = rng.integers(5, 60, size=docs.size)
        terms[term] = _term(docs, tfs, dls)
        qidf[term] = float(rng.uniform(0.1, 3.0))
    return terms, qidf


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("k", [1, 10, 50])
def test_wand_dense_parity_random(seed, k):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 6))
    density = rng.uniform(0.01, 0.9, size=n_terms)
    terms, qidf = _random_corpus(rng, n_terms, 2000, density)
    if not terms:
        return
    _check(terms, qidf, AVGDL, k)


def test_parity_exact_ties():
    # identical tf/dl everywhere → all scores equal → pure doc_id tiebreak
    docs = np.arange(100, 400, 3)
    terms = {"a": _term(docs, np.full(docs.size, 2), np.full(docs.size, 20))}
    got = _check(terms, {"a": 1.5}, AVGDL, 7)
    assert [doc for doc, _ in got] == list(docs[:7])  # ascending doc_id on ties


def test_parity_multi_block_head_term():
    # >8 blocks for one term + a sparse term: exercises the multi-block
    # decode and the cross-term accumulation order
    docs_a = np.arange(0, 1500)           # dense head term, 12 blocks
    docs_b = np.arange(0, 1500, 97)       # sparse term
    terms = {
        "a": _term(docs_a, (docs_a % 4) + 1, (docs_a % 37) + 5),
        "b": _term(docs_b, (docs_b % 3) + 1, (docs_b % 29) + 5),
    }
    assert len(terms["a"][0]) > 8
    _check(terms, {"a": 0.2, "b": 2.7}, AVGDL, 10)


def test_pruning_safe_under_avgdl_drift():
    """Blocks encoded with a stale/hinted avgdl must still give the exact
    top-k when queried under a different (larger) live avgdl — the stored
    block metadata is only valid for the avgdl it was encoded with, and a
    streaming store's avgdl drifts."""
    rng = np.random.default_rng(99)
    docs = np.sort(rng.choice(5000, size=1000, replace=False))
    tfs = rng.integers(1, 5, size=1000)
    dls = rng.integers(5, 60, size=1000)
    terms = {"a": _term(docs, tfs, dls, avgdl=10.0)}  # wrong hint
    _check(terms, {"a": 1.3}, 30.0, 10)  # live avgdl larger than the hint


def test_k_edge_cases():
    docs = np.arange(50)
    terms = {"a": _term(docs, np.ones(50), np.full(50, 10))}
    assert _check(terms, {"a": 1.0}, AVGDL, 0) == []
    assert len(_check(terms, {"a": 1.0}, AVGDL, 1)) == 1
    assert len(_check(terms, {"a": 1.0}, AVGDL, 100)) == 50  # k > candidates → all
