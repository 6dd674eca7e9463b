"""Codec round-trip property tests.

Analogue of the reference's codec round-trip (/root/reference/index_test.go:44-76)
and the FIXTURES.md §4 spec: decode(encode(x)) == x on seeded random sorted
docID lists, and block-max metadata equals the true max per block.
"""

from __future__ import annotations

import numpy as np
import pytest

from search_spark import codec


@pytest.mark.parametrize("seed", range(8))
def test_varint_roundtrip(seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n = int(rng.integers(1, 10_000))
    # mix of tiny and huge values to cross every byte-length boundary
    vals = rng.integers(0, 2**62, size=n, dtype=np.int64)
    small = rng.random(n) < 0.5
    vals[small] = rng.integers(0, 300, size=int(small.sum()))
    got = codec.varint_decode(codec.varint_encode(vals.astype(np.uint64)))
    assert np.array_equal(got.astype(np.int64), vals)


def test_varint_boundaries():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**62 - 1], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").shape == (0,)


@pytest.mark.parametrize("seed", range(8))
def test_docid_roundtrip(seed):
    rng = np.random.Generator(np.random.PCG64([1, seed]))
    n = int(rng.integers(1, 5_000))
    gaps = rng.geometric(0.01, size=n)
    doc_ids = np.cumsum(gaps).astype(np.int64) + int(rng.integers(0, 2**40))
    first = int(doc_ids[0])
    enc = codec.encode_doc_ids(doc_ids, first)
    assert np.array_equal(codec.decode_doc_ids(enc, first, n), doc_ids)


@pytest.mark.parametrize("seed", range(4))
def test_make_blocks(seed):
    rng = np.random.Generator(np.random.PCG64([2, seed]))
    n = int(rng.integers(1, 1000))
    doc_ids = np.cumsum(rng.integers(1, 50, size=n)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    dls = rng.integers(5, 100, size=n).astype(np.int64)
    avgdl = 33.3
    blocks = codec.make_blocks(doc_ids, tfs, dls, avgdl)

    assert sum(b["n_docs"] for b in blocks) == n
    off = 0
    k1, b_ = 1.2, 0.75
    true_raw = tfs * (k1 + 1) / (tfs + k1 * (1 - b_ + b_ * dls / avgdl))
    for blk in blocks:
        d, t, dl = codec.decode_block(blk)
        m = blk["n_docs"]
        assert np.array_equal(d, doc_ids[off : off + m])
        assert np.array_equal(t, tfs[off : off + m])
        assert np.array_equal(dl, dls[off : off + m])
        assert blk["block_max_tf"] == tfs[off : off + m].max()
        assert blk["block_max_raw"] == pytest.approx(true_raw[off : off + m].max(), abs=0)
        assert blk["cf_block"] == tfs[off : off + m].sum()
        assert blk["first_doc"] == doc_ids[off]
        assert blk["last_doc"] == doc_ids[off + m - 1]
        assert m <= codec.BLOCK_SIZE
        off += m


def test_encode_runs_identical_to_make_blocks():
    """The whole-batch vectorized encoder must be BYTE-identical to the
    per-run make_blocks assembly it replaced, over fuzzed multi-run
    batches (tiny runs, block-boundary runs, multi-block runs)."""
    import numpy as np

    from search_spark import codec

    rng = np.random.default_rng(23)
    for trial in range(30):
        n_runs = int(rng.integers(1, 40))
        terms, buckets, doc_ids, tfs, dls = [], [], [], [], []
        for r in range(n_runs):
            ln = int(rng.choice([1, 2, 3, 127, 128, 129, 300, int(rng.integers(1, 500))]))
            term = f"t{int(rng.integers(0, 8)):02d}"
            bucket = int(rng.integers(0, 3))
            d0 = int(rng.integers(0, 10_000))
            gaps = rng.integers(1, 2000, ln)
            ids = d0 + np.cumsum(gaps)
            terms += [term] * ln
            buckets += [bucket] * ln
            doc_ids += ids.tolist()
            tfs += rng.integers(1, 300, ln).tolist()
            dls += rng.integers(1, 5000, ln).tolist()
        # runs must be contiguous by (term, bucket): fuzz above may repeat a
        # (term, bucket) in adjacent runs — merge-safe because make_blocks
        # is applied per change-detected run either way; emulate exactly:
        terms = np.asarray(terms, dtype=object)
        buckets = np.asarray(buckets, dtype=np.int32)
        d = np.asarray(doc_ids, dtype=np.int64)
        t = np.asarray(tfs, dtype=np.int64)
        dl = np.asarray(dls, dtype=np.int64)
        avgdl = float(rng.uniform(5, 500))

        got = codec.encode_runs(terms, buckets, d, t, dl, avgdl)

        change = np.flatnonzero((terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1]))
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [len(d)]))
        want = []
        for s, e in zip(starts, ends):
            for blk in codec.make_blocks(d[s:e], t[s:e], dl[s:e], avgdl):
                blk["term"] = terms[s]
                blk["doc_bucket"] = int(buckets[s])
                want.append(blk)
        assert len(want) == len(got["term"]), trial
        for i, blk in enumerate(want):
            assert got["term"][i] == blk["term"]
            assert int(got["doc_bucket"][i]) == blk["doc_bucket"]
            assert int(got["first_doc"][i]) == blk["first_doc"]
            assert int(got["last_doc"][i]) == blk["last_doc"]
            assert int(got["n_docs"][i]) == blk["n_docs"]
            assert got["doc_ids_delta"][i] == blk["doc_ids_delta"], (trial, i)
            assert got["tfs"][i] == blk["tfs"], (trial, i)
            assert got["dls"][i] == blk["dls"], (trial, i)
            assert int(got["block_max_tf"][i]) == blk["block_max_tf"]
            assert int(got["block_min_dl"][i]) == blk["block_min_dl"]
            assert float(got["block_max_raw"][i]) == blk["block_max_raw"]
            assert int(got["cf_block"][i]) == blk["cf_block"]
