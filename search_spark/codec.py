"""Posting-block codec: delta + LEB128 varint, with block-max skip metadata.

The reference persists its index as a versioned, flate-compressed byte
stream (/root/reference/index_codec.go:16-43, :98-114) — generic byte-level
compression over row records.  Posting lists admit a much better,
*posting-aware* encoding (the standard IR result): sorted docIDs become
small gaps; gaps and term frequencies become 1-2 byte varints.  Parquet
page compression (zstd/snappy) still applies on top, like the reference's
flate wraps its records.

All encode/decode paths are vectorized numpy — no per-value Python in the
hot loop (the "SIMD of the Python world"; the reference's equivalent concern
is its AVX kernels, /root/reference/internal/cosine/simd/simd.go:33-44).

Block layout (BLOCK_SIZE = 128 postings, mirroring standard block-max
index designs; SURVEY.md §7 M2):

    first_doc     int64   absolute docID of the first posting
    n_docs        int32   postings in this block
    doc_ids_delta binary  varint stream: [doc0 - first_doc(=0), gaps...]
    tfs           binary  varint stream of term frequencies
    block_max_tf  int32   max tf in the block
    block_min_dl  int32   min dl in the block
    block_max_raw double  exact max of the idf-free BM25 term score over the
                          block at the encode-time avgdl (kept for
                          block-level pruning; the scorer reads none of these)

Round-trip identity is property-tested in tests/test_codec.py, the analogue
of the reference's codec round-trip test (/root/reference/index_test.go:44-76).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
FORMAT_VERSION = 1


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b""
    buf = np.zeros((n, 10), dtype=np.uint8)
    tmp = v.copy()
    lengths = np.zeros(n, dtype=np.int64)
    for bpos in range(10):
        byte = (tmp & np.uint64(0x7F)).astype(np.uint8)
        tmp >>= np.uint64(7)
        more = tmp > 0
        buf[:, bpos] = byte | (more.astype(np.uint8) << 7)
        newly_done = (lengths == 0) & ~more
        lengths[newly_done] = bpos + 1
        if not more.any():
            break
    mask = np.arange(10) < lengths[:, None]
    return buf[mask].tobytes()


def varint_decode(data: bytes) -> np.ndarray:
    """Decode an LEB128 stream back to uint64 (vectorized)."""
    if not data:
        return np.zeros(0, dtype=np.uint64)
    arr = np.frombuffer(data, dtype=np.uint8)
    ends = np.flatnonzero((arr & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    runlen = ends - starts + 1
    pos = np.arange(arr.shape[0], dtype=np.uint64) - np.repeat(starts, runlen).astype(np.uint64)
    contrib = (arr & 0x7F).astype(np.uint64) << (np.uint64(7) * pos)
    return np.add.reduceat(contrib, starts)


def encode_doc_ids(doc_ids: np.ndarray, first_doc: int) -> bytes:
    """Delta+varint encode a sorted docID run relative to ``first_doc``."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.empty_like(d)
    deltas[0] = d[0] - first_doc
    deltas[1:] = np.diff(d)
    return varint_encode(deltas)


def decode_doc_ids(data: bytes, first_doc: int, n: int) -> np.ndarray:
    deltas = varint_decode(data)[:n].astype(np.int64)
    return first_doc + np.cumsum(deltas)


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varint_encode(np.asarray(tfs, dtype=np.int64))


def decode_tfs(data: bytes, n: int) -> np.ndarray:
    return varint_decode(data)[:n].astype(np.int64)


def decode_dls(data: bytes, n: int) -> np.ndarray:
    """Doc-length payload decode — THE one implementation every consumer
    (scorers, compaction, tests) must share."""
    return varint_decode(data)[:n].astype(np.int64)


def make_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Split one term's sorted posting run into encoded block rows.

    Per-posting document lengths (``dls``) are *stored in the block* so
    query-time scoring needs no doclens join — the same inline-the-payload
    pattern as the reference's entry rows (/root/reference/index.go:15-18).

    ``block_max_raw`` is the idf-independent part of the BM25 upper bound:
        max over the block of  tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))
    idf is a positive per-term constant, so ``idf * block_max_raw`` is an
    exact, tight block-max score — and the build never has to join the
    dictionary (idf isn't known until global df is, and at 10^12-doc scale
    the dictionary is not broadcastable).  Query time multiplies by the idf
    of each query term (a handful of scalars).

    Inputs must be sorted by doc_id ascending.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    dl = np.asarray(dls, dtype=np.int64)
    raw = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
    blocks = []
    for off in range(0, d.shape[0], block_size):
        sl = slice(off, off + block_size)
        bd, bt, bdl, braw = d[sl], t[sl], dl[sl], raw[sl]
        first = int(bd[0])
        blocks.append(
            {
                "first_doc": first,
                "last_doc": int(bd[-1]),
                "n_docs": int(bd.shape[0]),
                "doc_ids_delta": encode_doc_ids(bd, first),
                "tfs": encode_tfs(bt),
                "dls": varint_encode(bdl.astype(np.uint64)),
                "block_max_tf": int(bt.max()),
                "block_min_dl": int(bdl.min()),
                "block_max_raw": float(braw.max()),
                "cf_block": int(bt.sum()),
            }
        )
    return blocks


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte length (vectorized): 1 + #{i : v >= 128^i}."""
    v = np.asarray(values, dtype=np.uint64)
    nb = np.ones(v.shape[0], dtype=np.int64)
    for i in range(1, 10):
        nb += v >= (np.uint64(1) << np.uint64(7 * i))
    return nb


def encode_runs(
    terms: np.ndarray,
    buckets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Whole-batch block encoder: every (term, doc_bucket) run of a SORTED
    batch encoded in one vectorized pass.  Returns column arrays, one entry
    per block (``term``/``doc_bucket``/stats as numpy arrays, the three
    payload streams as lists of bytes).

    Byte-identical to per-run :func:`make_blocks` (property-tested), but
    with no per-run Python: the run/block structure is derived with numpy
    change-detection, ALL deltas/tfs/dls encode through three whole-batch
    ``varint_encode`` calls sliced at block boundaries via cumulative
    per-value byte lengths, and per-block stats come from
    ``ufunc.reduceat``.  Motivation: posting runs are Zipf-distributed —
    most are a handful of postings — so the per-run path paid fixed numpy
    dispatch ~10× per tiny run, millions of times per unit; that Python
    floor was a top CPU consumer of the whole build (event-log measured).
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    dl = np.asarray(dls, dtype=np.int64)
    n = d.shape[0]
    if n == 0:
        return {
            "term": np.empty(0, dtype=object),
            "doc_bucket": np.empty(0, dtype=np.int32),
            "first_doc": np.empty(0, dtype=np.int64),
            "last_doc": np.empty(0, dtype=np.int64),
            "n_docs": np.empty(0, dtype=np.int32),
            "doc_ids_delta": [],
            "tfs": [],
            "dls": [],
            "block_max_tf": np.empty(0, dtype=np.int32),
            "block_min_dl": np.empty(0, dtype=np.int32),
            "block_max_raw": np.empty(0, dtype=np.float64),
            "cf_block": np.empty(0, dtype=np.int64),
        }
    change = np.flatnonzero((terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1]))
    run_starts = np.concatenate(([0], change + 1))
    run_lens = np.diff(np.concatenate((run_starts, [n])))
    idx_in_run = np.arange(n, dtype=np.int64) - np.repeat(run_starts, run_lens)
    block_starts = np.flatnonzero(idx_in_run % block_size == 0)
    block_ends = np.concatenate((block_starts[1:], [n]))

    # per-block delta streams == make_blocks': first delta 0 (first_doc is
    # the block's own first docID), then in-run diffs (strictly positive —
    # (term, doc) is unique and sorted).  Cross-run diffs would be garbage
    # but every run start IS a block start, so they are all overwritten.
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 0
    deltas[1:] = np.diff(d)
    deltas[block_starts] = 0

    delta_stream = varint_encode(deltas)
    tf_stream = varint_encode(t)
    dl_stream = varint_encode(dl)
    cum_delta = np.concatenate(([0], np.cumsum(varint_lengths(deltas))))
    cum_tf = np.concatenate(([0], np.cumsum(varint_lengths(t))))
    cum_dl = np.concatenate(([0], np.cumsum(varint_lengths(dl))))

    raw = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
    return {
        "term": terms[block_starts],
        "doc_bucket": buckets[block_starts],
        "first_doc": d[block_starts],
        "last_doc": d[block_ends - 1],
        "n_docs": (block_ends - block_starts).astype(np.int32),
        "doc_ids_delta": [
            delta_stream[cum_delta[s] : cum_delta[e]]
            for s, e in zip(block_starts, block_ends)
        ],
        "tfs": [tf_stream[cum_tf[s] : cum_tf[e]] for s, e in zip(block_starts, block_ends)],
        "dls": [dl_stream[cum_dl[s] : cum_dl[e]] for s, e in zip(block_starts, block_ends)],
        "block_max_tf": np.maximum.reduceat(t, block_starts).astype(np.int32),
        "block_min_dl": np.minimum.reduceat(dl, block_starts).astype(np.int32),
        "block_max_raw": np.maximum.reduceat(raw, block_starts),
        "cf_block": np.add.reduceat(t, block_starts),
    }


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) for a block row (mapping with the block fields)."""
    n = int(row["n_docs"])
    doc_ids = decode_doc_ids(row["doc_ids_delta"], int(row["first_doc"]), n)
    tfs = decode_tfs(row["tfs"], n)
    dls = decode_dls(row["dls"], n)
    return doc_ids, tfs, dls
