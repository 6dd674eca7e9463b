"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The training-pipeline pattern: image/audio/video travel as ``BINARY``
columns beside typed metadata; decode/feature-extract runs in Arrow-batched
Python (``mapInPandas``) because codecs are Python-library territory.  The
decode libraries (PIL/librosa/av) are NOT in this container, so the decode
kernels are stubbed two ways, both clearly marked:

- ``decode_image`` raises ``NotImplementedError`` unless ``fake=True`` —
  the real-library seam.
- the ``fake`` path derives deterministic pseudo-metadata (width/height/
  format) from the pinned hash spec (functions/hashing.py), so the FULL
  Spark plumbing — schema, Arrow batch shape, partition-preserving
  mapInPandas, fan-out explode — is real and oracle-checkable in SQL.

Schema contract:
  payload        BINARY   -- opaque media bytes
  media_type     STRING
  byte_len       INT
  content_h32    BIGINT   -- h32 of the payload (integrity / exact dedup key)
  width, height  INT      -- fake-decoded
  frame_idx      INT      -- frame_sample fan-out only
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FAKE_W_MOD = 1024
FAKE_MIN_DIM = 16
FRAME_STEP = 7  # fake video: one frame every FRAME_STEP "bytes of payload" / 64


def attach_payload(docs: DataFrame, media_type: str = "image/fake") -> DataFrame:
    """Synthesize the binary payload column from text (UTF-8 bytes) — the
    stand-in for reading real media blobs; everything downstream treats it
    as opaque bytes."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
    )


def _h32_bytes(b: bytes) -> int:
    return int(hashlib.md5(b).hexdigest()[:8], 16)


def decode_image(payload: bytes, fake: bool = False) -> dict:
    """Decode one image payload.  Real path requires PIL (absent here)."""
    if not fake:
        try:
            from PIL import Image  # noqa: F401
        except ImportError as exc:  # pragma: no cover - container has no PIL
            raise NotImplementedError(
                "real image decode needs PIL; run with fake=True in this environment"
            ) from exc
        raise NotImplementedError("real decode path not wired in this container")
    h = _h32_bytes(payload)
    return {
        "width": int(h % FAKE_W_MOD) + FAKE_MIN_DIM,
        "height": int((h // FAKE_W_MOD) % FAKE_W_MOD) + FAKE_MIN_DIM,
        "format": "FAKE",
    }


MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("byte_len", T.IntegerType(), False),
        T.StructField("content_h32", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("format", T.StringType(), False),
    ]
)


def media_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over the opaque payload column.

    mapInPandas keeps input partitioning (no shuffle); each batch is one
    Arrow block, decode runs per-payload inside it (a decode is per-object
    work by nature — the 'no per-row Python' rule targets *scalar* ops)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_image(p, fake=True) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["payload"].map(len).astype("int32"),
                    "content_h32": pdf["payload"].map(_h32_bytes).astype("int64"),
                    "width": pd.Series([m["width"] for m in metas], dtype="int32"),
                    "height": pd.Series([m["height"] for m in metas], dtype="int32"),
                    "format": [m["format"] for m in metas],
                }
            )

    return media.mapInPandas(extract, schema=MEDIA_META_SCHEMA)


FEATURE_BINS = 16


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("bin", T.IntegerType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over the opaque payload: a 16-bin histogram of
    byte high-nibbles — the deterministic stand-in for a real feature
    kernel (e.g. a spectrogram), with the REAL pipeline shape: numpy
    over Arrow batches, one 1→BINS fan-out per payload, no shuffle.

    Output is normalized to (doc_id, bin, n) rows (bins with n=0 omitted)
    so the DuckDB oracle compares scalars, not arrays.  A real extractor
    would swap the numpy kernel and keep the same stage shape.
    """
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bins, ns = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # NULL payload (NULL source text) behaves like empty bytes:
                # no feature rows — same as the oracle's no-rows-for-NULL
                b = np.frombuffer(bytes(payload) if payload is not None else b"", dtype=np.uint8)
                hist = np.bincount(b >> 4, minlength=FEATURE_BINS)
                nz = np.flatnonzero(hist)
                ids.extend([int(doc_id)] * len(nz))
                bins.extend(nz.tolist())
                ns.extend(hist[nz].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "bin": pd.Series(bins, dtype="int32"),
                    "n": pd.Series(ns, dtype="int64"),
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


#: resize-plan target: longest side after resize (training-data thumbnail)
RESIZE_MAX_SIDE = 256


def resize_plan(meta: DataFrame, max_side: int = RESIZE_MAX_SIDE) -> DataFrame:
    """Aspect-preserving resize plan over decoded metadata — the
    transform-stage shape between decode and re-encode in an image
    pipeline.  Pure JVM integer expressions over :func:`media_metadata`
    output (no UDF: the *plan* is scalar arithmetic; only the pixel work —
    absent here with the decode libs — would be Arrow-batched Python).

    new dims = dims scaled so max(w,h) == max_side when larger, else
    unchanged; integer math (``div``) so the DuckDB oracle reproduces it
    exactly.  Output (doc_id, width, height, new_width, new_height,
    resized BOOLEAN).
    """
    mx = F.greatest(F.col("width"), F.col("height"))
    need = mx > max_side
    # div = exact integer division (both engines), no FP rounding to reason about
    new_w = F.when(need, F.expr(f"div(width * {max_side}, greatest(width, height))")).otherwise(
        F.col("width")
    )
    new_h = F.when(need, F.expr(f"div(height * {max_side}, greatest(width, height))")).otherwise(
        F.col("height")
    )
    return meta.select(
        "doc_id",
        "width",
        "height",
        F.greatest(new_w.cast("int"), F.lit(1)).alias("new_width"),
        F.greatest(new_h.cast("int"), F.lit(1)).alias("new_height"),
        need.alias("resized"),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_h32", T.LongType(), False),
    ]
)


def frame_sample(media: DataFrame) -> DataFrame:
    """Fake video frame sampling: fan each payload out to
    ceil(byte_len/64/FRAME_STEP) frames — exercises the 1→N mapInPandas
    explode shape a real frame sampler has.  frame_h32 = h32 of the
    64-byte slice each frame 'decodes'."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_chunks = (len(payload) + 63) // 64
                for fi, chunk in enumerate(range(0, n_chunks, FRAME_STEP)):
                    ids.append(int(doc_id))
                    idxs.append(fi)
                    hs.append(_h32_bytes(payload[chunk * 64 : (chunk + 1) * 64]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_h32": pd.Series(hs, dtype="int64"),
                }
            )

    return media.mapInPandas(sample, schema=FRAME_SCHEMA)
