"""Seeded benchmark inputs: the transcript corpus and the query mixes.

Everything here is a pure function of the seed.  The corpus is
``search_spark.corpus.gen_conv`` over a conversation range the seed picks,
and queries are drawn with ``numpy.random.Generator(PCG64(seed))``, so the
program under test only ever sees generated rows and query strings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from search_spark import corpus

#: conversation ordinals stay below 10**6 so that conv_id ("conv-%06d")
#: sorts like the ordinal and consecutive ranges stay contiguous in doc order
MAX_CONV = 999_999

#: point-query shapes, cycled: one in five looks up a planted, not yet
#: queried needle — an unseen term, so the reader's term cache misses and
#: the dictionary lookup job runs — the others have 1-4 Zipf terms.
#: Cycling, not sampling, the shapes keeps every run's mix the same, so
#: seeds change which terms are asked, not how much work a query is.
POINT_SHAPES = ("needle", 1, 2, 3, 4)

#: share of batch queries with 5-10 terms; long head-heavy queries push
#: (query, doc_bucket) groups past WAND_MAX_POSTINGS onto the dense scorer.
#: Every batch gets the same length histogram, and its terms are a
#: stratified sample of the Zipf distribution, for the reason above: a
#: batch's work depends mostly on how many head terms it holds.
LONG_SHARE = 0.4


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run."""

    base_convs: int  # conversations in the batch-built base corpus
    batch_convs: int  # conversations per ingest micro-batch (traced run)
    ingest_batches: int  # micro-batches landed and ingested (traced run)
    batch_queries: int  # queries per batch_search call on batch_query


#: ~3.5k base turns, so that one run, Spark start-up and the cold first
#: build and compaction included, stays near a minute on 4 cores and a
#: round of about fifty runs under an hour.  192 queries per batch_search
#: call put ~80% of a call's wall time in the scoring stage (2-3 s a call
#: on 4 cores).  Two ~1k-turn micro-batches in the traced run: the first
#: pays the stream's cold start, so one alone would say little
FULL = Sizes(
    base_convs=500,
    batch_convs=150,
    ingest_batches=2,
    batch_queries=192,
)
#: smallest sizes, for the smoke check of the benchmark itself
SMOKE = Sizes(
    base_convs=60,
    batch_convs=corpus.NEEDLE_STRIDE,
    ingest_batches=2,
    batch_queries=8,
)


def _zipf_cdf() -> np.ndarray:
    """The corpus generator's term distribution (rank-ordered Zipf)."""
    ranks = np.arange(1, corpus.VOCAB_SIZE + 1, dtype=np.float64)
    w = 1.0 / np.power(ranks, corpus.ZIPF_S)
    return np.cumsum(w / w.sum())


def conv_rows(first: int, n: int) -> pd.DataFrame:
    """Transcript rows of conversations ``first .. first+n-1`` in
    (conv_id, turn_idx) order — the engine's doc_id order."""
    rows: list[dict] = []
    for c in range(first, first + n):
        rows.extend(corpus.gen_conv(c))
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def needles_in(first: int, n: int) -> list[int]:
    """``j`` of every ``needle{j}`` planted in conversations first..first+n-1."""
    s = corpus.NEEDLE_STRIDE
    return [c // s for c in range(-(-first // s) * s, first + n, s)]


class Inputs:
    """The corpus and query stream of one run, drawn from ``seed``."""

    def __init__(self, seed: int, sizes: Sizes):
        self.sizes = sizes
        self.rng = np.random.Generator(np.random.PCG64(seed))
        total = sizes.base_convs + sizes.ingest_batches * sizes.batch_convs
        self.first_conv = int(self.rng.integers(0, MAX_CONV - total))
        self._cdf = _zipf_cdf()
        self._needles = needles_in(self.first_conv, sizes.base_convs)
        self.rng.shuffle(self._needles)
        self._points = 0
        self.query_lengths: dict[int, int] = {}

    def base(self) -> pd.DataFrame:
        return conv_rows(self.first_conv, self.sizes.base_convs)

    def batch_range(self, b: int) -> tuple[int, int]:
        """(first conv, conv count) of ingest micro-batch ``b``."""
        first = self.first_conv + self.sizes.base_convs + b * self.sizes.batch_convs
        return first, self.sizes.batch_convs

    def _terms(self, n: int, u: np.ndarray | None = None) -> str:
        """``n`` Zipf terms, from the uniform draws ``u`` when given."""
        u = self.rng.random(n) if u is None else u
        idx = np.minimum(np.searchsorted(self._cdf, u), corpus.VOCAB_SIZE - 1)
        self.query_lengths[n] = self.query_lengths.get(n, 0) + 1
        return " ".join(corpus.VOCAB[i] for i in idx)

    def head_query(self) -> str:
        """A two-term Zipf query (ingest-phase probes)."""
        return self._terms(2)

    def point_query(self) -> str:
        """The next shape of POINT_SHAPES."""
        shape = POINT_SHAPES[self._points % len(POINT_SHAPES)]
        self._points += 1
        if shape == "needle" and self._needles:
            self.query_lengths[1] = self.query_lengths.get(1, 0) + 1
            return f"needle{self._needles.pop()}"
        return self._terms(1 if shape == "needle" else shape)

    def batch(self) -> list[str]:
        """One batch: head-heavy Zipf terms, LONG_SHARE of the queries
        5-10 terms long and the rest 1-4, lengths spread evenly."""
        n = self.sizes.batch_queries
        n_long = round(n * LONG_SHARE)
        lengths = [5 + i % 6 for i in range(n_long)] + [1 + i % 4 for i in range(n - n_long)]
        self.rng.shuffle(lengths)
        slots = sum(lengths)
        u = (np.arange(slots) + self.rng.random(slots)) / slots  # one draw per stratum
        self.rng.shuffle(u)
        ends = np.cumsum(lengths)
        return [self._terms(k, u[e - k : e]) for k, e in zip(lengths, ends)]
