"""One benchmark run: a single closed-loop client driving the engine.

1. set-up: Spark session, seeded corpus, batch ``build_index``,
   ``compact_index``, ``IndexReader``, oracle, and untimed warm-up calls of
   the workload's kind;
2. the measured phase: for ``--seconds``, ``batch_search`` calls of the
   workload's kind, one after the other (``point_query``: one query a call;
   ``batch_query``: ``batch_queries`` queries a call).

A traced run then goes on with the write path, which no end-to-end metric
depends on: micro-batches land as parquet files, each goes through
``start_ingest(available_now=True)`` -> ``finalize_stream`` ->
``IndexReader.refresh`` -> probe queries on the multi-segment store; then
``compact_index`` and a verified probe pass on the compacted store; then
direct calls into single layers.

Every answer is compared with ``OracleIndex.search`` over the same rows on
rank, doc_id and score_micro; write-path probes are compared on
(conv_id, turn_idx) through ``IndexReader.rehydrate``.  A mismatch or an
exception counts as a failed operation and the run goes on.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from urllib.parse import unquote, urlparse

from . import tracing
from .inputs import Inputs, Sizes

K = 10
WORKLOADS = ("point_query", "batch_query")
#: head queries on the multi-segment store after each ingest batch
HEAD_PROBES = 2
#: docs per doc_bucket: ~4 buckets (~3.5k docs) at the full size, so the
#: scoring stage runs as 4 tasks (one per core of local[4]) and a bucket
#: group holds enough postings for the dense scorer
DOC_BUCKET_SIZE = 1024
#: the reference loop: a fixed pure-Python loop timed just before every
#: measured call.  The shared host's speed drifts by 1.5x and more in
#: spells of seconds to minutes that slow all its cores at once; a call's time
#: scaled by REF_NOMINAL_S / (the loop's time) is what the call would take
#: at the reference speed, and its median over a run no longer follows the
#: spell the run fell in.  REF_NOMINAL_S is the loop's time on an idle core
#: of the 4-core Xeon (Sapphire Rapids, KVM) the benchmark was written on.
REF_LOOPS = 500_000
REF_NOMINAL_S = 0.035


def start_spark(workdir: str, cores: int):
    """A local[cores] session whose files all live under ``workdir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    # the env var wins over spark.local.dir in local mode; pin both
    os.environ["SPARK_LOCAL_DIRS"] = local
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001 - owns the JVM process
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - never leave the JVM behind
        proc.kill()
        proc.wait()


def reference_s(call: int) -> float:
    """Seconds the reference loop takes now (see REF_LOOPS), on core
    ``call`` mod the cores this thread may use: cores differ in speed at
    any one time, so successive calls sample all of them in turn."""
    allowed = os.sched_getaffinity(0)
    cpus = sorted(allowed)
    os.sched_setaffinity(0, {cpus[call % len(cpus)]})
    try:
        t0 = time.perf_counter()
        x = 0
        for i in range(REF_LOOPS):
            x += i * i % 7
        return time.perf_counter() - t0
    finally:
        os.sched_setaffinity(0, allowed)


def _pctl(xs: list[float], p: float) -> float | None:
    """Nearest-rank percentile; None (not measured) for no samples."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, -(-len(xs) * p // 100) - 1))] if xs else None


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def _per(a: float, b: float) -> float | None:
    """a / b; None (not measured) when b is 0, e.g. every sample failed."""
    return a / b if b else None


def _scale(x: float | None, f: float) -> float | None:
    return None if x is None else x * f


def _micro(rows) -> list[tuple[int, int]]:
    return [(int(r["doc_id"]), round(r["score"] * 1e6)) for r in sorted(rows, key=lambda r: r["rank"])]


@contextlib.contextmanager
def _traced_calls(tracer: tracing.Tracer, module, names: dict[str, str]):
    """Put a span around calls to ``module.<attr>`` for the duration (calls
    made through the module's globals, like build_index's, are seen)."""
    saved = {a: getattr(module, a) for a in names}

    def wrap(fn, span_name):
        def traced(*a, **kw):
            with tracer.span(span_name, cpu=True):
                return fn(*a, **kw)

        return traced

    for a, span_name in names.items():
        setattr(module, a, wrap(saved[a], span_name))
    try:
        yield
    finally:
        for a, fn in saved.items():
            setattr(module, a, fn)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, sizes: Sizes, trace: bool, workdir: str):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
        self.workload = workload
        self.seconds = seconds
        self.sizes = sizes
        self.workdir = workdir
        self.inputs = Inputs(seed, sizes)
        self.tracer = tracing.Tracer(trace)
        self.cores = os.cpu_count() or 1
        self.attempted = 0
        self.failed = 0
        self.m: dict[str, float | None] = {}  # end-to-end metrics; None: not measured
        self.layer: dict[str, float | None] = {}  # per-layer metrics (traced run)
        self.props: dict = {"workload": workload, "seed": seed, "cores": self.cores}
        self._expect_cache: dict[str, list] = {}
        self._calls: list = []  # spans of the measured phase's calls (traced run)
        self._bucket_postings: dict[str, Counter] = {}
        self.spark = self.reader = None
        self.queries: list[str] = []  # the measured phase's queries

    # ---- bookkeeping ---------------------------------------------------
    def _fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def _guarded(self, what: str, fn, *args, **kw) -> None:
        """Run one phase; an exception that escapes it counts as a failed
        operation and the run goes on."""
        try:
            fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            self.attempted += 1
            self._fail(what, e)

    def _expect(self, text: str) -> list[tuple[int, int]]:
        if text not in self._expect_cache:
            self._expect_cache[text] = [(d, round(s * 1e6)) for d, s in self.oracle.search(text, K)]
        return self._expect_cache[text]

    def _check(self, what: str, text: str, rows) -> bool:
        ok = _micro(rows) == self._expect(text)
        if not ok:
            self._fail(f"{what}: {text!r} does not match the oracle")
        return ok

    def _next_call(self) -> list[str]:
        """The queries of the workload's next ``batch_search`` call."""
        return [self.inputs.point_query()] if self.workload == "point_query" else self.inputs.batch()

    # ---- phases --------------------------------------------------------
    def run(self) -> None:
        steal0 = tracing.cpu_steal()
        t0 = self._t0 = time.perf_counter()
        try:
            self._guarded("set-up", self.setup)
            self.m["setup_s"] = time.perf_counter() - t0
            if self.reader is None:
                return  # no index to query
            self._guarded("queries", self.query_phase, self.seconds)
            if self.tracer.enabled:
                self._guarded("write path", self.write_phase)
                self._guarded("layer probes", self.layer_probes)
                self._guarded("status store", self.tracer.finish, self.spark)
                self._guarded("per-layer metrics", self.layer_metrics)
        finally:
            s1, a1 = tracing.cpu_steal()
            self.props["steal_share"] = (s1 - steal0[0]) / max(1, a1 - steal0[1])
            if self.spark is not None:
                stop_spark(self.spark)

    def setup(self) -> None:
        from search_spark.operators import indexer
        from search_spark.operators.wand import IndexReader
        from search_spark.oracle import OracleIndex
        from search_spark.sources.index_store import IndexStore

        t0 = time.perf_counter()
        with self.tracer.span("spark.session_start"):
            self.spark = start_spark(self.workdir, self.cores)
        self.layer["spark.session_start_s"] = time.perf_counter() - t0

        base = self.inputs.base()
        self.base = base
        self.base_path = os.path.join(self.workdir, "corpus", "base.parquet")
        os.makedirs(os.path.dirname(self.base_path))
        base.to_parquet(self.base_path, coerce_timestamps="us", allow_truncated_timestamps=True)
        self.turns = len(base)

        self.store = IndexStore(os.path.join(self.workdir, "index"), doc_bucket_size=DOC_BUCKET_SIZE, term_buckets=8)
        names = {"stage_docs": "indexer.stage_docs", "build_unit": "indexer.build_unit", "finalize": "indexer.finalize"}
        ctx = _traced_calls(self.tracer, indexer, names) if self.tracer.enabled else contextlib.nullcontext()
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            with ctx, self.tracer.span("indexer.build_index", cpu=True):
                transcripts = self.spark.read.parquet(self.base_path)
                indexer.build_index(self.spark, transcripts, self.store, n_units=2, unit_parallelism=2)
        except Exception as e:  # noqa: BLE001 - nothing to query; the run reports it
            self._fail("build_index", e)
            return
        # one cold build a run: too noisy between runs for an end-to-end bound
        self.layer["indexer.build_turns_per_s"] = self.turns / (time.perf_counter() - t0)
        if self._compact("base") is None:
            return
        self.m["index_bytes_per_turn"] = self._index_bytes() / self.turns
        self.props["segments"] = len(self.store.checkpoints().get("stream_batches", {}))
        self.reader = IndexReader(self.spark, self.store)

        docs = base[["conv_id", "turn_idx", "text"]].copy()
        docs["doc_id"] = range(len(docs))  # dense rank under (conv_id, turn_idx)
        self.oracle = OracleIndex.build(docs)
        self.doc_key = dict(zip(docs["doc_id"], zip(docs["conv_id"], docs["turn_idx"])))
        self.props.update(
            base_turns=len(base),
            base_tokens=sum(self.oracle.doclens.values()),
            vocab=len(self.oracle.postings),
        )
        # warm-up: the first calls pay JVM code generation and the start of
        # the Python workers (one per core), which no later call would
        for texts in ([self.inputs.head_query()], [self.inputs.head_query()], *self._warmup_batches()):
            answer = self._call(texts)
            if answer is not None:
                for t, rows in zip(texts, answer[0]):
                    self._check("warm-up query", t, rows)

    def _warmup_batches(self) -> list[list[str]]:
        return [self.inputs.batch()] if self.workload == "batch_query" else []

    def _compact(self, op: str) -> float | None:
        """``compact_index`` then ``refresh``: the compaction's seconds, or
        None when it raised."""
        from search_spark.operators.compact import compact_index

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("compact.compact_index", op=op, cpu=True):
                compact_index(self.spark, self.store)
        except Exception as e:  # noqa: BLE001 - counted; the caller decides
            self._fail(f"compact_index ({op})", e)
            return None
        seconds = time.perf_counter() - t0
        if self.reader is not None:
            with self.tracer.span("index_store.refresh"):
                self.reader.refresh()
        return seconds

    def _postings_files(self) -> list[str]:
        return self.store.load_postings_df(self.spark).inputFiles()

    def _index_bytes(self) -> int:
        """On-disk bytes of the served postings plus the dictionary."""
        dict_dir = self.store.dictionary_path
        dict_files = [os.path.join(r, f) for r, _, fs in os.walk(dict_dir) for f in fs if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(unquote(urlparse(f).path)) for f in self._postings_files())
        return nbytes + sum(os.path.getsize(f) for f in dict_files)

    def _call(self, texts: list[str], spans: list | None = None):
        """One ``batch_search`` call over ``texts``, unchecked: (rows per
        query in ``texts`` order, plan seconds, total seconds), or None when
        it raised, which fails every query of the call."""
        self.attempted += len(texts)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("wand.call", cpu=True) as sp:
                if sp is not None and spans is not None:
                    spans.append(sp)
                with self.tracer.span("wand.plan"):
                    df = self.reader.batch_search([(f"q{j}", t) for j, t in enumerate(texts)], K)
                t1 = time.perf_counter()
                with self.tracer.span("wand.exec"):
                    rows = df.collect()
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            for t in texts:
                self._fail(f"query {t!r}", e)
            return None
        t2 = time.perf_counter()
        by_q: dict[str, list] = {f"q{j}": [] for j in range(len(texts))}
        for r in rows:
            by_q[r["query_id"]].append(r)
        return [by_q[f"q{j}"] for j in range(len(texts))], t1 - t0, t2 - t0

    def query_phase(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        answers = []
        calls = 0
        while time.perf_counter() < deadline:
            texts = self._next_call()
            self.queries.extend(texts)
            ref_s = reference_s(calls)
            calls += 1
            answer = self._call(texts, self._calls)
            if answer is not None:
                answers.append((texts, ref_s, *answer))
        lat, norm, refs, plan, exe = [], [], [], [], []
        n_queries = 0
        for texts, ref_s, rows, plan_s, total_s in answers:
            # a call's time counts only when all its answers are right
            if all([self._check("query", t, r) for t, r in zip(texts, rows)]):
                lat.append(total_s)
                norm.append(total_s * REF_NOMINAL_S / ref_s)
                refs.append(ref_s)
                plan.append(plan_s)
                exe.append(total_s - plan_s)
                n_queries += len(texts)
        self.m["norm_call_p50_ms"] = _scale(_median(norm), 1e3)
        self.m["norm_qps"] = _per(n_queries, sum(norm))
        # the same figures as measured, and the host speed they were taken at
        self.props["call_p50_ms"] = _scale(_median(lat), 1e3)
        self.props["qps"] = _per(n_queries, sum(lat))
        self.props["ref_ms"] = _scale(_median(refs), 1e3)
        self.layer["wand.plan_ms"] = _scale(_median(plan), 1e3)
        self.layer["wand.exec_ms"] = _scale(_median(exe), 1e3)
        seen: set[str] = set()
        misses = 0
        for q in self.queries:
            terms = set(q.split())
            misses += not terms <= seen
            seen |= terms
        self.layer["wand.dict_miss_share"] = self.props["dict_miss_share"] = _per(misses, len(self.queries))
        self.layer["wand.dense_group_share"] = self.props["dense_group_share"] = self._dense_group_share()
        # nearest rank: on batch_query, with a handful of calls a run, this
        # is the slowest call, hence not an end-to-end metric
        self.props["call_p90_ms"] = _scale(_pctl(lat, 90), 1e3)
        self.props["calls"] = calls
        self.props["queries_per_call"] = _per(len(self.queries), calls)

    def _dense_group_share(self) -> float | None:
        """Share of the measured queries' (query, doc_bucket) scoring groups
        with more than WAND_MAX_POSTINGS candidate postings, i.e. groups the
        engine scores with dense_topk rather than wand_topk.  An input
        property, counted from the oracle's postings."""
        from search_spark.operators.wand import WAND_MAX_POSTINGS

        groups = dense = 0
        for q in self.queries:
            per_bucket: Counter = Counter()
            for t in set(q.split()):
                if t not in self._bucket_postings:
                    plist = self.oracle.postings.get(t, ())
                    self._bucket_postings[t] = Counter(d // DOC_BUCKET_SIZE for d, _ in plist)
                per_bucket.update(self._bucket_postings[t])
            groups += len(per_bucket)
            dense += sum(n > WAND_MAX_POSTINGS for n in per_bucket.values())
        return _per(dense, groups)

    # ---- traced run only -----------------------------------------------
    def write_phase(self) -> None:
        """Ingest micro-batches into the compacted base index, probing the
        multi-segment store after each, then compact and probe again."""
        from search_spark.oracle import OracleIndex
        from search_spark.streaming.ingest import STREAM_DOC_BASE, finalize_stream, start_ingest

        from .inputs import conv_rows, needles_in

        src = os.path.join(self.workdir, "stream_src")
        landing = os.path.join(self.workdir, "landing")
        os.makedirs(src)
        os.makedirs(landing)
        fresh, ing_lat, ingest_s, fin_s, refresh_s, probes = [], [], [], [], [], []
        needles: list[str] = []
        offset, n_turns = 0, 0

        def probe(text: str) -> float | None:
            """One single-query call, kept for the rehydrate check: its
            seconds, or None when it raised."""
            answer = self._call([text])
            if answer is None:
                return None
            probes.append((text, answer[0][0], self._expect(text)))
            return answer[2]

        for b in range(self.sizes.ingest_batches):
            first, n = self.inputs.batch_range(b)
            rows = conv_rows(first, n)
            # the producer writes elsewhere and renames, so the stream never
            # lists a half-written file; landing time is the rename
            staged = os.path.join(landing, f"part-{b:03d}.parquet")
            rows.to_parquet(staged, coerce_timestamps="us", allow_truncated_timestamps=True)
            self.attempted += 1
            t_land = time.perf_counter()
            os.rename(staged, os.path.join(src, f"part-{b:03d}.parquet"))
            try:
                with self.tracer.span("ingest.batch", op=f"batch{b}", cpu=True):
                    q = start_ingest(self.spark, src, self.store, os.path.join(self.workdir, "stream_cp"))
                    q.awaitTermination()
                    if q.exception() is not None:
                        raise RuntimeError(f"ingest stream failed: {q.exception()}")
                t_ing = time.perf_counter()
                with self.tracer.span("ingest.finalize_stream", cpu=True):
                    finalize_stream(self.spark, self.store)
                t_fin = time.perf_counter()
                with self.tracer.span("index_store.refresh"):
                    self.reader.refresh()
                t_ref = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - nothing to probe
                self._fail(f"ingest batch {b}", e)
                continue
            ingest_s.append(t_ing - t_land)
            fin_s.append(t_fin - t_ing)
            refresh_s.append(t_ref - t_fin)
            n_turns += len(rows)

            # the oracle learns the batch under the engine's stream doc_ids:
            # STREAM_DOC_BASE + running offset in (conv_id, turn_idx) order
            docs = rows[["conv_id", "turn_idx", "text"]].copy()
            docs["doc_id"] = range(STREAM_DOC_BASE + offset, STREAM_DOC_BASE + offset + len(docs))
            offset += len(docs)
            _extend(self.oracle, OracleIndex.build(docs))
            self.doc_key.update(zip(docs["doc_id"], zip(docs["conv_id"], docs["turn_idx"])))
            self._expect_cache.clear()

            needles.append(f"needle{needles_in(first, n)[0]}")
            if probe(needles[-1]) is not None:
                fresh.append((len(probes) - 1, time.perf_counter() - t_land))
            for _ in range(HEAD_PROBES):
                s = probe(self.inputs.head_query())
                if s is not None:
                    ing_lat.append((len(probes) - 1, s))
        self.props["ingested_turns"] = n_turns
        self.props["segments"] = self.layer["ingest.segments"] = len(self.store.checkpoints().get("stream_batches", {}))

        self.layer["index_store.postings_files"] = len(self._postings_files())
        self.layer["compact.s"] = self._compact("ingested")
        if self.layer["compact.s"] is not None:
            self.layer["index_store.postings_files_compacted"] = len(self._postings_files())
            for text in needles:  # the verified pass on the compacted store
                probe(text)
        bad = self._check_rehydrated(probes)
        fresh = [s for i, s in fresh if i not in bad]
        ing_lat = [s for i, s in ing_lat if i not in bad]
        self.layer["ingest.turns_per_s"] = _per(n_turns, sum(ingest_s) + sum(fin_s))
        self.layer["ingest.fresh_p50_s"] = _median(fresh)
        self.layer["ingest.query_p50_ms"] = _scale(_median(ing_lat), 1e3)
        self.layer["ingest.batch_s"] = _median(ingest_s)
        self.layer["ingest.finalize_stream_s"] = _median(fin_s)
        self.layer["index_store.refresh_ms"] = _scale(_median(refresh_s), 1e3)

    def _check_rehydrated(self, probes: list) -> set[int]:
        """Compare probe answers with the oracle on (conv_id, turn_idx) and
        score_micro, through one rehydrate job for all probes.  Returns the
        indices of the probes that failed."""
        ids = sorted({int(r["doc_id"]) for _, rows, _ in probes for r in rows})
        try:
            key = {}
            if ids:
                with self.tracer.span("wand.rehydrate"):
                    df = self.spark.createDataFrame([(d,) for d in ids], "doc_id long")
                    key = {
                        r["doc_id"]: (r["conv_id"], r["turn_idx"])
                        for r in self.reader.rehydrate(df).select("doc_id", "conv_id", "turn_idx").collect()
                    }
        except Exception as e:  # noqa: BLE001 - every probe is then unverified
            for text, _, _ in probes:
                self._fail(f"probe {text!r} (rehydrate)", e)
            return set(range(len(probes)))
        bad = set()
        for i, (text, rows, want) in enumerate(probes):
            got_k = [(key.get(d), s) for d, s in _micro(rows)]
            want_k = [(self.doc_key[d], s) for d, s in want]
            if got_k != want_k:
                self._fail(f"probe {text!r} does not match the oracle")
                bad.add(i)
        return bad

    def layer_probes(self) -> None:
        """Direct calls into single layers, outside the timed phases."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from search_spark import analyzer, codec
        from search_spark.operators.docids import assign_doc_ids

        texts = pa.array(self.base["text"].tolist(), type=pa.string())
        mb = texts.nbytes / 1e6
        times = []
        with self.tracer.span("analyzer.tokenize_arrow"):
            for _ in range(5):
                t0 = time.perf_counter()
                analyzer.tokenize_arrow(texts)
                times.append(time.perf_counter() - t0)
        self.layer["analyzer.tokenize_mb_per_s"] = mb / statistics.median(times)

        handle: list = []
        t0 = time.perf_counter()
        with self.tracer.span("docids.assign_doc_ids", cpu=True):
            assign_doc_ids(self.spark.read.parquet(self.base_path), cache_handle=handle).count()
        self.layer["docids.assign_s_per_mturn"] = (time.perf_counter() - t0) / (self.turns / 1e6)
        for h in handle:
            h.unpersist()

        m = self.spark.read.parquet(self.store.metrics_path).agg(F.sum("bytes"), F.sum("postings")).first()
        self.layer["codec.bytes_per_posting"] = m[0] / m[1]

        # blocks and postings the measured queries touch
        terms = sorted({t for q in self.queries for t in q.split()})
        with self.tracer.span("wand.candidate_blocks"):
            per = (
                self.reader.candidate_blocks(terms)
                .groupBy("term")
                .agg(F.count("*").alias("blocks"), F.sum("n_docs").alias("postings"))
                .collect()
            )
        by_term = {r["term"]: (r["blocks"], r["postings"]) for r in per}
        blocks = postings = 0
        for q in self.queries:
            for t in set(q.split()):
                nb, npost = by_term.get(t, (0, 0))
                blocks += nb
                postings += npost
        nq = len(self.queries)
        self.layer["wand.blocks_per_query"] = _per(blocks, nq)
        self.layer["wand.postings_per_result"] = _per(postings, nq * K)

        # decode a fixed sample: candidate blocks of the first 50 query terms
        sample = self.reader.candidate_blocks(terms[:50]).orderBy("term", "doc_bucket", "first_doc").limit(2000).collect()
        n_post = sum(int(r["n_docs"]) for r in sample)
        times = []
        with self.tracer.span("codec.decode_block"):
            for _ in range(3):
                t0 = time.perf_counter()
                for r in sample:
                    codec.decode_block(r)
                times.append(time.perf_counter() - t0)
        self.layer["codec.decode_postings_per_s"] = _per(n_post, statistics.median(times))

    def layer_metrics(self) -> None:
        tr = self.tracer
        turns_k = self.turns / 1e3
        (build,) = tr.named("indexer.build_index")
        self.layer["indexer.stage_docs_s"] = sum(s.seconds for s in tr.named("indexer.stage_docs"))
        self.layer["indexer.finalize_s"] = sum(s.seconds for s in tr.named("indexer.finalize"))
        units = self.store.checkpoints().get("units", {})
        self.layer["indexer.build_unit_s"] = sum(float(u.get("seconds", 0.0)) for u in units.values())
        self.layer["indexer.shuffle_write_bytes_per_turn"] = tr.total(build, "shuffle_write_bytes") / self.turns
        self.layer["indexer.task_cpu_s_per_kturn"] = build.cpu_s / turns_k
        self.layer["indexer.gc_share"] = tr.total(build, "gc_ms") / max(1, tr.total(build, "run_ms"))

        calls = self._calls
        n_calls, nq = len(calls), len(self.queries)
        self.layer["wand.jobs_per_call"] = _per(sum(tr.total(s, "jobs") for s in calls), n_calls)
        self.layer["wand.tasks_per_call"] = _per(sum(tr.total(s, "tasks") for s in calls), n_calls)
        self.layer["wand.score_cpu_s_per_query"] = _per(sum(s.cpu_s for s in calls), nq)
        self.layer["wand.shuffle_bytes_per_query"] = _per(sum(tr.total(s, "shuffle_write_bytes") for s in calls), nq)
        self.layer["wand.plan_share"], self.layer["wand.score_share"] = self._split(calls)
        skews = []
        for s in calls:
            sid = self._score_stage(s)
            sk = None if sid is None else tracing.task_skew(self.spark, sid)
            if sk is not None:
                skews.append(sk)
        self.layer["wand.score_task_skew"] = _median(skews)

        (compact,) = [s for s in tr.named("compact.compact_index") if s.op == "ingested"]
        self.layer["compact.bytes_rewritten_per_turn"] = tr.total(compact, "output_bytes") / (
            self.turns + self.props.get("ingested_turns", 0)
        )
        self.layer["trace.overhead_share"] = tr.overhead_s / (time.perf_counter() - self._t0)

    def _score_stage(self, call) -> int | None:
        """The applyInPandas scoring stage of one batch_search call: of the
        stages that read a shuffle (the scoring stage reads the candidate
        blocks by doc_bucket, the ranked_topk merge the scorer's output),
        the one that ran longest."""
        tr = self.tracer
        ids = [sid for x in tr.subtree(call) for sid in x.stage_ids if tr.stages[sid]["shuffle_read_bytes"]]
        return max(ids, key=lambda sid: tr.stages[sid]["run_ms"], default=None)

    def _split(self, calls) -> tuple[float | None, float | None]:
        """Median over batch_search calls of the share of the call's wall
        time spent in planning (the batch_search(...) call itself, with its
        dictionary lookup job) and in the scoring stage."""
        tr = self.tracer
        plan, score = [], []
        for c in calls:
            if c.seconds <= 0:
                continue
            plan.append(sum(x.seconds for x in tr.children(c) if x.name == "wand.plan") / c.seconds)
            sid = self._score_stage(c)
            if sid is not None:
                score.append(tr.stages[sid]["wall_ms"] / 1e3 / c.seconds)
        return _median(plan), _median(score)


def _extend(oracle, more) -> None:
    """Add the documents of ``more`` (all doc_ids above ``oracle``'s) to
    ``oracle``, with stats exactly as OracleIndex.build computes them."""
    oracle.doclens.update(more.doclens)
    for term, plist in more.postings.items():
        oracle.postings.setdefault(term, []).extend(plist)
    oracle.n_docs = len(oracle.doclens)
    oracle.avgdl = sum(oracle.doclens.values()) / oracle.n_docs
