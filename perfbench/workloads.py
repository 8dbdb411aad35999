"""The benchmark's workloads: serve_batch and ingest_nrt.

One process, one client (the Spark driver), closed loop: each call into
the engine starts after the previous one has returned. Every timed
answer is kept and checked against the numpy ``OracleIndex`` after the
timed work is over.

The amount of timed work is fixed by the workload and ``--seconds``
(never by a clock), so two runs of one seed do the same work.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import numpy as np

from . import corpus
from .corpus import Q
from .trace import Tracer

K = 10
SERVE_DOCS = 2000
SERVE_SEG_SIZE = 500             # 4 segments: one kernel task per core
BATCH_SIZE = 100
BATCHES_PER_SECOND = 0.8
WARM_BATCHES = 3
WARM_BATCH_SIZE = 400
# set-up builds a throwaway index first, so the timed build runs in a warm
# JVM with every Python worker started: a cold first build costs about
# 15 s whatever its size, and how much of that lands varies from run to run
WARM_BUILD_DOCS = 400
WARM_BUILD_SEG_SIZE = 100        # 4 segments: every core runs a build task
# ingest_nrt: 4 segments at start (one build task per core, so every
# Python worker has run the build path before the timed loop) and 5 per
# append. Every segment is below the policy's 2 MB floor, so the default
# TieredMergePolicy allows as many segments as there are up to 11: the
# first append's maybe_merge is a no-op check (9 segments), the second
# merges 10 of 14
NRT_SEG_SIZE = 75
NRT_START_SEGS = 4
NRT_APPEND_SEGS = 5
NRT_CYCLES = 2
NRT_WARM_QUERIES = 2
NRT_QUERIES = 7                  # per cycle


@dataclass
class Answer:
    op: str
    query: str
    rows: list            # (docid, score, rank), as the engine returned them
    snapshot: int         # index of the oracle that checks it


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    root: str             # checkout root
    work: str             # per-run scratch directory
    tracer: Tracer
    cores: int
    driver_memory: str
    spark: object = None
    index_path: str = ""
    # end-to-end measurements
    setup_s: float = 0.0
    query_ms: list[float] = field(default_factory=list)
    request_ms: list[float] = field(default_factory=list)
    queries_answered: int = 0
    answer_s: float = 0.0
    visible_ms: list[float] = field(default_factory=list)
    ingest_docs: int = 0
    ingest_s: float = 0.0
    # correctness
    answers: list[Answer] = field(default_factory=list)
    snapshots: list[list[tuple[int, str]]] = field(default_factory=list)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    mismatches: list[str] = field(default_factory=list)
    # for the traced report
    replay_queries: list[str] = field(default_factory=list)
    text_bytes: int = 0
    live_segments: list[int] = field(default_factory=list)
    oracles: dict = field(default_factory=dict)


# --- session ------------------------------------------------------------------

def start_session(run: Run):
    from lucene_solr_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{run.workload}", cores=run.cores,
        extra_conf={
            "spark.driver.memory": run.driver_memory,
            # no hsperfdata file under the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.work} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage of a run in the status store, so the
            # traced run can resolve all of them after the timed work
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)
    to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- timed engine calls -------------------------------------------------------

def _query(run: Run, ws, q: Q, op: str, snapshot: int) -> float | None:
    """One ``search(q).collect()``; returns its latency in ms, or None
    when the call failed."""
    from lucene_solr_spark.search import ast as A

    tr = run.tracer
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with tr.span("query", op_id=op, shape=q.shape):
            with tr.span("parse"):
                parsed = A.parse_query(q.text).rewrite()
            with tr.span("plan", spark=True):
                df = ws.search(parsed, k=K)
            with tr.span("exec", spark=True):
                rows = df.collect()
    except Exception as e:  # an engine error is a failed op, not a crash
        run.errors.append(f"{op} {q.text!r}: {type(e).__name__}: {e}")
        return None
    ms = (time.perf_counter() - t0) * 1000.0
    run.answers.append(Answer(op, q.text, [(r["docid"], r["score"], r["rank"])
                                           for r in rows], snapshot))
    return ms


def _batch(run: Run, ws, batch: dict[str, Q], op: str, snapshot: int) -> float | None:
    """One ``search_many(batch).collect()``; returns its latency in ms, or
    None when the call failed."""
    from lucene_solr_spark.search import ast as A

    tr = run.tracer
    run.attempted += len(batch)
    t0 = time.perf_counter()
    try:
        with tr.span("batch", op_id=op, size=len(batch)):
            with tr.span("parse"):
                parsed = {k: A.parse_query(q.text).rewrite() for k, q in batch.items()}
            with tr.span("plan", spark=True):
                df = ws.search_many(parsed, k=K)
            with tr.span("exec", spark=True):
                rows = df.collect()
    except Exception as e:
        run.errors.append(f"{op}: {type(e).__name__}: {e}")
        return None
    ms = (time.perf_counter() - t0) * 1000.0
    got: dict[str, list] = {k: [] for k in batch}
    for r in rows:
        got[r["qid"]].append((r["docid"], r["score"], r["rank"]))
    for k, q in batch.items():
        run.answers.append(Answer(f"{op}/{k}", q.text, got[k], snapshot))
    return ms


def _fresh_index_path(run: Run) -> str:
    path = os.path.join(run.work, "index")
    shutil.rmtree(path, ignore_errors=True)
    return path


# --- serve workload -----------------------------------------------------------

def serve_batch(run: Run) -> None:
    """Batched serving: ``search_many`` batches of fresh Zipf queries over
    an index built once in set-up."""
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.wand import WandSearcher

    cache = os.path.join(run.root, "perfbench", ".work", "corpus")
    pages = corpus.pages_file(cache, run.seed, 0, SERVE_DOCS)
    warm_pages = corpus.pages_file(cache, run.seed, SERVE_DOCS, WARM_BUILD_DOCS)
    docs = corpus.read_docs(pages, 0)
    run.snapshots.append(docs)
    run.text_bytes = corpus.text_bytes(docs)
    tr = run.tracer

    t0 = time.perf_counter()
    with tr.span("session.start"):
        run.spark = start_session(run)
    tr.bind(run.spark.sparkContext)
    run.index_path = _fresh_index_path(run)
    with tr.span("build.warm", spark=True):
        build_segment_index(run.spark.read.parquet(warm_pages),
                            os.path.join(run.work, "warm-index"), seg_size=WARM_BUILD_SEG_SIZE)
    tb = time.perf_counter()
    with tr.span("build", spark=True, docs=len(docs), text_bytes=run.text_bytes):
        si = build_segment_index(run.spark.read.parquet(pages), run.index_path,
                                 seg_size=SERVE_SEG_SIZE)
    run.ingest_docs, run.ingest_s = len(docs), time.perf_counter() - tb
    with tr.span("searcher.open", spark=True):
        ws = WandSearcher(si, preload_stats=True)
    with tr.span("searcher.warm"):
        for b in range(WARM_BATCHES):
            _batch(run, ws, corpus.zipf_batch(run.seed, b, WARM_BATCH_SIZE, docs, warm=True),
                   f"warm{b}", 0)
            if b == 0:
                run.visible_ms.append((time.perf_counter() - tb) * 1000.0)
        run.answers.clear()      # the timed answers are the ones checked
        run.attempted = 0
    run.setup_s = time.perf_counter() - t0

    for b in range(max(3, round(run.seconds * BATCHES_PER_SECOND))):
        batch = corpus.zipf_batch(run.seed, b, BATCH_SIZE, docs)
        if b == 0:
            run.replay_queries = [q.text for q in batch.values()]
        ms = _batch(run, ws, batch, f"b{b}", 0)
        if ms is not None:  # a failed batch counts in attempted/failed only
            run.request_ms.append(ms)
            run.query_ms.extend([ms] * len(batch))
    run.queries_answered = len(run.query_ms)
    run.answer_s = sum(run.request_ms) / 1000.0
    run.live_segments = si.live_segments()


# --- ingest workload ----------------------------------------------------------

def ingest_nrt(run: Run) -> None:
    """Appends beside reads: each cycle appends one micro-batch, refreshes,
    answers a handful of queries on the new snapshot, then runs
    ``maybe_merge`` with the default TieredMergePolicy."""
    from lucene_solr_spark.index.merge import maybe_merge
    from lucene_solr_spark.index.segments import SegmentIndex
    from lucene_solr_spark.search.wand import WandSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    cache = os.path.join(run.root, "perfbench", ".work", "corpus")
    start_n = NRT_START_SEGS * NRT_SEG_SIZE
    step = NRT_APPEND_SEGS * NRT_SEG_SIZE
    files = [corpus.pages_file(cache, run.seed, 0, start_n)]
    files += [corpus.pages_file(cache, run.seed, start_n + c * step, step)
              for c in range(NRT_CYCLES)]
    batches = [corpus.read_docs(files[0], 0)]
    for c in range(NRT_CYCLES):
        batches.append(corpus.read_docs(files[c + 1], start_n + c * step))
    visible = list(batches[0])
    run.snapshots.append(list(visible))
    run.text_bytes = sum(corpus.text_bytes(b) for b in batches)
    tr = run.tracer

    t0 = time.perf_counter()
    with tr.span("session.start"):
        spark = run.spark = start_session(run)
    tr.bind(spark.sparkContext)
    run.index_path = path = _fresh_index_path(run)
    with tr.span("build", spark=True, docs=len(batches[0]),
                 text_bytes=corpus.text_bytes(batches[0])):
        append_batch(spark.read.parquet(files[0]), path, 0, seg_size=NRT_SEG_SIZE)
    with tr.span("searcher.open", spark=True):
        si = SegmentIndex(path=path, spark=spark)
        ws = WandSearcher(si, preload_stats=True)
    with tr.span("searcher.warm"):
        for i, q in enumerate(corpus.nrt_queries(run.seed, batches[0], NRT_WARM_QUERIES)):
            _query(run, ws, q, f"warm{i}", 0)
        run.answers.clear()
        run.attempted = 0
    run.setup_s = time.perf_counter() - t0

    loop0 = time.perf_counter()
    for c in range(NRT_CYCLES):
        new = batches[c + 1]
        visible.extend(new)
        run.snapshots.append(list(visible))
        snap = len(run.snapshots) - 1
        ta = time.perf_counter()
        run.attempted += 1
        try:
            with tr.span("append", op_id=f"c{c}", spark=True, docs=len(new),
                         text_bytes=corpus.text_bytes(new)):
                append_batch(spark.read.parquet(files[c + 1]), path, c + 1,
                             seg_size=NRT_SEG_SIZE)
            with tr.span("refresh", op_id=f"c{c}"):
                si.refresh()
        except Exception as e:
            run.errors.append(f"append c{c}: {type(e).__name__}: {e}")
            continue
        for i, q in enumerate(corpus.nrt_queries(run.seed, new, NRT_QUERIES)):
            ms = _query(run, ws, q, f"c{c}q{i}" + ("/reopen" if i == 0 else ""), snap)
            if ms is None:  # a failed query counts in attempted/failed only
                continue
            if i == 0:
                run.visible_ms.append((time.perf_counter() - ta) * 1000.0)
            run.query_ms.append(ms)
            run.request_ms.append(ms)
        run.attempted += 1
        try:
            with tr.span("merge", op_id=f"c{c}", spark=True) as sp:
                merged = maybe_merge(si)
                if sp is not None:
                    sp.attrs["merges"] = len(merged)
        except Exception as e:
            run.errors.append(f"merge c{c}: {type(e).__name__}: {e}")
    run.ingest_s = time.perf_counter() - loop0
    run.ingest_docs = sum(len(b) for b in batches[1:])
    run.queries_answered = len(run.query_ms)
    run.answer_s = sum(run.query_ms) / 1000.0
    run.replay_queries = [q.text for q in corpus.nrt_queries(run.seed, batches[-1],
                                                             NRT_QUERIES)]
    run.live_segments = si.live_segments()


WORKLOADS = {
    "serve_batch": serve_batch,
    "ingest_nrt": ingest_nrt,
}


# --- correctness gate -------------------------------------------------------

def _oracle(docs: list[tuple[int, str]]):
    from lucene_solr_spark.oracle import OracleIndex

    class MemoOracle(OracleIndex):
        """The reference scorer with each term's scores computed once:
        it otherwise rescores a term on every query, which dominates
        checking hundreds of Zipf queries that share head terms."""

        def __init__(self, docs):
            super().__init__(docs)
            self._memo: dict = {}

        def _term_scores(self, term, boost=1.0):
            key = (term, boost)
            if key not in self._memo:
                self._memo[key] = super()._term_scores(term, boost)
            return self._memo[key]

    return MemoOracle(docs)


def check_answers(run: Run) -> None:
    """Compare every kept answer with the oracle's exhaustive top-k:
    same docids in the same order, bit-equal float32 scores, rank i+1."""
    oracles: dict = {}
    memo: dict[tuple[int, str], list] = {}
    for a in run.answers:
        key = (a.snapshot, a.query)
        if key not in memo:
            if a.snapshot not in oracles:
                oracles[a.snapshot] = _oracle(run.snapshots[a.snapshot])
            memo[key] = oracles[a.snapshot].top_k(a.query, K)
        want = memo[key]
        got = sorted(a.rows, key=lambda r: r[2])
        ok = len(got) == len(want) and all(
            r[2] == i + 1 and r[0] == d and np.float32(r[1]) == s
            for i, (r, (d, s)) in enumerate(zip(got, want)))
        if not ok:
            run.mismatches.append(
                f"{a.op} {a.query!r}: got {[(r[0], r[1]) for r in got[:3]]}... "
                f"want {[(d, float(s)) for d, s in want[:3]]}...")
    run.oracles = oracles


def index_bytes(path: str) -> dict[str, int]:
    """On-disk bytes of the index directory, per top-level entry."""
    out: dict[str, int] = {}
    for entry in sorted(os.listdir(path)):
        total = 0
        full = os.path.join(path, entry)
        if os.path.isfile(full):
            total = os.path.getsize(full)
        for d, _, files in os.walk(full):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        out[entry] = total
    return out


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 with no samples."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q)) if values else 0.0


def median(values) -> float:
    """Median, or 0.0 with no samples: a layer the workload never calls,
    or every op of that kind failed (the run then reports
    ``"correct": false``)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(run: Run) -> dict[str, float]:
    sizes = index_bytes(run.index_path)
    return {
        "setup_s": run.setup_s,
        "index_bytes_per_text_byte": sum(sizes.values()) / run.text_bytes,
        "query_p50_ms": median(run.query_ms),
        "throughput_qps": run.queries_answered / run.answer_s if run.answer_s else 0.0,
        "ingest_docs_per_s": run.ingest_docs / run.ingest_s,
        "visible_p50_ms": median(run.visible_ms),
    }
