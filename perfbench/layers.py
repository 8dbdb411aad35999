"""Per-layer metrics of a traced run.

``LAYER_METRICS`` lists every per-layer metric with its unit and the
end-to-end metric it is expected to move. ``measure`` computes them from
the tracer's spans, the Spark stage metrics attached to them, the index
directory and a driver-side replay of the scoring kernels. A metric of a
layer a workload never calls (appends and merges on the serve workloads)
reads 0 and is marked n/a in the report.
"""

from __future__ import annotations

import time

import numpy as np

from .trace import Span, Tracer, covered
from .workloads import Run, index_bytes, median

# (name, unit, end-to-end metric it should move, on which workload)
LAYER_METRICS = [
    ("session.start_s", "s", "setup_s (all)"),
    ("build.wall_s", "s", "setup_s (serve_batch)"),
    ("build.task_cpu_s", "s", "setup_s (serve_batch)"),
    ("build.jobs", "count", "setup_s (serve_batch)"),
    ("build.tasks", "count", "setup_s (serve_batch)"),
    ("build.gc_s", "s", "setup_s (serve_batch)"),
    ("build.shuffle_write_bytes_per_text_byte", "ratio", "setup_s (serve_batch)"),
    ("build.output_bytes_per_text_byte", "ratio", "setup_s (serve_batch)"),
    ("build.task_skew", "ratio", "setup_s (serve_batch)"),
    ("append.ms_p50", "ms", "ingest_docs_per_s, visible_p50_ms (ingest_nrt)"),
    ("append.task_cpu_ms_per_doc", "ms", "ingest_docs_per_s, visible_p50_ms (ingest_nrt)"),
    ("append.output_bytes_per_text_byte", "ratio", "ingest_docs_per_s (ingest_nrt)"),
    ("index.postings_bytes_per_text_byte", "ratio", "index_bytes_per_text_byte (all)"),
    ("index.docs_bytes_per_text_byte", "ratio", "index_bytes_per_text_byte (all)"),
    ("index.norms_bytes_per_text_byte", "ratio", "index_bytes_per_text_byte (all)"),
    ("index.meta_bytes", "bytes", "index_bytes_per_text_byte (all)"),
    ("index.live_segments", "count", "index_bytes_per_text_byte (all)"),
    ("merge.count", "count", "ingest_docs_per_s (ingest_nrt)"),
    ("merge.s_total", "s", "ingest_docs_per_s (ingest_nrt)"),
    ("merge.bytes_rewritten_per_text_byte", "ratio", "ingest_docs_per_s (ingest_nrt)"),
    ("merge.noop_check_ms_p50", "ms", "ingest_docs_per_s (ingest_nrt)"),
    ("parse.us_per_query", "us", "query_p50_ms (ingest_nrt)"),
    ("searcher.open_s", "s", "setup_s (all)"),
    ("searcher.warm_s", "s", "setup_s (all)"),
    ("refresh.ms_p50", "ms", "visible_p50_ms (ingest_nrt)"),
    ("reopen.first_query_ms_p50", "ms", "visible_p50_ms (ingest_nrt)"),
    ("plan.ms_per_query", "ms", "query_p50_ms (ingest_nrt)"),
    ("stats.jobs_per_query", "count", "query_p50_ms (ingest_nrt)"),
    ("exec.ms", "ms", "query_p50_ms (ingest_nrt); throughput_qps (serve_batch)"),
    ("spark.jobs", "count", "query_p50_ms (ingest_nrt)"),
    ("spark.stages", "count", "query_p50_ms (ingest_nrt)"),
    ("spark.tasks", "count", "query_p50_ms (ingest_nrt)"),
    ("spark.task_run_ms", "ms", "query_p50_ms (ingest_nrt)"),
    ("spark.task_cpu_ms", "ms", "query_p50_ms (ingest_nrt)"),
    ("spark.task_deser_ms", "ms", "query_p50_ms (ingest_nrt)"),
    ("spark.gc_ms", "ms", "query_p50_ms (ingest_nrt)"),
    ("spark.input_bytes", "bytes", "query_p50_ms (ingest_nrt)"),
    ("spark.shuffle_bytes", "bytes", "query_p50_ms (ingest_nrt)"),
    ("spark.outside_stage_ms", "ms", "query_p50_ms (ingest_nrt)"),
    ("meta_stage.run_ms", "ms", "query_p50_ms (ingest_nrt)"),
    ("kernel_stage.run_ms", "ms", "throughput_qps (serve_batch)"),
    ("kernel_stage.tasks", "count", "query_p50_ms (ingest_nrt); throughput_qps (serve_batch)"),
    ("kernel_stage.task_skew", "ratio", "throughput_qps (serve_batch)"),
    ("kernel.boolean_us_per_query", "us", "throughput_qps (serve_batch)"),
    ("kernel.phrase_us_per_query", "us", "throughput_qps (serve_batch)"),
    ("kernel.blocks_decoded_ratio", "ratio", "throughput_qps (serve_batch)"),
    ("kernel.intervals_scored_ratio", "ratio", "throughput_qps (serve_batch)"),
    ("traced.setup_s", "s", "trace overhead on setup_s"),
    ("traced.query_p50_ms", "ms", "trace overhead on query_p50_ms"),
    ("traced.throughput_qps", "1/s", "trace overhead on throughput_qps"),
]


def _sum_stage(sp: Span, attr: str) -> float:
    return float(sum(getattr(st, attr) for st in sp.stages))


def _outside_stage_ms(sp: Span) -> float:
    """Span wall time not covered by any of its stages' run intervals."""
    lo, hi = sp.start * 1000.0, sp.end * 1000.0
    return max(0.0, (hi - lo) - covered(
        (max(lo, st.submit_ms), min(hi, st.complete_ms)) for st in sp.stages))


def _meta_stages(sp: Span):
    """The metadata-scan stages: read the posting metadata (input bytes)
    and feed a shuffle, without reading one."""
    return [st for st in sp.stages if st.input_bytes > 0 and st.shuffle_read_bytes == 0]


def _kernel_stage(sp: Span):
    """The per-segment applyInPandas stage: the busiest shuffle-reading
    stage of the collect."""
    cands = [st for st in sp.stages if st.shuffle_read_bytes > 0]
    return max(cands, key=lambda st: st.run_ms) if cands else None


def _children(tr: Tracer, sp: Span, name: str) -> list[Span]:
    return [c for c in tr.spans if c.parent == sp.span_id and c.name == name]


def measure(run: Run, e2e: dict[str, float]) -> dict[str, float]:
    tr = run.tracer
    m: dict[str, float] = {name: 0.0 for name, _, _ in LAYER_METRICS}
    tb = float(run.text_bytes)

    m["session.start_s"] = tr.named("session.start")[0].ms / 1000.0
    build = tr.named("build")[0]
    m["build.wall_s"] = build.ms / 1000.0
    m["build.task_cpu_s"] = _sum_stage(build, "cpu_ms") / 1000.0
    m["build.jobs"] = float(len(build.jobs))
    m["build.tasks"] = _sum_stage(build, "tasks")
    m["build.gc_s"] = _sum_stage(build, "gc_ms") / 1000.0
    m["build.shuffle_write_bytes_per_text_byte"] = (
        _sum_stage(build, "shuffle_write_bytes") / build.attrs["text_bytes"])
    m["build.output_bytes_per_text_byte"] = (
        _sum_stage(build, "output_bytes") / build.attrs["text_bytes"])
    if build.stages:
        m["build.task_skew"] = max(build.stages, key=lambda st: st.run_ms).skew

    appends = tr.named("append")
    if appends:
        m["append.ms_p50"] = median(a.ms for a in appends)
        m["append.task_cpu_ms_per_doc"] = (
            sum(_sum_stage(a, "cpu_ms") for a in appends)
            / sum(a.attrs["docs"] for a in appends))
        m["append.output_bytes_per_text_byte"] = (
            sum(_sum_stage(a, "output_bytes") for a in appends)
            / sum(a.attrs["text_bytes"] for a in appends))

    sizes = index_bytes(run.index_path)
    m["index.postings_bytes_per_text_byte"] = sizes.get("postings", 0) / tb
    m["index.docs_bytes_per_text_byte"] = sizes.get("docs", 0) / tb
    m["index.norms_bytes_per_text_byte"] = sizes.get("norms", 0) / tb
    m["index.meta_bytes"] = float(sum(v for k, v in sizes.items()
                                      if k.startswith("segments_meta")))
    m["index.live_segments"] = float(len(run.live_segments))

    merges = tr.named("merge")
    did = [s for s in merges if s.attrs.get("merges")]
    m["merge.count"] = float(sum(s.attrs.get("merges", 0) for s in merges))
    m["merge.s_total"] = sum(s.ms for s in did) / 1000.0
    m["merge.bytes_rewritten_per_text_byte"] = (
        sum(_sum_stage(s, "output_bytes") for s in did) / tb)
    m["merge.noop_check_ms_p50"] = median(s.ms for s in merges if not s.attrs.get("merges"))

    # query-side spans of the timed loop (warm-up ops excluded)
    ops = [s for s in tr.spans if s.name in ("query", "batch")
           and not s.op_id.startswith("warm")]
    per_op_queries = [s.attrs.get("size", 1) for s in ops]
    nq = float(sum(per_op_queries))
    parses = [c for s in ops for c in _children(tr, s, "parse")]
    plans = [c for s in ops for c in _children(tr, s, "plan")]
    execs = [c for s in ops for c in _children(tr, s, "exec")]
    m["parse.us_per_query"] = sum(p.ms for p in parses) * 1000.0 / nq
    m["plan.ms_per_query"] = sum(p.ms for p in plans) / nq
    m["stats.jobs_per_query"] = sum(len(p.jobs) for p in plans) / nq
    m["searcher.open_s"] = tr.named("searcher.open")[0].ms / 1000.0
    m["searcher.warm_s"] = tr.named("searcher.warm")[0].ms / 1000.0
    m["refresh.ms_p50"] = median(s.ms for s in tr.named("refresh"))
    m["reopen.first_query_ms_p50"] = median(s.ms for s in ops if s.op_id.endswith("/reopen"))

    # Spark execution of each collect: per query (search) or per batch
    m["exec.ms"] = median(e.ms for e in execs)
    m["spark.jobs"] = median(len(e.jobs) for e in execs)
    m["spark.stages"] = median(len(e.stages) for e in execs)
    m["spark.tasks"] = median(_sum_stage(e, "tasks") for e in execs)
    m["spark.task_run_ms"] = median(_sum_stage(e, "run_ms") for e in execs)
    m["spark.task_cpu_ms"] = median(_sum_stage(e, "cpu_ms") for e in execs)
    m["spark.task_deser_ms"] = median(_sum_stage(e, "deser_ms") for e in execs)
    m["spark.gc_ms"] = median(_sum_stage(e, "gc_ms") for e in execs)
    m["spark.input_bytes"] = median(_sum_stage(e, "input_bytes") for e in execs)
    m["spark.shuffle_bytes"] = median(_sum_stage(e, "shuffle_write_bytes") for e in execs)
    m["spark.outside_stage_ms"] = median(_outside_stage_ms(e) for e in execs)
    m["meta_stage.run_ms"] = median(sum(st.run_ms for st in _meta_stages(e)) for e in execs)
    kst = [k for k in (_kernel_stage(e) for e in execs) if k is not None]
    m["kernel_stage.run_ms"] = median(k.run_ms for k in kst)
    m["kernel_stage.tasks"] = median(k.tasks for k in kst)
    m["kernel_stage.task_skew"] = median(k.skew for k in kst)

    m.update(replay_kernels(run))
    m["traced.setup_s"] = e2e["setup_s"]
    m["traced.query_p50_ms"] = e2e["query_p50_ms"]
    m["traced.throughput_qps"] = e2e["throughput_qps"]
    return m


# --- kernel replay -------------------------------------------------------------

def _shape(q):
    """(scored terms, min-should-match, excluded terms) of a flat boolean
    query, or None for other shapes."""
    from lucene_solr_spark.search import ast as A

    if isinstance(q, A.TermQ):
        return [q.term], 1, []
    if isinstance(q, (A.AndQ, A.OrQ)) and all(isinstance(c, A.TermQ) for c in q.clauses):
        terms = [c.term for c in q.clauses]
        return terms, (len(terms) if isinstance(q, A.AndQ) else 1), []
    if isinstance(q, A.NotQ):
        pos, neg = _shape(q.positive), _shape(q.negative)
        if pos and neg and neg[1] <= 1:
            return pos[0], pos[1], neg[0]
    return None


def _segment_postings(path: str, seg_id: int, terms: list[str]):
    """One segment's postings for ``terms`` read straight from its
    parquet partition, assembled with the codec's row->posting view."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.index.codec import GroupedPosting

    t = pq.read_table(f"{path}/postings/seg_id={seg_id}",
                      filters=[("term", "in", sorted(set(terms)))])
    by_term: dict[str, list[dict]] = {}
    for row in t.to_pylist():
        by_term.setdefault(row["term"], []).append(row)
    out = {}
    for term, rows in by_term.items():
        grp = {int(r["grp_id"]): r for r in rows}
        out[term] = GroupedPosting(
            rows,
            lambda g, grp=grp: (grp[g]["docs_enc"], grp[g]["tfs_enc"]),
            pos_fetch=lambda g, grp=grp: grp[g]["pos_enc"] or b"")
    norms = pq.read_table(f"{path}/norms/seg_id={seg_id}", columns=["doc_base", "norms"])
    return out, np.frombuffer(norms["norms"][0].as_py(), dtype=np.uint8), \
        int(norms["doc_base"][0].as_py())


def _blocks(p) -> int:
    return 1 if p.singleton_docid is not None else p.n_full_blocks + int(p.has_tail)


def replay_kernels(run: Run) -> dict[str, float]:
    """Time ``boolean_topk`` / ``phrase_topk`` on the driver for each
    replayed query over the index's largest live segment, with the
    oracle's collection statistics (equal to the engine's)."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.wand import WandStats, boolean_topk, phrase_topk

    oracle = run.oracles[max(run.oracles)]
    bm25 = oracle.bm25
    seg = max(run.live_segments, key=lambda sid: pq.read_table(
        f"{run.index_path}/norms/seg_id={sid}", columns=["doc_count"])["doc_count"][0].as_py())
    boolean_us, phrase_us = [], []
    st = WandStats()
    blocks_total = 0
    for text in run.replay_queries:
        q = A.parse_query(text).rewrite()
        if isinstance(q, A.PhraseQ):
            terms = list(q.terms)
        else:
            shape = _shape(q)
            if shape is None:
                continue
            terms = shape[0] + shape[2]
        if any(t not in oracle.postings for t in terms):
            continue
        postings, norms, doc_base = _segment_postings(run.index_path, seg, terms)
        df = {t: len(oracle.postings[t]) for t in terms}
        before = (st.blocks_total, st.blocks_decoded)
        t0 = time.perf_counter()
        if isinstance(q, A.PhraseQ):
            if any(t not in postings for t in terms):
                continue
            w = (np.float32(q.boost) * np.float32(float(sum(bm25.idf(df[t]) for t in terms)))
                 * np.float32(bm25.k1 + np.float32(1)))
            phrase_topk(terms, postings, w, norms, doc_base, bm25, k=10, stats=st)
            phrase_us.append((time.perf_counter() - t0) * 1e6)
        else:
            scored, msm, neg = shape
            pos = {t: postings[t] for t in scored if t in postings}
            if len(pos) < msm or not pos:
                continue
            negs = [postings[t].decode_all()[0] for t in neg if t in postings]
            exclude = np.unique(np.concatenate(negs)) if negs else None
            weights = {t: bm25.term_weight(df[t]) for t in pos}
            boolean_topk(pos, weights, norms, doc_base, bm25, k=10, msm=msm,
                         exclude=exclude, stats=st)
            boolean_us.append((time.perf_counter() - t0) * 1e6)
        if st.blocks_total == before[0]:
            # the exhaustive scorer counts decoded blocks only
            blocks_total += sum(_blocks(postings[t]) for t in set(terms) if t in postings)
    total = st.blocks_total + blocks_total
    return {
        "kernel.boolean_us_per_query": median(boolean_us),
        "kernel.phrase_us_per_query": median(phrase_us),
        "kernel.blocks_decoded_ratio": st.blocks_decoded / total if total else 0.0,
        "kernel.intervals_scored_ratio": (st.intervals_scored / st.intervals_total
                                          if st.intervals_total else 0.0),
    }
