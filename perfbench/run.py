"""Run one benchmark workload against the lucene_solr_spark engine.

    python3 perfbench/run.py --workload serve_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a human-readable report, then, as
the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
work with spans and Spark stage metrics recorded and reports the
per-layer metrics. See perfbench/INTERACTIONS.md for the workloads and
what each metric is expected to move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {
    "setup_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    "throughput_qps": "1/s",
    "ingest_docs_per_s": "1/s",
    "visible_p50_ms": "ms",
}


def _args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10,
                    help="sizes the fixed amount of timed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _check_declared(layer_names: list[str]) -> None:
    """The metric names printed here must be the ones BENCHMARK.json
    declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if declared != E2E_UNITS:
        raise SystemExit(f"BENCHMARK.json end_to_end differs from run.py: {declared}")
    if [m["name"] for m in spec["per_layer"]] != layer_names:
        raise SystemExit("BENCHMARK.json per_layer differs from layers.LAYER_METRICS")


def _environment(cores: int, driver_memory: str) -> dict:
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    return {
        "nproc": os.cpu_count(),
        "spark_cores": cores,
        "driver_memory": driver_memory,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit or "unknown",
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = _args(argv)

    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run, check_answers, end_to_end, stop_session

    _check_declared([name for name, _, _ in layers.LAYER_METRICS])
    # Spark's Python workers import the engine too; they inherit this
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    base = os.path.join(ROOT, "perfbench", ".work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = min(4, os.cpu_count() or 1)
    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds, root=ROOT,
              work=work, tracer=Tracer(bool(args.trace)), cores=cores, driver_memory="2g")
    try:
        try:
            WORKLOADS[args.workload](run)
            run.tracer.resolve()
        finally:
            if run.spark is not None:
                stop_session(run.spark)
        check_answers(run)
        e2e = end_to_end(run)
        metrics = layers.measure(run, e2e) if args.trace else e2e
        if args.trace:
            run.tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(run.errors) + len(run.mismatches)
    env = _environment(cores, run.driver_memory)
    _report(args, run, e2e, metrics, failed, env, base)
    units = dict(E2E_UNITS) if not args.trace else {n: u for n, u, _ in layers.LAYER_METRICS}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _report(args, run, e2e, metrics, failed, env, base) -> None:
    from perfbench.layers import LAYER_METRICS
    from perfbench.workloads import median, percentile

    out = sys.stdout
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}", file=out)
    print("# environment " + json.dumps(env), file=out)
    print(f"# ops attempted={run.attempted} failed={failed} "
          f"failed_ratio={failed / max(1, run.attempted):.6f} "
          f"(errors={len(run.errors)} oracle_mismatches={len(run.mismatches)})", file=out)
    for line in (run.errors + run.mismatches)[:20]:
        print(f"# FAILED {line}", file=out)
    print(f"# query_p95_ms={percentile(run.query_ms, 95):.3f} over {len(run.query_ms)} queries; "
          f"batch_p50_ms={median(run.request_ms):.3f} over "
          f"{len(run.request_ms)} engine calls", file=out)
    print(f"# samples: {len(run.query_ms)} query latencies, "
          f"{len(run.visible_ms)} visibility latencies", file=out)
    print("# request ms: " + " ".join(f"{x:.0f}" for x in run.request_ms), file=out)
    print("# visible ms: " + " ".join(f"{x:.0f}" for x in run.visible_ms), file=out)
    last = os.path.join(base, f"last-untraced-{args.workload}-{args.seed}.json")
    if not args.trace:
        for k, v in e2e.items():
            print(f"{k:32s} {v:14.4f} {E2E_UNITS[k]}", file=out)
        with open(last, "w") as f:
            json.dump(e2e, f)
        return
    for name, unit, moves in LAYER_METRICS:
        v = metrics[name]
        na = " (n/a: layer not called)" if (
            args.workload != "ingest_nrt"
            and name.startswith(("append.", "merge.", "refresh.", "reopen."))) else ""
        print(f"{name:42s} {v:14.4f} {unit:6s} -> {moves}{na}", file=out)
    if os.path.exists(last):
        with open(last) as f:
            untraced = json.load(f)
        for k in ("setup_s", "query_p50_ms", "throughput_qps"):
            print(f"# trace overhead {k}: traced {e2e[k]:.4f} - untraced {untraced[k]:.4f} "
                  f"= {e2e[k] - untraced[k]:+.4f} {E2E_UNITS[k]}", file=out)
    else:
        print("# trace overhead: run the same seed with --trace 0 first to compare", file=out)


if __name__ == "__main__":
    sys.exit(main())
