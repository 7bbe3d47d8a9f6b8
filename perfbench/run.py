"""Seeded end-to-end benchmark of veloci_spark.

    python3 perfbench/run.py --workload search_selective --seed 1 \
        --seconds 4 --trace 0

Run from the repository root. Prints a human-readable report, then, as the
last line, one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 1 when an output check failed, 2 when the engine
cannot be imported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s", "query_p50_ms": "ms", "query_qps": "1/s",
    "ingest_p50_s": "s", "ingest_docs_per_s": "docs/s", "compact_s": "s",
    "index_bytes_per_input_byte": "B/B", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "query.parse_ms": "ms", "search.match_ms": "ms",
    "search.matched_terms": "count", "search.plan_ms": "ms",
    "spark.action_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "search.posting_rows": "count",
    "search.posting_bytes": "B", "search.results_per_posting_row": "ratio",
    "search.merge_ms": "ms", "search.post_ms": "ms",
    "streaming.open_ms": "ms", "streaming.generations": "count",
    "streaming.first_query_ms": "ms", "streaming.delete_ms": "ms",
    "build.index_s": "s", "build.spark_jobs": "count",
    "build.docs_s": "s", "build.tokens_s": "s", "build.dict_s": "s",
    "build.postings_s": "s", "build.phrase_s": "s",
    "build.docs_bytes": "B", "build.dict_bytes": "B",
    "build.postings_bytes": "B", "build.phrase_bytes": "B",
    "spark.session_s": "s", "setup.corpus_s": "s",
}


class _Deadline(Exception):
    pass


def _on_alarm(_signum, _frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


def _environment(work_dir: str):
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and let the workers import the engine."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = tmp


def _stop(spark):
    """Stop the SparkContext, wait for the JVM it launched to end, and
    clear pyspark's handles on it, so a later session launches a new JVM
    instead of reusing the dead gateway."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(args) -> dict:
    import harness
    import pools
    from veloci_spark.config import webtext_config

    host = harness.host_probe()
    nproc = os.cpu_count() or 1
    work_dir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work_dir)

    t0 = time.perf_counter()
    spark = harness.make_session(work_dir, nproc)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import pyarrow
        import pyspark
        host.update(nproc=nproc, master=f"local[{nproc}]",
                    driver_memory=harness.DRIVER_MEMORY,
                    spark=pyspark.__version__, pyarrow=pyarrow.__version__)
        r = harness.Run(spark, work_dir, args.seed, bool(args.trace))
        r.layer["spark.session_s"] = session_s
        config = webtext_config(segment_docs=harness.SEGMENT_DOCS)
        phases = r.info["phase_s"] = {"session": session_s}

        def phase(name, fn, *a):
            t = time.perf_counter()
            out = fn(*a)
            phases[name] = round(time.perf_counter() - t, 2)
            return out

        corpus = phase("corpus", r.make_corpus)
        index_dir = phase("write", r.write_phase, corpus, config)
        phase("sizes", r.index_sizes, index_dir)
        if args.trace:
            r.tracer.install()
        idx = phase("open", r.open_index, index_dir)
        # set-up: session start until the index is query-ready
        r.e2e["setup_s"] = time.perf_counter() - t0
        r.check_compacted(idx)
        pool = pools.pool(args.workload, args.seed)
        ref = phase("warm_up", r.warm_up, idx, pool)
        timed = phase("loop", r.timed_loop, idx, pool, ref, args.seconds)
        if args.trace:
            r.tracer.uninstall()
            r.layer.update(r.layer_metrics(index_dir, ref, timed))
            spans_path = os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            r.tracer.write(spans_path)
            r.info["spans"] = os.path.relpath(spans_path, ROOT)
        r.e2e["peak_rss_mb"] = r.peak_rss_mb()
    finally:
        _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    return {"host": host, "run": r}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("search_selective", "search_broad"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import veloci_spark.search  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    out = run(args)
    signal.alarm(0)

    r = out["run"]
    want = PER_LAYER if args.trace else END_TO_END
    source = r.layer if args.trace else r.e2e
    missing = sorted(set(want) - set(source))
    for name in missing:
        r.fail(f"metric {name} was not measured")
    metrics = {k: {"value": float(source[k]), "unit": u}
               for k, u in want.items() if k in source}
    failed = len(r.failures)
    print("host: " + json.dumps(out["host"]))
    print(f"workload: {args.workload} seed {args.seed} "
          f"trace {args.trace} " + json.dumps(r.info))
    print(f"error_rate: {failed / max(r.attempted, 1):.6f} "
          f"({failed} of {r.attempted} operations)")
    if args.trace:
        print(f"tracing overhead: {r.info['trace_overhead_ms']:.1f} ms "
              f"(traced {r.info['traced_p50_ms']:.1f} - untraced "
              f"{r.info['untraced_p50_ms']:.1f} query_p50_ms)")
        print("self time per layer (ms): " + json.dumps(r.info["self_ms"]))
    for msg in r.failures[:20]:
        print("FAILED: " + msg)
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": max(r.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
