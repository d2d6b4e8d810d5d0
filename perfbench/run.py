"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, drives the engine
through its public functions, checks the outputs and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones; a traced run also writes its spans
to ``.perfbench_work/traces/``. Exits 1 when a check fails and 2 when
the engine cannot be imported. See perfbench/README.md.

BENCHMARK.json declares ``ingest_backlog`` and ``curation``, and the
metrics in END_TO_END and PER_LAYER. ``live_ingest`` runs the same way
but is not in that set; its traced run adds the LIVE_LAYER metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_ingest", "ingest_backlog", "curation")

END_TO_END = {
    "setup_s": "s",
    "write_p50_s": "s",
    "throughput_per_s": "1/s",
    "read_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "source.latest_offset_ms_p50": "ms",
    "source.rows_read_per_envelope": "ratio",
    "stream.batches": "count",
    "stream.envelopes_per_batch_p50": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.overhead_share": "ratio",
    "stream.drain_env_per_s_1core": "1/s",
    "stream.speedup_vs_1core": "ratio",
    "etl.parse_curate_s_per_100k": "s",
    "etl.rows_out_per_envelope": "ratio",
    "sink.files": "count",
    "sink.files_per_batch": "count",
    "sink.bytes_per_row": "B",
    "sink.deadletter_rows": "count",
    "dashboard.jobs_per_refresh": "count",
    "dashboard.input_files": "count",
    "dashboard.input_rows": "count",
    "dedup.signature_s": "s",
    "dedup.verify_s": "s",
    "dedup.cluster_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count",
    "dedup.confirm_ratio": "ratio",
    "dedup.clusters": "count",
    "curation.dedup_recall": "ratio",
    "ann.train_s": "s",
    "ann.encode_s": "s",
    "ann.codes_scanned_per_query": "count",
    "ann.serve_batch_s": "s",
    "curation.ann_recall_at_10": "ratio",
    "peak_rss_mb": "MiB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "failed_ops_ratio": "ratio",
    "trace.overhead_share": "ratio",
    "trace.spans": "count",
}
LIVE_LAYER = {
    "gen.late_max_s": "s",
    "ingest.latency_tail_s": "s",
    "source.lag_files_max": "count",
    "source.lag_growth_files_per_min": "count/min",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    """Spark task slots: half the cores this process may run on. The
    other half absorbs the JVM's GC and JIT threads, the Python driver
    and time the host takes from shared cores, so timings follow the
    program rather than the scheduler. Ambient settings such as
    SPARK_GRAFT_CPUS are ignored so every run uses the same count."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import engine
        import workloads
        from spans import NullTracer, Tracer, self_times
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of Python, Spark and the JVM inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's included: no hsperfdata files, temp here.
    # JAVA_TOOL_OPTIONS splits on whitespace, so the temp dir is given
    # relative to the checkout root, which every JVM inherits as its cwd.
    os.chdir(ROOT)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.relpath(tmp, ROOT)}"
    tempfile.tempdir = tmp

    tracer = Tracer() if args.trace else NullTracer()
    run = workloads.Run(args, work, tracer, cpus())
    t_start = time.time()
    try:
        if args.workload == "live_ingest":
            workloads.live_ingest(run)
        elif args.workload == "ingest_backlog":
            workloads.ingest_backlog(run, baseline=bool(args.trace))
        else:
            workloads.curation(run)
    finally:
        if run.spark is not None:
            engine.stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(run.failures)
    attempted = max(run.attempted, failed, 1)
    run.layer["failed_ops_ratio"] = failed / attempted
    print(f"perfbench: workload={args.workload} seed={args.seed} cpus={run.cpus} "
          f"wall={time.time() - t_start:.1f}s")
    print("perfbench: " + json.dumps({"traffic": run.info.get("traffic"), "samples": run.info.get("samples")}))
    for f in run.failures:
        print(f"perfbench: FAILED {f}")
    if args.trace:
        run.layer["trace.spans"] = len(tracer.spans)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(
            os.path.join(traces, f"{args.workload}-s{args.seed}.json"),
            {"info": run.info, "layer": run.layer, "e2e_traced": run.e2e,
             "self_s": self_times(tracer.spans)},
        )
        wanted = PER_LAYER | (LIVE_LAYER if args.workload == "live_ingest" else {})
        values = {k: run.layer.get(k, 0.0) for k in wanted}
    else:
        wanted = END_TO_END
        values = {k: run.e2e[k] for k in wanted}
    for k, v in values.items():
        print(f"perfbench: {k} = {v} {wanted[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": wanted[k]} for k, v in values.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
