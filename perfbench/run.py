"""Benchmark entry point: one workload, one seed, one line of results.

    python3 perfbench/run.py --workload tsdb_engine --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository on
``local[<cpus this process may use>]``.  Prints a ``report`` JSON line
(every metric by name with its unit, the run stamp, the first errors),
then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run writes its spans to
``perfbench/.work/<workload>/spans.jsonl``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tsdb_engine", "table_formats", "analytics")
SETUP_REPS = 3
PROBE_REPS = 3
DEADLINE_S = 170  # a run must end within 180 s
DRIVER_MEM = "2g"

# (name, unit) printed in the final line of an untraced run
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("pass_s", "s"),
    ("op_p50_ms", "ms"),
    ("write_p50_ms", "ms"),
    ("store_bytes_per_point", "bytes"),
)

STORAGE_METHODS = (
    "append_points_raw", "upsert_points_agg", "read_streams",
    "upsert_streams", "compact_points_raw",
)
TXNLOG_FUNCS = ("txn_append", "commit", "txn_read", "collect_file_stats", "txn_optimize")
LAYERS = (
    "op", "api", "http_api", "storage", "txnlog", "operators",
    "sources", "streaming", "plans", "spark",
)
TSDB_OP_METRICS = (
    ("append_p50_ms", "ms"), ("append_tail_ms", "ms"),
    ("ingest_points_per_s", "1/s"), ("downsample_p50_s", "s"),
    ("read_p50_ms", "ms"), ("read_tail_ms", "ms"),
    ("find_streams_p50_ms", "ms"), ("read_cursor_pages", "count"),
)

# (name, unit) printed in the final line of a traced run
PER_LAYER = (
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.jobs.append", "count/op"),
    ("spark.jobs.downsample", "count/op"),
    ("spark.jobs.read", "count/op"),
    ("spark.jobs.query", "count/op"),
    ("api.append_multiple_s", "s"),
    ("api.downsample_streams_s", "s"),
    ("api.get_data_s", "s"),
    ("api.find_streams_s", "s"),
    ("http_api.self_ms", "ms"),
    *((f"storage.{m}.calls", "count") for m in STORAGE_METHODS),
    *((f"storage.{m}_s", "s") for m in STORAGE_METHODS),
    *((f"txnlog.{f}.calls", "count") for f in TXNLOG_FUNCS),
    *((f"txnlog.{f}_s", "s") for f in TXNLOG_FUNCS),
    ("store.files", "count"),
    ("store.bytes", "bytes"),
    ("txnlog.log_entries", "count"),
    *((f"queries.{fam}_s", "s") for fam in (
        "txn", "delta", "iceberg", "format_streaming", "core", "operators")),
    *((f"self.{layer}_s", "s") for layer in LAYERS),
    *((f"tsdb.{n}", u) for n, u in TSDB_OP_METRICS),
    ("trace.spans", "count"),
    ("trace.overhead_ms", "ms"),
    ("trace.collect_s", "s"),
)


def _prepare_env(workdir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from any working directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import harness

    os.environ["SPARK_GRAFT_CPUS"] = str(harness.host_cpus_honoured())
    # a fixed, small driver heap: keeps a run's memory modest on a shared
    # box and its peak RSS from following the JVM's heap-growth whims
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _layer_metrics(wl, ops, tracer, session_s: float, wl_metrics: dict) -> dict:
    import harness as H
    import tracing

    spans = tracer.spans
    calls = tracing.calls_and_seconds(spans)
    selfs = tracing.layer_self_seconds(spans)
    by_kind = ops.spark_by_kind
    total: dict[str, float] = {}
    for part in by_kind.values():
        H.add_into(total, part)
    out: dict[str, float] = {"session.start_s": session_s}
    out["plans.build_s"] = sum(getattr(wl, "build_s", []), 0.0)
    out["plans.build_jobs"] = by_kind.get("build", {}).get("jobs", 0.0)
    for f in H.SparkCounters.FIELDS:
        out[f"spark.{f}"] = total.get(f, 0.0)
    for kind in ("append", "downsample", "read", "query"):
        n = ops.traced_ops.get(kind, 0)
        out[f"spark.jobs.{kind}"] = by_kind.get(kind, {}).get("jobs", 0.0) / n if n else 0.0
    for f in ("append_multiple", "downsample_streams", "get_data", "find_streams"):
        out[f"api.{f}_s"] = calls.get(f"api.{f}", (0, 0.0))[1]
    page_self = [
        st for sp, st in zip(spans, tracing.self_times(spans))
        if sp.name == "http_api.stream_datapoints"
    ]
    out["http_api.self_ms"] = 1e3 * statistics.mean(page_self) if page_self else 0.0
    for m in STORAGE_METHODS:
        n, s = calls.get(f"storage.{m}", (0, 0.0))
        out[f"storage.{m}.calls"], out[f"storage.{m}_s"] = n, s
    for f in TXNLOG_FUNCS:
        n, s = calls.get(f"txnlog.{f}", (0, 0.0))
        out[f"txnlog.{f}.calls"], out[f"txnlog.{f}_s"] = n, s
    for k in ("store.files", "store.bytes", "txnlog.log_entries"):
        out[k] = wl_metrics.get(k, (0.0, ""))[0]
    fam = getattr(wl, "family_s", {})
    for f in ("txn", "delta", "iceberg", "format_streaming", "core", "operators"):
        out[f"queries.{f}_s"] = fam.get(f, 0.0)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    for n, _u in TSDB_OP_METRICS:
        out[f"tsdb.{n}"] = wl_metrics.get(n, (0.0, ""))[0]
    out["trace.spans"] = len(spans)
    out["trace.overhead_ms"] = wl.trace_overhead_ms(ops)
    out["trace.collect_s"] = ops.collect_s
    return out


def _write_spans(path: str, spans) -> None:
    with open(path, "w") as f:
        for i, sp in enumerate(spans):
            f.write(json.dumps({
                "id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                "parent": sp.parent, "op": sp.op_id, "group": sp.group,
            }) + "\n")


def run(args) -> dict:
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def phase(name: str) -> None:
        """Record the seconds since the previous phase ended."""
        now = time.perf_counter()
        phases[name] = now - t_start - sum(phases.values())

    workdir = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(workdir, ignore_errors=True)
    _prepare_env(workdir)
    sys.path[:0] = [ROOT, HERE]
    import harness as H

    try:
        import django_datastream_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the program: {e}")

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "git_sha": H.git_sha(ROOT),
        "pyspark": pyspark.__version__, "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "host_cpus": os.cpu_count(), "loadavg_start": os.getloadavg(),
    }
    phase("import")
    spark, session_s = H.start_session(f"perfbench-{args.workload}")
    phase("session")
    try:
        H.box_probe(spark, 1)  # the first job pays JVM warm-up
        stamp["probe_start_s"] = H.box_probe(spark, PROBE_REPS)
        phase("probe_start")
        if args.workload == "tsdb_engine":
            import tsdb

            wl = tsdb.Workload(spark, args.seed, workdir)
        else:
            import queries

            wl = queries.Workload(args.workload, spark, args.seed, workdir)
        setup_reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_reps.append(time.perf_counter() - t0)
        stamp["setup_reps_s"] = setup_reps
        phase("setup")

        tracer = None
        ops = H.Ops(spark)
        wl.warmup(ops)
        phase("warmup")
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            tracer.install()
            ops.trace_with(tracer)
        wl.run(ops, args.seconds, bool(args.trace))
        phase("measure")
        if tracer is not None:
            tracer.enabled = False
        wl.final_check(ops)
        phase("final_check")

        metrics = wl.metrics(ops)
        metrics["setup_s"] = (session_s + statistics.median(setup_reps), "s")
        metrics["session.start_s"] = (session_s, "s")
        metrics["peak_rss_mb"] = (H.peak_rss_mb(), "MB")
        metrics["error_rate"] = (ops.failed / max(1, ops.attempted), "ratio")
        stamp["probe_end_s"] = H.box_probe(spark, PROBE_REPS)
        stamp["loadavg_end"] = os.getloadavg()
        if tracer is not None:
            layer = _layer_metrics(wl, ops, tracer, session_s, metrics)
            _write_spans(os.path.join(workdir, "spans.jsonl"), tracer.spans)
            tracer.uninstall()
            final = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        else:
            # a metric with no sample (every such op failed) reads 0; the
            # failures already make the run incorrect
            final = {
                n: {"value": metrics.get(n, (0.0, u))[0], "unit": u}
                for n, u in END_TO_END
            }
        phase("metrics")
    finally:
        H.stop_session(spark)
    phase("stop")
    stamp["phases_s"] = phases

    report = {
        "stamp": stamp,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        "unchecked": getattr(wl, "unchecked", []),
        "errors": ops.errors[:10],
    }
    print(json.dumps({"report": report}))
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": final,
    }


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    result = run(args)
    signal.alarm(0)
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
