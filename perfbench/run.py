"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Files go to ``.perfbench/`` under the checkout: scratch
in ``work/`` (removed at exit), results in ``out/``. Exit status is 0
only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("live_ingest", "dashboard")

#: end-to-end metrics, every workload: name -> unit. The wall-clock
#: latency and throughput are in the report line beside them: on a
#: shared host their run-to-run spread follows the CPU time the host
#: takes away, which CPU seconds leave out
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_unit": "s",
    "peak_rss_mb": "MB",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric, in BENCHMARK.json order: name -> unit."""
    from perfbench import dashboard, live_ingest

    m = {"session.start_s": "s"}
    for key in live_ingest.DURATIONS:
        m[f"stream.{'trigger' if key == 'triggerExecution' else key}_ms"] = "ms"
    m.update({
        "stream.batches": "count", "stream.rows_per_batch": "count",
        "stream.backlog_files_max": "count", "generator.late_ms_max": "ms",
        "sink.epoch_ms": "ms", "sink.epoch_growth": "ratio", "sink.rows_in": "count",
        "sink.rows_committed": "count", "sink.commit_ratio": "ratio",
        "sink.files_per_epoch": "count", "sink.jobs_per_epoch": "count",
        "sink.tasks_per_epoch": "count", "sink.merge_ms": "ms", "sink.delete_ms": "ms",
        "manifest.resolve_ms": "ms", "manifest.read_snapshot_ms": "ms",
        "manifest.commit_ms": "ms", "manifest.calls_per_epoch": "count",
        "manifest.entries_end": "count",
    })
    for kind in dashboard.READ_KINDS:
        m.update({f"serve.{kind}.build_ms": "ms", f"serve.{kind}.execute_ms": "ms",
                  f"serve.{kind}.jobs": "count", f"serve.{kind}.tasks": "count"})
    m["materialize.persisted_rdds_max"] = "count"
    return m


def _checkout_ok() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "f1_realtime_data_pipeline_spark", "session.py")
    ) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _checkout_ok():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import dashboard, harness, live_ingest, stats

    module = {"live_ingest": live_ingest, "dashboard": dashboard}[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    extra = harness.configure_env(work)
    if args.trace:
        extra.update(harness.TRACE_CONF)
    tracer = harness.Tracer(bool(args.trace))
    t_run = time.time()
    with tracer.span("session.start"):
        spark, start_s = harness.start_session(f"perfbench-{args.workload}", extra)
    try:
        res = module.run(spark, args.seed, args.seconds, tracer, work)
        rss = harness.peak_rss_mb(spark)
    finally:
        _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": start_s + stats.median(res["setup_fixture_s"]),
        "latency_p50_s": res["latency_p50_s"],
        "throughput_per_s": res["throughput_per_s"],
        "cpu_s_per_unit": res["cpu_s_per_unit"],
        "peak_rss_mb": rss,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "session_start_s": start_s, "setup_fixture_s": res["setup_fixture_s"],
        "wall_s": time.time() - t_run, "end_to_end": e2e, **res["report"],
    }
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        layers = {"session.start_s": start_s, **res["layers"]}
        names = per_layer_metrics()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names.items()}
        untraced = os.path.join(out_dir, f"{tag}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_e2e = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k] - base_e2e[k] for k in e2e}
        else:
            report["tracing_overhead"] = "no untraced run with this seed in .perfbench/out"
        report["per_layer"] = {n: m["value"] for n, m in metrics.items()}
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
        path = os.path.join(out_dir, f"{tag}.layers.json")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
        path = os.path.join(out_dir, f"{tag}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)

    print(json.dumps({k: v for k, v in report.items() if k != "per_layer"}, default=str))
    correct = res["failed"] == 0 and all(
        v["value"] == v["value"] for v in metrics.values()  # no NaN
    )
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]),
        "failed": int(res["failed"]), "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
