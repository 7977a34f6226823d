"""``live_ingest``: the paper's pipeline under an open-loop file source.

A generator thread publishes replay files on a fixed schedule; a
``raw_value_stream -> transform_stream -> transactional_parquet_sink``
query ingests them with the default trigger. Each measured file is
timed from its due time to the end of the micro-batch that committed
it. A burst of files published at once before the open loop warms the
JIT; bursts published after it, into the drained stream, measure the
capacity: lines per second from each burst's publication to the end of
the batch that committed its last file.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench import gen, harness, stats

#: offered load: files per second and payload lines per file
RATE = 1.0
ROWS_PER_FILE = 60
#: files of each burst published at once: one warms the JIT before the
#: open loop, the ones after it measure capacity
BURST_FILES = 20
CAPACITY_BURSTS = 2
#: open-loop files published before the measured window: long enough
#: for the batch size to settle
WARMUP_S = 6.0
SETUP_REPS = 3
#: a run fails when the second half's mean backlog exceeds the first
#: half's by this factor (plus half a second of arrivals)
GROWTH_FACTOR = 1.25
KEYS = ("session_key", "driver_number")


class _Progress:
    """Collects this query's progress events (a Python
    ``StreamingQueryListener`` bound lazily so importing this module
    does not need pyspark)."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.lock = threading.Lock()
        self.query_id = None

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if outer.query_id is not None and str(p.id) != outer.query_id:
                    return
                with outer.lock:
                    outer.events.append({
                        "batch": p.batchId, "timestamp": p.timestamp,
                        "duration": dict(p.durationMs), "rows": p.numInputRows,
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    def ended_batches(self) -> dict[int, dict]:
        with self.lock:
            return {e["batch"]: e for e in self.events}


def _start_query(spark, src, ckpt, writer):
    from f1_realtime_data_pipeline_spark.plans.contract_f1 import transform_stream
    from f1_realtime_data_pipeline_spark.sources.replay import raw_value_stream

    raw = raw_value_stream(spark, src, max_files_per_trigger=100000)
    return (
        transform_stream(raw)
        .writeStream.outputMode("append")
        .foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _wait_waiting(query, timeout=30.0) -> None:
    end = time.time() + timeout
    while time.time() < end:
        if query.status.get("message", "").startswith("Waiting for"):
            return
        time.sleep(0.02)
    raise TimeoutError(f"query not ready: {query.status}")


def _wait_committed(progress, src_log: str, names: list[str], timeout: float) -> dict:
    """File name -> batch id once every file in ``names`` is in a batch
    whose progress event has arrived (or at ``timeout``)."""
    deadline = time.time() + timeout
    while True:
        file_batch = stats.read_file_source_log(src_log) if os.path.isdir(src_log) else {}
        ended = progress.ended_batches()
        if all(n in file_batch and file_batch[n] in ended for n in names):
            return file_batch
        if time.time() >= deadline:
            return file_batch
        time.sleep(0.05)


def _batch_ends(progress) -> tuple[dict, dict]:
    ended = progress.ended_batches()
    return ended, {
        b: stats.progress_end_time(e["timestamp"], e["duration"].get("triggerExecution", 0))
        for b, e in ended.items()
    }


def run(spark, seed: int, seconds: int, tracer: harness.Tracer, work: str) -> dict:
    from f1_realtime_data_pipeline_spark.schemas import RACE_RESULTS
    from f1_realtime_data_pipeline_spark.sources import manifest, replay
    from f1_realtime_data_pipeline_spark.streaming import sinks

    n_warm = int(RATE * WARMUP_S)
    n_meas = int(RATE * seconds)
    n_files = BURST_FILES + n_warm + n_meas + CAPACITY_BURSTS * BURST_FILES
    files = gen.replay_files(seed, n_files, ROWS_PER_FILE)
    names = [f"batch-{i:05d}.txt" for i in range(len(files))]
    progress = _Progress()
    spark.streams.addListener(progress.listener())

    # -- setup, repeated: declare the table and start the query ------------
    setup_times = []
    query = None
    for rep in range(SETUP_REPS):
        d = os.path.join(work, f"ingest{rep}")
        src, sink, ckpt = (os.path.join(d, x) for x in ("src", "sink", "ckpt"))
        os.makedirs(src)
        if query is not None:
            query.stop()
        t0 = time.perf_counter()
        with tracer.span("setup.fixture"):
            sinks.declare_sink_table(spark, sink, RACE_RESULTS)
            writer = sinks.transactional_parquet_sink(sink, KEYS)
            if tracer.enabled:
                writer = _spanned_writer(tracer, writer)
            query = _start_query(spark, src, ckpt, writer)
            _wait_waiting(query)
        setup_times.append(time.perf_counter() - t0)
    progress.query_id = str(query.id)
    src_log = os.path.join(ckpt, "sources", "0")
    harness.wrap_manifest(tracer, manifest)

    stage = os.path.join(d, "stage")

    def burst(idx) -> float | None:
        """Publish files ``idx`` at once into the idle stream; seconds
        until the batch that committed the last of them ended."""
        for i in idx:
            replay.write_replay_batch(stage, files[i].lines, i)
        t_pub = time.time()
        for i in idx:
            os.replace(os.path.join(stage, names[i]), os.path.join(src, names[i]))
        file_batch = _wait_committed(progress, src_log, [names[i] for i in idx], 60)
        _, batch_end = _batch_ends(progress)
        ends = [batch_end.get(file_batch.get(names[i])) for i in idx]
        return None if None in ends else max(ends) - t_pub

    # a first burst warms the JIT before anything is timed
    warm_ok = burst(range(BURST_FILES)) is not None

    # -- open loop ----------------------------------------------------------
    loop = range(BURST_FILES, BURST_FILES + n_warm + n_meas)
    due: dict[str, float] = {}
    published: dict[str, float] = {}
    t_start = time.time() + 0.2

    def publish() -> None:
        for k, i in enumerate(loop):
            t_due = t_start + k / RATE
            delay = t_due - time.time()
            if delay > 0:
                time.sleep(delay)
            replay.write_replay_batch(src, files[i].lines, i)
            due[names[i]] = t_due
            published[names[i]] = time.time()

    cpu0, ticks0 = harness.cpu_s(spark), harness.host_ticks()
    gen_thread = threading.Thread(target=publish, name="replay-generator", daemon=True)
    gen_thread.start()
    gen_thread.join(timeout=len(loop) / RATE + 60)
    t_last_due = t_start + (len(loop) - 1) / RATE

    # drain: every published file must reach a finished batch
    _wait_committed(progress, src_log, [names[i] for i in loop], 60)
    cpu1, ticks1 = harness.cpu_s(spark), harness.host_ticks()

    # -- capacity: bursts into the drained, warm stream ----------------------
    cap_s = [burst(range(b, b + BURST_FILES))
             for b in range(loop.stop, len(files), BURST_FILES)]
    cap_lines = sum(len(f.lines) for f in files[loop.stop:])
    capacity = float("nan") if None in cap_s else cap_lines / sum(cap_s)
    cap_cpu = harness.cpu_s(spark) - cpu1
    file_batch = stats.read_file_source_log(src_log)
    if query.exception() is not None:
        print(f"live_ingest: query failed: {query.exception()}", flush=True)
    query.stop()
    tracer.unwrap()

    # -- results --------------------------------------------------------------
    ended, batch_end = _batch_ends(progress)
    lat = stats.file_latencies(due, file_batch, batch_end)
    measured = names[loop.start + n_warm:loop.stop]
    fresh = [lat[n] for n in measured if n in lat]
    meas_batches = sorted({file_batch[n] for n in measured if n in file_batch})

    # backlog: time-averaged over each half of the measured window, so a
    # queue that grows for the whole run stands out from trigger ripple
    loop_names = names[loop.start:loop.stop]
    pub_t = [published[n] for n in loop_names if n in published]
    com_t = [batch_end[file_batch[n]] for n in loop_names if n in lat]
    t_meas0 = t_start + n_warm / RATE
    half = (t_last_due - t_meas0) / 2
    avg = [
        stats.mean_backlog(lo, lo + half, pub_t, com_t)
        for lo in (t_meas0, t_meas0 + half)
    ]
    backlog_end = stats.backlog_at(t_last_due, pub_t, com_t)
    backlog_grew = avg[1] > GROWTH_FACTOR * avg[0] + RATE * 0.5

    # -- correctness ------------------------------------------------------------
    want = set().union(*(f.valid_keys for f in files))
    got = [tuple(r) for r in sinks.read_sink_snapshot(spark, sink).select(*KEYS).collect()]
    got_set = set(got)
    missing_files = sum(1 for n in measured if n not in lat)
    checks = {
        "bursts_committed": warm_ok and None not in cap_s,
        "keys_exact": got_set == want,
        "no_duplicate_keys": len(got) == len(got_set),
        "backlog_stable": not backlog_grew,
    }
    failed = missing_files + sum(1 for ok in checks.values() if not ok)
    tail = stats.supported_tail(len(fresh))
    report = {
        "freshness_n": len(fresh),
        "freshness_p50_s": stats.median(fresh) if fresh else None,
        "capacity_lines_per_s": capacity,
        "capacity_burst_s": cap_s,
        "loop_cpu_s": cpu1 - cpu0,
        "loop_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "batches": len(meas_batches),
        "backlog_end_files": backlog_end,
        "backlog_mean_files_by_half": avg,
        "backlog_max_files": max(stats.backlog_at(t, pub_t, com_t) for t in pub_t),
        "generator_late_ms_max": max((published[n] - due[n]) * 1000 for n in published),
        "checks": checks,
        "keys_expected": len(want), "keys_committed": len(got_set),
    }
    if tail:
        report[f"freshness_p{tail}_s"] = stats.percentile(fresh, tail)
    result = {
        "setup_fixture_s": setup_times,
        "attempted": len(measured) + len(checks),
        "failed": failed,
        "latency_p50_s": stats.median(fresh) if fresh else float("nan"),
        "throughput_per_s": capacity,
        "cpu_s_per_unit": cap_cpu / cap_lines * 1000,
        "report": report,
    }
    if tracer.enabled:
        result["layers"] = _layers(spark, tracer, ended, meas_batches, files,
                                   report, rows_committed=len(got))
    return result


def _spanned_writer(tracer, writer):
    def write(batch_df, epoch_id):
        with tracer.span("sink.epoch", epoch=epoch_id) as sp:
            writer(batch_df, epoch_id)
            sp["persisted_rdds"] = harness.persisted_rdds(batch_df.sparkSession)

    return write


DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "getBatch",
             "latestOffset", "walCommit", "commitOffsets")


def _layers(spark, tracer, ended, meas_batches, files, report, rows_committed) -> dict:
    out = {}
    for key in DURATIONS:
        vals = [ended[b]["duration"].get(key, 0) for b in meas_batches]
        name = "trigger" if key == "triggerExecution" else key
        out[f"stream.{name}_ms"] = stats.median(vals) if vals else 0.0
    out["stream.batches"] = len(meas_batches)
    out["stream.rows_per_batch"] = (
        stats.median([ended[b]["rows"] for b in meas_batches]) if meas_batches else 0
    )
    out["stream.backlog_files_max"] = report["backlog_max_files"]
    out["generator.late_ms_max"] = report["generator_late_ms_max"]

    batches = set(meas_batches)  # a foreachBatch epoch id is its batch id
    epochs = sorted((s for s in tracer.named("sink.epoch") if s["epoch"] in batches),
                    key=lambda s: s["start"])
    epoch_ms = harness.ms(epochs)
    jobs, stages = harness.spark_jobs(spark), harness.spark_stages(spark)
    per_epoch = [harness.counts_in((s["start"], s["end"]), jobs, stages) for s in epochs]
    commits = sorted(tracer.named("manifest.commit_snapshot"), key=lambda s: s["start"])
    added = [b["entries"] - a["entries"] for a, b in zip(commits, commits[1:])]
    rows_in = sum(f.valid_rows for f in files)
    out.update({
        "sink.epoch_ms": stats.median(epoch_ms) if epoch_ms else 0.0,
        "sink.epoch_growth": stats.growth(epoch_ms),
        "sink.rows_in": rows_in,
        "sink.rows_committed": rows_committed,
        "sink.commit_ratio": rows_committed / rows_in if rows_in else 0.0,
        "sink.files_per_epoch": stats.median(added) if added else 0,
        "sink.jobs_per_epoch": stats.median([c["jobs"] for c in per_epoch]) if per_epoch else 0,
        "sink.tasks_per_epoch": stats.median([c["tasks"] for c in per_epoch])
        if per_epoch else 0,
    })
    window = (epochs[0]["start"], epochs[-1]["end"]) if epochs else (0.0, 0.0)
    out.update(harness.manifest_layers(tracer, n_epochs=len(epochs), window=window))
    out["materialize.persisted_rdds_max"] = max(
        (s.get("persisted_rdds", 0) for s in tracer.named("sink.epoch")), default=0)
    return out
