"""``dashboard``: one closed-loop client over a lakehouse table.

Setup commits the full-history results table through
``transactional_parquet_sink`` as one epoch. The client then renders
serving reads
(``F1Engine.from_lakehouse`` + ``collect``), each render followed by a
write: corrections via ``transactional_merge`` and a session delete via
``transactional_delete`` followed by its re-insert.
Every read is checked against a Python oracle of the current table.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, harness, oracle, stats

READ_KINDS = gen.READ_KINDS
SEASONS = 80
#: ops run before timing starts (one render), so the read path is warm;
#: the window then runs (write, render) cycles
WARMUP_OPS = len(READ_KINDS)
KEYS = ["session_key", "driver_number"]


def _build_table(spark, table, rows) -> None:
    """Commit ``rows`` as the table's first sink epoch."""
    from f1_realtime_data_pipeline_spark.schemas import RACE_RESULTS
    from f1_realtime_data_pipeline_spark.streaming import sinks

    import pandas as pd

    # through pandas so the session's Arrow path converts the rows
    pdf = pd.DataFrame(rows, columns=list(gen.RESULT_FIELDS))
    sinks.transactional_parquet_sink(table, KEYS)(spark.createDataFrame(pdf, RACE_RESULTS), 0)


def run(spark, seed: int, seconds: int, tracer: harness.Tracer, work: str) -> dict:
    from f1_realtime_data_pipeline_spark.engine import F1Engine
    from f1_realtime_data_pipeline_spark.schemas import DRIVERS, RACE_RESULTS
    from f1_realtime_data_pipeline_spark.sources import manifest
    from f1_realtime_data_pipeline_spark.streaming import sinks

    rows, dim = gen.dashboard_table(seed, seasons=SEASONS)
    drivers = {n: (name, head) for n, name, head in dim}
    dim_path = os.path.join(work, "drivers")
    spark.createDataFrame(dim, DRIVERS).write.parquet(dim_path)

    # one build: a second would cost as much as the measured window
    table = os.path.join(work, "results")
    t0 = time.perf_counter()
    with tracer.span("setup.fixture"):
        _build_table(spark, table, rows)
    setup_times = [time.perf_counter() - t0]

    state = {(r[8], r[2]): r for r in rows}
    sessions = sorted({r[8] for r in rows})
    gps = sorted({r[0] for r in rows})
    ops = gen.dashboard_ops(seed, sessions, gps)
    removed: dict[str, list] = {}

    def apply_write(op):
        """Run one write op; returns its span name."""
        if op[0] == "correct":
            _, sk, i, j = op
            cur = sorted((state[k] for k in state if k[0] == sk), key=lambda r: r[3])
            a, b = cur[i], cur[j]
            new = [
                a[:3] + (b[3],) + a[4:9] + (gen.points_for(b[3]),),
                b[:3] + (a[3],) + b[4:9] + (gen.points_for(a[3]),),
            ]
            sinks.transactional_merge(spark.createDataFrame(new, RACE_RESULTS), table, KEYS)
            for r in new:
                state[(r[8], r[2])] = r
            return "sink.merge"
        if op[0] == "delete":
            sk = op[1]
            gone = [state[k] for k in list(state) if k[0] == sk]
            sinks.transactional_delete(
                spark.createDataFrame([(r[8], r[2]) for r in gone],
                                      "session_key string, driver_number string"),
                table, KEYS,
            )
            removed[sk] = gone
            for r in gone:
                del state[(r[8], r[2])]
            return "sink.delete"
        back = removed.pop(op[1])
        sinks.transactional_merge(spark.createDataFrame(back, RACE_RESULTS), table, KEYS)
        for r in back:
            state[(r[8], r[2])] = r
        return "sink.merge"

    def read(kind, arg):
        eng = F1Engine.from_lakehouse(spark, table, dim_path)
        df = getattr(eng, kind)(arg) if kind == "classification" else getattr(eng, kind)()
        return df

    harness.wrap_manifest(tracer, manifest)
    read_lat, write_lat = [], []
    by_kind: dict[str, list] = {k: [] for k in READ_KINDS}
    attempted = failed = 0
    persisted = []
    oracle_cpu = 0.0
    t_end = None
    for n, op in enumerate(ops):
        if n == WARMUP_OPS:
            t_end = time.perf_counter() + seconds
            cpu0, ticks0 = harness.cpu_s(spark), harness.host_ticks()
        # the window holds whole (write, render) cycles, so the op mix
        # does not depend on where the time runs out
        if t_end is not None and time.perf_counter() >= t_end and op[0] != "read":
            break
        timed = t_end is not None
        attempted += 1
        try:
            if op[0] == "read":
                kind, arg = op[1], op[2]
                t0 = time.perf_counter()
                with tracer.span(f"serve.{kind}") as sp:
                    with tracer.span(f"serve.{kind}.build"):
                        df = read(kind, arg)
                    with tracer.span(f"serve.{kind}.execute"):
                        got = [tuple(r) for r in df.collect()]
                dt = time.perf_counter() - t0
                t_oracle = time.process_time()
                ok = oracle.rows_equal(got, oracle.answer(kind, arg, state.values(), drivers))
                failed += not ok
                if timed:
                    oracle_cpu += time.process_time() - t_oracle
                    read_lat.append(dt)
                    by_kind[kind].append(dt)
                if sp is not None:
                    sp["ok"] = ok
            else:
                t0 = time.perf_counter()
                with tracer.span("write") as sp:
                    name = apply_write(op)
                    if sp is not None:
                        sp["op"] = name
                if timed:
                    write_lat.append(time.perf_counter() - t0)
        except Exception as exc:  # a failed op is counted, the loop goes on
            print(f"dashboard: op {op!r} failed: {exc!r}", flush=True)
            failed += 1
        if tracer.enabled:
            persisted.append(harness.persisted_rdds(spark))
    # engine CPU: the benchmark's own oracle is left out
    cpu, ticks1 = harness.cpu_s(spark) - cpu0 - oracle_cpu, harness.host_ticks()
    tracer.unwrap()

    # the table must end equal to the oracle's state
    final = {_comparable(tuple(r)) for r in sinks.read_sink_snapshot(spark, table)
             .select(*gen.RESULT_FIELDS).collect()}
    table_ok = final == {_comparable(r) for r in state.values()}
    attempted += 1
    failed += not table_ok
    # a page render is one read of each kind: the sum of the per-kind
    # medians uses every read, where whole renders would be few
    render_s = sum(stats.median(v) for v in by_kind.values()) if all(by_kind.values()) \
        else float("nan")
    report = {
        "reads": len(read_lat), "writes": len(write_lat),
        "render_s": render_s,
        "read_p50_s": stats.median(read_lat) if read_lat else None,
        "read_p50_s_by_kind": {k: stats.median(v) for k, v in by_kind.items() if v},
        "write_p50_s": stats.median(write_lat) if write_lat else None,
        "ops_per_s": (len(read_lat) + len(write_lat)) / (sum(read_lat) + sum(write_lat)),
        "final_table_matches": table_ok, "rows_end": len(final),
        "window_cpu_s": cpu,
        "window_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
    }
    tail = stats.supported_tail(len(read_lat))
    if tail:
        report[f"read_p{tail}_s"] = stats.percentile(read_lat, tail)
    result = {
        "setup_fixture_s": setup_times,
        "attempted": attempted, "failed": failed,
        "latency_p50_s": render_s,
        "throughput_per_s": report["ops_per_s"],
        "cpu_s_per_unit": cpu / (len(read_lat) + len(write_lat)),
        "report": report,
    }
    if tracer.enabled:
        result["layers"] = _layers(spark, tracer, persisted)
    return result


def _comparable(row: tuple) -> tuple:
    """A result row with its timestamp as epoch seconds: Spark returns
    naive local datetimes, the generator timezone-aware UTC ones."""
    return row[:1] + (row[1].timestamp(),) + row[2:]


def _layers(spark, tracer, persisted) -> dict:
    jobs, stages = harness.spark_jobs(spark), harness.spark_stages(spark)
    out = {}
    for kind in READ_KINDS:
        build = tracer.named(f"serve.{kind}.build")
        execute = tracer.named(f"serve.{kind}.execute")
        whole = [harness.counts_in((s["start"], s["end"]), jobs, stages)
                 for s in tracer.named(f"serve.{kind}")]
        out[f"serve.{kind}.build_ms"] = stats.median(harness.ms(build)) if build else 0.0
        out[f"serve.{kind}.execute_ms"] = stats.median(harness.ms(execute)) if execute else 0.0
        out[f"serve.{kind}.jobs"] = stats.median([c["jobs"] for c in whole]) if whole else 0
        out[f"serve.{kind}.tasks"] = stats.median([c["tasks"] for c in whole]) if whole else 0
    writes = tracer.named("write")
    for op in ("merge", "delete"):
        spans = [s for s in writes if s.get("op") == f"sink.{op}"]
        out[f"sink.{op}_ms"] = stats.median(harness.ms(spans)) if spans else 0.0
    ops = len(writes) + sum(len(tracer.named(f"serve.{k}")) for k in READ_KINDS)
    out.update(harness.manifest_layers(tracer, n_epochs=ops))
    out["materialize.persisted_rdds_max"] = max(persisted, default=0)
    return out
