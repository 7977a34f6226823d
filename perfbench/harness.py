"""Session sizing, spans, Spark status-store counts and memory.

Everything the workloads share. Importing this module starts nothing;
:func:`configure_env` must run before pyspark is imported.
"""

from __future__ import annotations

import itertools
import json
import os
import resource
import threading
import time
from contextlib import contextmanager

from perfbench import stats


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw.isdigit():
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def configure_env(work_dir: str) -> dict[str, str]:
    """Size the session from the host through the engine's own env
    overrides and keep every scratch file under ``work_dir``. Returns
    the extra Spark conf the benchmark passes to ``get_spark``."""
    import sys

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # an eighth of physical memory, 1-4 GiB: the host is shared, and a
    # heap the workloads fill keeps peak RSS from tracking GC timing
    heap_gb = max(1, min(4, host_mem_bytes() // (8 << 30)))
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) around layer calls.
    Disabled tracers record nothing and wrap nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` by a spanned call until :meth:`unwrap`;
        ``attrs(args, kwargs)`` adds fields to each span."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)

        def spanned(*a, **kw):
            with self.span(name, **(attrs(a, kw) if attrs else {})):
                return inner(*a, **kw)

        setattr(owner, attr, spanned)
        self._restore.append((owner, attr, inner))

    def unwrap(self) -> None:
        for owner, attr, inner in reversed(self._restore):
            setattr(owner, attr, inner)
        self._restore.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def ms(spans: list[dict]) -> list[float]:
    return [(s["end"] - s["start"]) * 1000.0 for s in spans]


# -- manifest spans ------------------------------------------------------------


def wrap_manifest(tracer, manifest) -> None:
    """Span the manifest calls every sink and snapshot read goes
    through; commits record their entry count."""
    tracer.wrap(manifest, "resolve_snapshot_doc", "manifest.resolve_snapshot_doc")
    tracer.wrap(manifest, "read_snapshot", "manifest.read_snapshot")
    tracer.wrap(manifest, "commit_snapshot", "manifest.commit_snapshot",
                attrs=lambda a, kw: {"entries": len(a[3] if len(a) > 3 else kw["entries"])})


def manifest_layers(tracer, n_epochs: int, window=(0.0, float("inf"))) -> dict:
    """Manifest call medians and calls per epoch, over spans that
    started inside ``window`` (epoch s)."""
    out = {}
    calls = 0
    for fn, name in (("resolve_snapshot_doc", "resolve"), ("read_snapshot", "read_snapshot"),
                     ("commit_snapshot", "commit")):
        spans = [s for s in tracer.named(f"manifest.{fn}")
                 if window[0] <= s["start"] <= window[1]]
        calls += len(spans)
        out[f"manifest.{name}_ms"] = stats.median(ms(spans)) if spans else 0.0
    out["manifest.calls_per_epoch"] = calls / n_epochs if n_epochs else 0.0
    commits = sorted(tracer.named("manifest.commit_snapshot"), key=lambda s: s["start"])
    out["manifest.entries_end"] = commits[-1]["entries"] if commits else 0
    return out


# -- Spark status store (works with the UI off) ------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_stages(spark) -> list[dict]:
    """Every stage attempt the status store retains, with its submit
    time (epoch s) and completed task count."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
    return [
        {"submit": _opt_ms(st.submissionTime()), "tasks": st.numCompleteTasks()}
        for st in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    ]


def spark_jobs(spark) -> list[dict]:
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    return [
        {"submit": _opt_ms(j.submissionTime())}
        for j in jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.jobsList(None))
    ]


def counts_in(window: tuple[float, float], jobs: list[dict], stages: list[dict]) -> dict:
    """Jobs and completed tasks submitted inside ``window`` (epoch s,
    inclusive)."""
    lo, hi = window

    def inside(x):
        return x["submit"] is not None and lo <= x["submit"] <= hi

    return {"jobs": sum(1 for j in jobs if inside(j)),
            "tasks": sum(s["tasks"] for s in stages if inside(s))}


#: conf a traced run adds so the status store keeps every job and stage
TRACE_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# -- memory ------------------------------------------------------------------


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = max(_vm_hwm_kb("self"), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (py_kb + _vm_hwm_kb(jvm_pid)) / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds (user + system) used so far by this Python process and
    its JVM."""
    t = os.times()
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# -- session -----------------------------------------------------------------


def start_session(app: str, extra_conf: dict[str, str]):
    """(spark, seconds) for the engine's ``session.get_spark``."""
    from f1_realtime_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=extra_conf)
    return spark, time.perf_counter() - t0
