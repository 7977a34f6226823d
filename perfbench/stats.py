"""Pure helpers: percentiles, the file -> micro-batch mapping, backlog.

Nothing here touches Spark, so the benchmark's own tests can pin it.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from datetime import datetime

#: a tail percentile is reported only with at least this many samples
#: beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def supported_tail(n: int, candidates=(99, 95, 90, 80, 75)) -> int | None:
    """Highest candidate percentile that leaves ``MIN_BEYOND`` samples
    beyond it in a sample of ``n``; None when none does."""
    for p in candidates:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p
    return None


def median(values) -> float:
    return statistics.median(values)


def growth(values) -> float:
    """Median of the last quarter divided by the median of the first
    quarter (1.0 when there are too few values to split)."""
    q = len(values) // 4
    if q == 0:
        return 1.0
    first, last = median(values[:q]), median(values[-q:])
    return last / first if first else 1.0


def read_file_source_log(source_log_dir: str) -> dict[str, int]:
    """File name -> batch id from a file-stream checkpoint's
    ``sources/0`` log. Each log file is a version line followed by one
    JSON entry per input file; every tenth batch is written as a
    ``<id>.compact`` file that repeats all earlier entries."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(source_log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_end_time(timestamp: str, trigger_ms: float) -> float:
    """Epoch seconds at which a micro-batch ended: its progress
    ``timestamp`` (trigger start, ISO-8601 UTC) plus
    ``durationMs.triggerExecution``."""
    start = datetime.fromisoformat(timestamp.replace("Z", "+00:00"))
    return start.timestamp() + trigger_ms / 1000.0


def file_latencies(
    due: dict[str, float],
    file_batch: dict[str, int],
    batch_end: dict[int, float],
) -> dict[str, float]:
    """Seconds from each file's due time to the end of the micro-batch
    that committed it. Files with no committed batch are left out."""
    out = {}
    for name, t_due in due.items():
        b = file_batch.get(name)
        if b is not None and b in batch_end:
            out[name] = batch_end[b] - t_due
    return out


def backlog_at(t: float, published: list[float], committed: list[float]) -> int:
    """Files published by time ``t`` and not yet committed by then."""
    return sum(1 for p in published if p <= t) - sum(1 for c in committed if c <= t)


def mean_backlog(lo: float, hi: float, published: list[float], committed: list[float],
                 step: float = 0.05) -> float:
    """Backlog averaged over ``[lo, hi)``, sampled every ``step`` s."""
    n = max(1, int((hi - lo) / step))
    return sum(backlog_at(lo + i * step, published, committed) for i in range(n)) / n
