"""Physical-layout invariance sweep: values must not depend on layout.

The correctness sweeps so far perturbed the DATA (r8: degenerate
values; r9: empty relations, unicode corpus). This tool perturbs the
PHYSICAL EXECUTION LAYOUT while holding the data fixed — exactly the
axis that changes between this harness (local[<host CPUs>], max(CPUs, 8)
shuffle partitions, AQE on, 128 MB splits) and a 1000-executor deployment
(thousands of shuffle partitions, site-specific AQE policy, different
split sizing). Every registered query's values must be bit-identical
to the DuckDB oracle under EVERY layout; a query whose result depends
on partition count, partition order, or adaptive re-planning is a
latent wrong-answer bug at scale (unordered first(), limit without
order, accumulation order reaching floats, ...).

Each variant runs ``tools/selfcheck.py`` in a FRESH subprocess —
core count and master are static confs, so perturbing them requires a
new JVM; env knobs are read by ``session.get_spark``:

- shuffle7   : spark.sql.shuffle.partitions=7 (prime, != cores, tiny)
- shuffle97  : spark.sql.shuffle.partitions=97 (prime, > cores —
               the many-reducers shape a cluster would run)
- cpus5      : local[5] — different task parallelism AND different
               defaultParallelism-derived plan constants, if any leak
- aqe_off    : spark.sql.adaptive.enabled=false — no runtime
               coalesce/skew re-plan; plans must not RELY on AQE
- split1m    : spark.sql.files.maxPartitionBytes=1m — every scan
               fans out into many small input splits
- mem4g      : spark.driver.memory=4g (vs half the host's memory) — the
               per-executor-memory-is-small regime; execution must
               spill, not OOM, when the working set outgrows RAM

Usage:
    python tools/layout_sweep.py [--sf-dir /root/testdata/sf0.01]
                                 [--variants shuffle7,aqe_off,...]
                                 [names...]

Prints one summary line per variant; exit 0 iff every variant's
selfcheck reports all queries matching.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

VARIANTS: dict[str, dict[str, str]] = {
    "shuffle7": {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "7"},
    "shuffle97": {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "97"},
    "cpus5": {"SPARK_GRAFT_CPUS": "5"},
    "aqe_off": {"SPARK_GRAFT_AQE": "false"},
    "split1m": {"SPARK_GRAFT_MAX_PARTITION_BYTES": "1m"},
    "mem4g": {"SPARK_GRAFT_DRIVER_MEM": "4g"},
}


def run_variant(name: str, env_over: dict[str, str], sf_dir: str, names: list[str]) -> tuple[bool, str]:
    env = dict(os.environ, **env_over)
    cmd = [sys.executable, "tools/selfcheck.py", "--sf-dir", sf_dir, *names]
    t0 = time.time()
    proc = subprocess.run(
        cmd, env=env, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True,
    )
    wall = time.time() - t0
    tail = proc.stdout.strip().splitlines()
    summary = tail[-1] if tail else "(no output)"
    ok = proc.returncode == 0
    fails = [ln for ln in tail if ln.startswith("[FAIL]")]
    detail = ("\n" + "\n".join(fails[:20])) if fails else ""
    return ok, f"[{'OK' if ok else 'FAIL'}] {name} ({wall:.0f}s): {summary}{detail}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--variants", default=",".join(VARIANTS))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    bad = False
    for v in args.variants.split(","):
        v = v.strip()
        if v not in VARIANTS:
            print(f"[skip] unknown variant {v!r} (have: {', '.join(VARIANTS)})")
            continue
        ok, line = run_variant(v, VARIANTS[v], args.sf_dir, args.names)
        print(line, flush=True)
        bad = bad or not ok
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
