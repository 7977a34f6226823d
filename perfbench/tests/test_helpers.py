"""Tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle, stats  # noqa: E402


# -- percentile selection by sample count ------------------------------------


def test_supported_tail_needs_ten_samples_beyond():
    assert stats.supported_tail(200) == 95
    assert stats.supported_tail(199) == 90
    assert stats.supported_tail(100) == 90
    assert stats.supported_tail(50) == 80
    assert stats.supported_tail(40) == 75
    assert stats.supported_tail(39) is None


def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 95) == 95
    assert stats.percentile([3.0], 99) == 3.0
    assert stats.percentile([5, 1, 4, 2, 3], 80) == 4


def test_growth_compares_last_and_first_quarter():
    assert stats.growth([1, 1, 1, 1, 2, 2, 2, 2]) == 2.0
    assert stats.growth([1, 2, 3]) == 1.0


# -- file -> batch latency mapping -------------------------------------------


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_file_batch_mapping_from_checkpoint_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(n, b):
        return {"path": f"file:///x/src/batch-{n:05d}.txt", "timestamp": 1, "batchId": b}

    # batches 0..8 are plain files; batch 9 is written as a compaction
    # that repeats every earlier entry
    for b in range(9):
        _log(log / str(b), [entry(b, b)])
    _log(log / "9.compact", [entry(n, n) for n in range(9)] + [entry(9, 9), entry(10, 9)])
    _log(log / ".9.compact.crc", [])
    mapping = stats.read_file_source_log(str(log))
    assert mapping["batch-00000.txt"] == 0
    assert mapping["batch-00010.txt"] == 9
    assert len(mapping) == 11

    start = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()
    end9 = stats.progress_end_time("2026-01-01T00:00:02.000Z", 1500)
    assert abs(end9 - (start + 3.5)) < 1e-9
    lat = stats.file_latencies(
        {"batch-00010.txt": start + 1.0, "batch-00011.txt": start + 1.1},
        mapping,
        {9: end9},
    )
    assert lat == {"batch-00010.txt": 2.5}  # the uncommitted file is left out


def test_backlog_counts_published_not_committed():
    pub = [0.0, 1.0, 2.0, 3.0]
    com = [1.5, 1.5, 3.5]
    assert stats.backlog_at(1.0, pub, com) == 2
    assert stats.backlog_at(2.0, pub, com) == 1
    assert stats.backlog_at(4.0, pub, com) == 1
    assert stats.mean_backlog(0.0, 1.0, pub, com, step=0.5) == 1.0


# -- the standings oracle ----------------------------------------------------


def _row(gp, day, num, pos, sk):
    date = datetime(2023, 3, day, tzinfo=timezone.utc)
    return (gp, date, num, pos, 50, False, None, "m", sk, gen.points_for(pos))


def test_standings_oracle_ties_unknown_driver_and_rounding():
    results = []
    # 32 GPs; driver "1" wins one, driver "44" and "7" tie on points
    for g in range(32):
        sk = f"s{g}"
        results += [
            _row(f"GP{g}", 1 + g % 28, "1" if g == 0 else "2", 1, sk),
            _row(f"GP{g}", 1 + g % 28, "44" if g % 2 else "7", 2, sk),
            _row(f"GP{g}", 1 + g % 28, "99", 11, sk),
        ]
    drivers = {"1": ("One", None), "2": ("Two", "h2"), "44": ("Forty", None),
               "7": ("Seven", None)}
    s = oracle.standings(results, drivers)
    assert [r[0] for r in s] == ["2", "44", "7", "1", "99"]
    two = s[0]
    assert two[3] == 31 * 25 and two[4] == 31 and two[5] == 32
    assert two[6] == 96.88  # 96.875 rounds half up, as Spark's round()
    assert s[3][6] == 3.13  # 3.125 -> 3.13, where Python's round gives 3.12
    assert s[4][1] is None and s[4][3] == 0  # not in the dimension, 0 points
    assert oracle.champion(results, drivers) == s[:1]
    assert oracle.podium(results, drivers) == [
        (1, "2", "Two", 775), (2, "44", "Forty", 288), (3, "7", "Seven", 288),
    ]
    assert oracle.champion(results[:3], drivers) == []  # season incomplete
    cls = oracle.classification(results, drivers, "GP1")
    assert cls == [("2", "Two", 1, "N/A"), ("44", "Forty", 2, "N/A"), ("99", None, 11, "N/A")]
    assert oracle.available_gps(results)[0] == ("GP27",)


def test_rows_equal_tolerates_float_drift_only():
    assert oracle.rows_equal([("a", 1.0)], [("a", 1.0 + 1e-12)])
    assert not oracle.rows_equal([("a", 1.0)], [("a", 1.01)])
    assert not oracle.rows_equal([("a", 1)], [("b", 1)])
    assert not oracle.rows_equal([("a", 1)], [])


# -- seed -> identical inputs -------------------------------------------------


def test_same_seed_same_replay_files():
    a = gen.replay_files(7, 30, 50)
    b = gen.replay_files(7, 30, 50)
    assert [f.lines for f in a] == [f.lines for f in b]
    assert [f.lines for f in a] != [f.lines for f in gen.replay_files(8, 30, 50)]
    assert all(len(f.lines) == 50 for f in a)
    assert sum(f.malformed for f in a) and sum(f.null_position for f in a)
    assert sum(f.resent for f in a)


def test_replay_valid_keys_match_payloads():
    for f in gen.replay_files(3, 20, 40):
        keys = set()
        rows = 0
        for line in f.lines:
            try:
                msg = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(msg, dict) and msg.get("position") is not None:
                keys.add((msg["session_key"], msg["driver_number"]))
                rows += 1
        assert keys == f.valid_keys and rows == f.valid_rows


def test_same_seed_same_dashboard_inputs():
    rows, dim = gen.dashboard_table(5, seasons=3)
    assert (rows, dim) == gen.dashboard_table(5, seasons=3)
    assert rows != gen.dashboard_table(6, seasons=3)[0]
    assert len({(r[8], r[2]) for r in rows}) == len(rows) == 3 * 22 * 20
    sessions, gps = sorted({r[8] for r in rows}), sorted({r[0] for r in rows})
    ops = gen.dashboard_ops(5, sessions, gps, renders=50)
    assert ops == gen.dashboard_ops(5, sessions, gps, renders=50)
    writes = [o[0] for o in ops if o[0] != "read"]
    assert writes[:3] == ["correct", "delete", "reinsert"]
