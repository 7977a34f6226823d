"""Deterministic input generators. Every function takes the workload
seed and nothing else random: the same seed gives the same inputs, and
the engine only ever sees what these functions return.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

#: F1 points for positions 1..10 (the engine's ladder)
POINTS = {1: 25, 2: 18, 3: 15, 4: 12, 5: 10, 6: 8, 7: 6, 8: 4, 9: 2, 10: 1}

#: race-result fields in the engine's RACE_RESULTS order
RESULT_FIELDS = (
    "grand_prix", "date", "driver_number", "position", "laps_completed",
    "dnf", "gap_to_leader", "meeting_key", "session_key", "points",
)

#: the serving reads of one dashboard render, in panel order
READ_KINDS = ("standings", "champion", "podium", "classification", "available_gps")

_GP_NAMES = (
    "Bahrain", "Saudi Arabian", "Australian", "Japanese", "Chinese", "Miami",
    "Emilia Romagna", "Monaco", "Canadian", "Spanish", "Austrian", "British",
    "Hungarian", "Belgian", "Dutch", "Italian", "Azerbaijan", "Singapore",
    "United States", "Mexico City", "Sao Paulo", "Abu Dhabi",
)


# -- live ingest: replay files -------------------------------------------------


@dataclass
class ReplayFile:
    lines: list[str]
    #: keys of the rows Q0 keeps (valid JSON, position not null)
    valid_keys: set = field(default_factory=set)
    #: rows Q0 keeps, re-sends included
    valid_rows: int = 0
    malformed: int = 0
    null_position: int = 0
    resent: int = 0


def _race_payloads(rng: random.Random, race_no: int, drivers: int = 20) -> list[dict]:
    season, rnd = divmod(race_no, len(_GP_NAMES))
    date = datetime(2000 + season % 30, 3, 1) + timedelta(days=7 * rnd)
    grid = rng.sample(range(1, 100), drivers)
    out = []
    for pos, num in enumerate(grid, start=1):
        dnf = rng.random() < 0.08
        out.append({
            "grand_prix": f"{_GP_NAMES[rnd]} {2000 + season}",
            "date": date.strftime("%Y-%m-%dT%H:%M:%S"),
            "driver_number": str(num),
            "position": pos,
            "laps_completed": 40 + rng.randrange(30),
            "dnf": dnf,
            "gap_to_leader": None if pos == 1 else f"+{rng.uniform(0.1, 90):.3f}",
            "meeting_key": str(1000 + race_no),
            "session_key": str(90000 + race_no),
        })
    return out


def replay_files(
    seed: int,
    n_files: int,
    rows_per_file: int,
    resend_share: float = 0.10,
    malformed_share: float = 0.02,
    null_share: float = 0.03,
) -> list[ReplayFile]:
    """``n_files`` replay files of ``rows_per_file`` payload lines each.

    Most lines are new race results. A ``resend_share`` of lines repeat
    an earlier valid payload verbatim (at-least-once producer re-sends),
    a ``malformed_share`` are not valid JSON objects, and a
    ``null_share`` are in-progress rows (position null) for a key whose
    final row follows.
    """
    rng = random.Random(seed)
    race_no = 0
    pending: list[dict] = []
    sent: list[str] = []
    files = []
    for _ in range(n_files):
        rf = ReplayFile(lines=[])
        while len(rf.lines) < rows_per_file:
            r = rng.random()
            if r < malformed_share:
                rf.lines.append(
                    rng.choice(('{"grand_prix": "Monaco", "position": ', "not json", '["a", 1]'))
                )
                rf.malformed += 1
                continue
            if r < malformed_share + resend_share and sent:
                line = rng.choice(sent[-4 * rows_per_file:])
                rf.lines.append(line)
                msg = json.loads(line)
                rf.valid_keys.add((msg["session_key"], msg["driver_number"]))
                rf.valid_rows += 1
                rf.resent += 1
                continue
            if not pending:
                pending = _race_payloads(rng, race_no)
                race_no += 1
            msg = pending.pop(0)
            if rng.random() < null_share:
                rf.lines.append(json.dumps({**msg, "position": None, "dnf": False}))
                rf.null_position += 1
                if len(rf.lines) >= rows_per_file:
                    pending.insert(0, msg)
                    break
            line = json.dumps(msg)
            rf.lines.append(line)
            sent.append(line)
            rf.valid_keys.add((msg["session_key"], msg["driver_number"]))
            rf.valid_rows += 1
        files.append(rf)
    return files


# -- dashboard: lakehouse table and op mix ---------------------------------------


def points_for(position) -> int:
    return POINTS.get(position, 0) if position is not None else 0


def dashboard_table(seed: int, seasons: int = 80, gps: int = 22, drivers: int = 20):
    """(results rows, drivers dimension rows) for ``seasons`` seasons of
    ``gps`` races with ``drivers`` classified cars each. Result rows are
    tuples in RESULT_FIELDS order; dimension rows are
    (driver_number, driver_name, headshot_url). Driver numbers 90-99
    have no dimension row, so the serving join keeps them with a null
    name."""
    rng = random.Random(seed)
    rows = []
    for s in range(seasons):
        year = 1950 + s
        for g in range(gps):
            date = datetime(year, 3, 1, 14, tzinfo=timezone.utc) + timedelta(days=14 * g)
            gp = f"{year} {_GP_NAMES[g]} Grand Prix"
            sk, mk = str(100000 + s * gps + g), str(5000 + s * gps + g)
            grid = rng.sample(range(1, 100), drivers)
            for pos, num in enumerate(grid, start=1):
                rows.append((
                    gp, date, str(num), pos, 50 + rng.randrange(25),
                    rng.random() < 0.1,
                    None if pos == 1 or rng.random() < 0.05 else f"+{rng.uniform(0.1, 80):.3f}",
                    mk, sk, points_for(pos),
                ))
    dim = [
        (str(n), f"Driver {n:02d}", None if n % 7 == 0 else f"http://img.example/{n}.png")
        for n in range(1, 90)
    ]
    return rows, dim


def dashboard_ops(seed: int, sessions: list[str], gps: list[str], renders: int = 1000):
    """The closed-loop client's op sequence. A dashboard render is the
    five serving reads in panel order, ``("read", kind, arg)``; every
    render is followed by one write. Writes cycle through a correction
    (``("correct", session, i, j)``: swap the i-th and j-th finishers), a
    session delete and that session's re-insert, so the row count returns
    to its start every third write."""
    rng = random.Random(seed)
    ops = []
    deleted = None
    for n in range(renders):
        gp = rng.choice(gps)
        ops += [("read", kind, gp if kind == "classification" else None)
                for kind in READ_KINDS]
        step = n % 3
        if step == 0:
            i, j = rng.sample(range(20), 2)
            ops.append(("correct", rng.choice(sessions), i, j))
        elif step == 1:
            deleted = rng.choice(sessions)
            ops.append(("delete", deleted))
        else:
            ops.append(("reinsert", deleted))
    return ops
