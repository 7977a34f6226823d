"""In-benchmark oracle: the dashboard's serving answers computed in
plain Python from the benchmark's own copy of the table.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

SEASON_TOTAL_GPS = 22


def _round2(x: float) -> float:
    # Spark's round() on a double is HALF_UP on its decimal form
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def standings(results, drivers: dict) -> list[tuple]:
    """Championship standings over ``results`` (RESULT_FIELDS tuples, one
    per key) joined to ``drivers`` {number: (name, headshot)}: rows of
    (driver_number, driver_name, headshot_url, points, wins, total_gps,
    win_rate), points descending then driver_number ascending."""
    pts: dict[str, int] = {}
    wins: dict[str, int] = {}
    gps = set()
    for gp, _d, num, pos, _l, _dnf, _gap, _mk, _sk, p in results:
        pts[num] = pts.get(num, 0) + (p or 0)
        if pos == 1:
            wins[num] = wins.get(num, 0) + 1
        if gp is not None:
            gps.add(gp)
    total = len(gps)
    rows = []
    for num, p in pts.items():
        name, head = drivers.get(num, (None, None))
        w = wins.get(num, 0)
        rows.append((num, name, head, p, w, total, _round2(w * 100.0 / total)))
    rows.sort(key=lambda r: (-r[3], r[0]))
    return rows


def champion(results, drivers: dict, season_total: int = SEASON_TOTAL_GPS) -> list[tuple]:
    s = standings(results, drivers)
    return s[:1] if s and s[0][5] >= season_total else []


def podium(results, drivers: dict) -> list[tuple]:
    return [(i + 1, r[0], r[1], r[3]) for i, r in enumerate(standings(results, drivers)[:3])]


def classification(results, drivers: dict, grand_prix: str) -> list[tuple]:
    rows = [
        (num, drivers.get(num, (None, None))[0], pos, gap if gap is not None else "N/A")
        for gp, _d, num, pos, _l, _dnf, gap, _mk, _sk, _p in results
        if gp == grand_prix
    ]
    rows.sort(key=lambda r: (r[2], r[0]))
    return rows


def available_gps(results) -> list[tuple]:
    latest: dict[str, object] = {}
    for gp, date, *_ in results:
        if gp is not None and (gp not in latest or date > latest[gp]):
            latest[gp] = date
    return [(gp,) for gp in sorted(latest, key=lambda g: (-latest[g].timestamp(), g))]


def answer(kind: str, arg, results, drivers: dict) -> list[tuple]:
    """The rows the dashboard read ``kind`` (with ``arg``) must return."""
    if kind == "classification":
        return classification(results, drivers, arg)
    if kind == "available_gps":
        return available_gps(results)
    return {"standings": standings, "champion": champion, "podium": podium}[kind](
        results, drivers
    )


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Ordered row lists equal, floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True

