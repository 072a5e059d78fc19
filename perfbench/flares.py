"""Seeded DONKI-shaped flare feed and a pure-Python model of its load rule.

Each simulated day ``d`` the pipeline re-fetches the trailing 30-day window:
every flare whose begin date lies in ``[d-29, d]``, as the feed shows it on
day ``d``. A day holds 10-20 flares. A flare is first published with some
fields missing (``endTime`` 10%, ``activeRegionNum`` 15%); 20% of flares
are revised 1-10 days after they appear (new class, missing fields filled),
and later windows carry the revised version. Day 0's fetch fills an empty
table with 30 days; every later fetch adds about one day to ~450 records.

The reference's load rule (``ON CONFLICT (flr_id) DO NOTHING``) keeps the
version from the first fetch that carried a key, so :class:`LoadModel`
replays the fetches in order with a plain dict.
"""

from __future__ import annotations

import datetime as dt
import random

WINDOW_DAYS = 30
EPOCH = dt.datetime(2024, 1, 1)
ISO_MINUTE = "%Y-%m-%dT%H:%MZ"
COLUMNS = (
    "flr_id", "class_type", "begin_time", "peak_time",
    "end_time", "source_location", "active_region_num", "link",
)


class FlareFeed:
    """Deterministic per-(seed, day) flare catalog; days are built on demand."""

    def __init__(self, seed: int):
        self.seed = seed
        self._days: dict[int, list[tuple[int, dict, dict | None]]] = {}

    def _day(self, d: int) -> list[tuple[int, dict, dict | None]]:
        """Flares beginning on day ``d``: (revision day or -1, first, revised)."""
        if d not in self._days:
            rng = random.Random(f"flares:{self.seed}:{d}")
            day0 = EPOCH + dt.timedelta(days=d)
            minutes = sorted(rng.sample(range(24 * 60), rng.randint(10, 20)))
            out = []
            for seq, m in enumerate(minutes, 1):
                begin = day0 + dt.timedelta(minutes=m)
                peak = begin + dt.timedelta(minutes=rng.randint(2, 40))
                end = peak + dt.timedelta(minutes=rng.randint(2, 90))
                first = {
                    "flrID": f"{begin:%Y-%m-%dT%H:%M}:00-FLR-{seq:03d}",
                    "classType": f"{rng.choice('CCCCMMX')}{rng.uniform(1, 9.9):.1f}",
                    "beginTime": begin.strftime(ISO_MINUTE),
                    "peakTime": peak.strftime(ISO_MINUTE),
                    "endTime": end.strftime(ISO_MINUTE),
                    "sourceLocation": f"{rng.choice('NS')}{rng.randint(0, 40):02d}"
                    f"{rng.choice('EW')}{rng.randint(0, 90):02d}",
                    "activeRegionNum": 13000 + rng.randint(0, 999),
                    "link": f"https://kauai.ccmc.gsfc.nasa.gov/DONKI/view/FLR/{d * 100 + seq}/-1",
                }
                if rng.random() < 0.10:
                    del first["endTime"]
                if rng.random() < 0.15:
                    del first["activeRegionNum"]
                revised, rev_day = None, -1
                if rng.random() < 0.20:
                    rev_day = d + rng.randint(1, 10)
                    revised = dict(first)
                    revised["classType"] = f"{rng.choice('CMX')}{rng.uniform(1, 9.9):.1f}"
                    revised["endTime"] = (end + dt.timedelta(minutes=5)).strftime(ISO_MINUTE)
                    revised.setdefault("activeRegionNum", 13000 + rng.randint(0, 999))
                out.append((rev_day, first, revised))
            self._days[d] = out
        return self._days[d]

    def fetch(self, d: int) -> list[dict]:
        """The 30-day window as the feed shows it on day ``d``."""
        recs = []
        for day in range(d - WINDOW_DAYS + 1, d + 1):
            for rev_day, first, revised in self._day(day):
                recs.append(revised if revised is not None and d >= rev_day else first)
        return recs


def _ts(s: str | None) -> dt.datetime | None:
    return None if s is None else dt.datetime.strptime(s, ISO_MINUTE)


def expected_row(rec: dict) -> tuple:
    return (
        rec["flrID"], rec.get("classType"), _ts(rec.get("beginTime")),
        _ts(rec.get("peakTime")), _ts(rec.get("endTime")),
        rec.get("sourceLocation"), rec.get("activeRegionNum"), rec.get("link"),
    )


class LoadModel:
    """First-fetch-wins keyed load, replayed fetch by fetch."""

    def __init__(self):
        self.rows: dict[str, tuple] = {}
        self.first_load: dict[str, int] = {}

    def load(self, load_index: int, recs: list[dict]) -> None:
        for rec in recs:
            key = rec["flrID"]
            if key not in self.rows:
                self.rows[key] = expected_row(rec)
                self.first_load[key] = load_index

    def check(self, table_rows: list[tuple]) -> set[int]:
        """Indexes of the loads whose keys the table gets wrong.

        A missing, repeated, unexpected or differing row is charged to the
        load that first carried its key; an unexpected key is charged to
        load -1.
        """
        bad: set[int] = set()
        seen: dict[str, int] = {}
        for row in table_rows:
            key = row[0]
            seen[key] = seen.get(key, 0) + 1
            want = self.rows.get(key)
            if want is None:
                bad.add(-1)
            elif tuple(row) != want or seen[key] > 1:
                bad.add(self.first_load[key])
        for key, idx in self.first_load.items():
            if key not in seen:
                bad.add(idx)
        return bad
