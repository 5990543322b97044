"""Seeded inputs for the pipeline benchmark.

Everything the program under test sees comes from here: an ``events``
parquet table with the column types of the engine's test tables (so
``catalog.table`` reads it unchanged) and the fake KMA village-forecast
feed the weather collector pulls through ``RestSource``. The same seed
always gives the same bytes and payloads.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event-table sizes: ``ondemand_api`` about the engine's sf0.01 events
# table (10,000 events, 150 users over January 2024) and ``weekly_batch``
# about its sf0.1 table (100,000 events, 1,500 users).
EVENT_SIZES = {
    "ondemand_api": {"events": 10_000, "users": 150},
    "weekly_batch": {"events": 100_000, "users": 1_500},
}
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_FROM = datetime(2024, 1, 1)
EVENTS_DAYS = 30
# The engine derives the farm from the event stream as user_id % FARMS.
FARMS = 10

# Report weeks: the base dates of four consecutive Monday runs. Each reports
# the Monday..Sunday before it, all inside the generated month.
BASE_DATES = ("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")

# The weather feed. Derived from the repo where it says:
# - one KMA grid per farm: the farm -> grid map is N:1 (SURVEY.md, TM_WEATHER),
#   so the generated data's FARMS farms need at most FARMS grids;
# - the collector runs hourly and fetches the latest short-term forecast,
#   announced every 3 hours from 02:00 and available 10 minutes later
#   (BASELINE.md batch cadence; sources/weather_api.forecast_base_datetime);
# - one announcement fits one page of numOfRows=1000 items (BASELINE.md:18,
#   RestSource.page_size).
# Taken from the public KMA short-term forecast service guide
# (VilageFcstInfoService_2.0), not checked against a live response: the 12
# hourly categories below, TMN at 06:00 and TMX at 15:00, and forecasts
# through the end of the day after tomorrow (at most 12 x 67 + 6 items).
# Unverified choices, not derived from anything: the share of requests
# first answered with a rate-limit code, the share of items missing part of
# their key, and the size of the key pool each hourly cycle starts with.
WEATHER_GRIDS = FARMS
WEATHER_CATEGORIES = ("TMP", "UUU", "VVV", "VEC", "WSD", "SKY", "PTY", "POP",
                      "WAV", "PCP", "REH", "SNO")
WEATHER_ANNOUNCE_HOURS = (2, 5, 8, 11, 14, 17, 20, 23)
WEATHER_HORIZON_DAYS = 2
WEATHER_RATE_LIMITED = 0.05
WEATHER_KEYLESS = 0.02
WEATHER_KEYS = 6
# Cycle 0 runs at this time; cycle c runs c hours later.
WEATHER_FIRST_RUN = datetime(2024, 1, 10, 6, 15)


def _sub_seed(seed: int, *parts: object) -> int:
    h = hashlib.sha256(repr((seed, *parts)).encode()).digest()
    return int.from_bytes(h[:8], "little")


def write_events(path: str, seed: int, n_events: int, n_users: int) -> None:
    """One month of click-stream events in timestamp order, ``event_id`` in
    the same order: event_id BIGINT, ts TIMESTAMP(us), user_id BIGINT,
    event_type STRING, value DOUBLE (2 decimals), props STRING."""
    rng = np.random.default_rng(_sub_seed(seed, "events", n_events))
    span_us = EVENTS_DAYS * 86_400_000_000
    start_us = int((EVENTS_FROM - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n_events, dtype=np.int64))
    users = rng.integers(0, n_users, n_events, dtype=np.int64)
    types = rng.integers(0, len(EVENT_TYPES), n_events)
    values = np.round(rng.exponential(50.0, n_events), 2)
    props = rng.integers(0, 100, n_events)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(start_us + offsets, type=pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[types]),
            "value": pa.array(values),
            "props": pa.array([f'{{"k": {k}}}' for k in props.tolist()]),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def cycle_base(cycle: int) -> tuple[str, str]:
    """(base_date, base_time) of the latest forecast announcement out when
    hourly cycle ``cycle`` runs."""
    t = WEATHER_FIRST_RUN + timedelta(hours=cycle) - timedelta(minutes=10)
    hours = [h for h in WEATHER_ANNOUNCE_HOURS if h <= t.hour]
    if not hours:
        return (t - timedelta(days=1)).strftime("%Y%m%d"), f"{WEATHER_ANNOUNCE_HOURS[-1]:02d}00"
    return t.strftime("%Y%m%d"), f"{max(hours):02d}00"


class WeatherFeed:
    """The fake KMA getVilageFcst service. ``begin_cycle`` serialises one
    hourly cycle's responses before the cycle is timed, and drops the last
    cycle's; ``transport`` only looks them up and decodes the JSON, as a
    real HTTP client would.

    Every cycle fetches the latest announcement for each grid, so three
    consecutive cycles re-merge the same forecast and the next one brings
    a new announcement that overlaps the last in all but its first hours.
    A cycle whose announcement is not the 02:00 or 05:00 one also fetches
    the same day's 05:00 announcement for TMN/TMX.
    """

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = random.Random(_sub_seed(seed, "grids"))
        grids: set[tuple[int, int]] = set()
        while len(grids) < WEATHER_GRIDS:
            grids.add((rng.randint(50, 100), rng.randint(60, 130)))
        self.grids = sorted(grids)
        self._payloads: dict[tuple[int, int, str, str], str] = {}
        self._limited: set[int] = set()
        self._calls = 0

    def requests(self, cycle: int) -> list[tuple[int, int, str, str]]:
        """(nx, ny, base_date, base_time) of each request cycle ``cycle`` makes."""
        base_date, base_time = cycle_base(cycle)
        keys = []
        for nx, ny in self.grids:
            keys.append((nx, ny, base_date, base_time))
            if base_time not in ("0200", "0500"):
                keys.append((nx, ny, base_date, "0500"))
        return keys

    def begin_cycle(self, cycle: int) -> None:
        keys = self.requests(cycle)
        self._payloads = {}
        for k in keys:
            items = self.items(*k)
            self._payloads[k] = json.dumps({"response": {
                "header": {"resultCode": "00", "resultMsg": "NORMAL_SERVICE"},
                "body": {"items": {"item": items}, "totalCount": len(items)},
            }}, ensure_ascii=False)
        crng = random.Random(_sub_seed(self.seed, "limits", cycle))
        limited = [i for i in range(len(keys)) if crng.random() < WEATHER_RATE_LIMITED]
        # A cycle never loses its whole key pool: no cycle fails.
        self._limited = set(limited[: WEATHER_KEYS - 1])
        self._calls = 0

    def transport(self, url: str, params: dict) -> tuple[int, dict]:
        """(url, params) -> (http_status, json_body), like ``requests``."""
        i = self._calls
        self._calls += 1
        if i in self._limited:
            # KMA answers a throttled key with HTTP 200 and code 22.
            return 200, {"response": {"header": {"resultCode": "22", "resultMsg": "LIMITED"}}}
        key = (params["nx"], params["ny"], params["base_date"], params["base_time"])
        return 200, json.loads(self._payloads[key])

    def items(self, nx: int, ny: int, base_date: str, base_time: str) -> list[dict]:
        """The announcement's forecast items, from the next hour through the
        end of the day ``WEATHER_HORIZON_DAYS`` after ``base_date``."""
        rng = random.Random(_sub_seed(self.seed, "fcst", (nx, ny, base_date, base_time)))
        t = datetime.strptime(base_date + base_time, "%Y%m%d%H%M") + timedelta(hours=1)
        end = datetime.strptime(base_date, "%Y%m%d") + timedelta(
            days=WEATHER_HORIZON_DAYS, hours=23)
        items = []
        while t <= end:
            fd, ft = t.strftime("%Y%m%d"), t.strftime("%H00")
            temp = rng.uniform(-12.0, 8.0)
            vals = {
                "TMP": f"{temp:.1f}",
                "UUU": f"{rng.uniform(-5, 5):.1f}",
                "VVV": f"{rng.uniform(-5, 5):.1f}",
                "VEC": str(rng.randint(0, 359)),
                "WSD": f"{rng.uniform(0, 9):.1f}",
                "SKY": rng.choice(("1", "3", "4")),
                "PTY": rng.choice(("0", "0", "0", "1", "3")),
                "POP": str(rng.choice((0, 10, 20, 30, 60, 80))),
                "WAV": "0",
                "PCP": rng.choice(("강수없음", "강수없음", "1.0mm", "2.5mm")),
                "REH": str(rng.randint(30, 95)),
                "SNO": rng.choice(("적설없음", "적설없음", "적설없음", "1.0cm")),
            }
            if ft == "0600":
                vals["TMN"] = f"{temp - 2:.1f}"
            if ft == "1500":
                vals["TMX"] = f"{temp + 3:.1f}"
            for cat, v in vals.items():
                item = {
                    "baseDate": base_date,
                    "baseTime": base_time,
                    "category": cat,
                    "fcstDate": fd,
                    "fcstTime": ft,
                    "fcstValue": v,
                    "nx": nx,
                    "ny": ny,
                }
                if rng.random() < WEATHER_KEYLESS:
                    del item[rng.choice(("category", "fcstDate", "fcstTime"))]
                items.append(item)
            t += timedelta(hours=1)
        return items

    def _announcements(self, cycles: int):
        """(nx, ny, base_time, items of the announcement) per grid and
        cycle, in cycle order."""
        seen: dict[tuple, list[dict]] = {}
        for c in range(cycles):
            base_date, base_time = cycle_base(c)
            for nx, ny in self.grids:
                key = (nx, ny, base_date, base_time)
                if key not in seen:
                    seen[key] = self.items(*key)
                yield nx, ny, base_time, seen[key]

    def expected_hourly(self, cycles: int) -> dict[tuple, tuple[float | None, str]]:
        """Landed hourly state after ``cycles`` cycles, by the MERGE rule
        (the last cycle that emitted a key wins): key (nx, ny, wk_date,
        wk_time) -> (temp, base_time). Items missing a key field are
        dropped; an hour whose TMP item was dropped lands a NULL temp."""
        state: dict[tuple, tuple[float | None, str]] = {}
        for nx, ny, base_time, items in self._announcements(cycles):
            temps: dict[tuple, float | None] = {}
            for it in items:
                if not (it.get("fcstDate") and it.get("fcstTime") and it.get("category")):
                    continue
                k = (nx, ny, it["fcstDate"], it["fcstTime"])
                temps.setdefault(k, None)
                if it["category"] == "TMP":
                    temps[k] = float(it["fcstValue"])
            for k, v in temps.items():
                state[k] = (v, base_time)
        return state

    def expected_daily_keys(self, cycles: int) -> set[tuple]:
        """(nx, ny, wk_date) keys of the landed daily table: a forecast day
        lands once one cycle gave it at least two hourly temperatures."""
        keys: set[tuple] = set()
        for nx, ny, _, items in self._announcements(cycles):
            n: dict[str, int] = {}
            for it in items:
                if it.get("category") == "TMP" and it.get("fcstDate") and it.get("fcstTime"):
                    n[it["fcstDate"]] = n.get(it["fcstDate"], 0) + 1
            keys.update((nx, ny, d) for d, cnt in n.items() if cnt >= 2)
        return keys
