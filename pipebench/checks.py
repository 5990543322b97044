"""Output checks. Each returns a list of failures (empty when correct).

They read the landed parquet tables with DuckDB and recompute every
expected value from the generated inputs, never from the package.
"""

from __future__ import annotations

import hashlib
import json
import random
from datetime import datetime, timedelta
from pathlib import Path

import duckdb

import gen


def _scan(table: Path) -> str:
    return f"read_parquet('{table}/*.parquet')"


def report_period(ins_date: str) -> tuple[int, int, str, str]:
    """(ISO year, ISO week, Monday, Sunday) of the full week before
    ``ins_date`` (YYYYMMDD); a Sunday reports the week ending 7 days back."""
    base = datetime.strptime(ins_date, "%Y%m%d")
    sunday = base - timedelta(days=(base.weekday() + 1) % 7 or 7)
    monday = sunday - timedelta(days=6)
    iso = sunday.isocalendar()
    return iso[0], iso[1], monday.strftime("%Y%m%d"), sunday.strftime("%Y%m%d")


def check_ondemand(result: dict, work: Path) -> list[str]:
    bad: list[str] = []
    latest: dict[int, tuple[tuple[int, int], str]] = {}
    landed: set[tuple[int, int, str, str]] = set()
    polls: dict[int, list[dict]] = {}
    for p in result["polls"]:
        polls.setdefault(p["op"], []).append(p)
    for post in result["posts"]:
        farm, body = post["farm"], post["body"]
        if post["code"] != 200 or body.get("status") != "success":
            bad.append(f"run-farm farm {farm}: HTTP {post['code']} {body}")
            continue
        year, week, dt_from, dt_to = report_period(post["ins_date"])
        token = hashlib.sha256(f"{farm}-{year}-{week}-{dt_to}".encode()).hexdigest()
        if (body.get("year"), body.get("weekNo"), body.get("dtTo")) != (year, week, dt_to):
            bad.append(f"run-farm farm {farm}: period {body} != {year}/{week}/{dt_to}")
        if body.get("shareToken") != token:
            bad.append(f"run-farm farm {farm} {post['ins_date']}: shareToken mismatch")
        if farm not in latest or (year, week) >= latest[farm][0]:
            latest[farm] = ((year, week), token)
        landed.add((farm, year * 100 + week, dt_from, dt_to))
        # Status reports the farm's latest landed week: after this POST,
        # this request's token unless a later week was landed before.
        for p in polls.get(post["op"], []):
            want = latest.get(p["farm"])
            got = p["body"]
            if p["code"] != 200:
                bad.append(f"status farm {p['farm']}: HTTP {p['code']}")
            elif want is None and got.get("exists") is not False:
                bad.append(f"status farm {p['farm']}: exists before any run-farm")
            elif want is not None and got.get("shareToken") != want[1]:
                bad.append(f"status farm {p['farm']} after op {post['op']}: token mismatch")
    if not landed:
        return bad + ["no run-farm landed"]
    return bad + _check_landed(work, landed)


def check_weekly(result: dict, work: Path) -> list[str]:
    """Every week of the batch succeeded, wrote a COMPLETE manifest and
    landed one summary row per farm of the input."""
    bad: list[str] = []
    events = f"read_parquet('{work / 'in' / 'events.parquet'}')"
    farms = [f for (f,) in duckdb.sql(
        f"SELECT DISTINCT user_id % {gen.FARMS} FROM {events}").fetchall()]
    landed: set[tuple[int, int, str, str]] = set()
    for week in result["weeks"]:
        for r in week["results"]:
            if r["status"] != "success":
                bad.append(f"week {week['base_date']}: {r}")
                continue
            manifest = work / "out" / f"manifest_{r['date']}-{r['master_seq']}.json"
            status = json.loads(manifest.read_text())["status"] if manifest.exists() else None
            if status != "COMPLETE":
                bad.append(f"week {week['base_date']}: manifest status {status}")
        year, weekno, dt_from, dt_to = report_period(week["base_date"].replace("-", ""))
        landed.update((f, year * 100 + weekno, dt_from, dt_to) for f in farms)
    if not landed:
        return bad + ["no week landed"]
    return bad + _check_landed(work, landed)


def _check_landed(work: Path, landed: set[tuple[int, int, str, str]]) -> list[str]:
    """The wide table's keys are unique, and the summary table holds
    exactly one row per landed (farm, master_seq) slice, whose weekly
    purchase count and value equal a recount over the input events."""
    bad: list[str] = []
    out = work / "out"
    con = duckdb.connect()
    wide, summ = _scan(out / "ts_ins_week_sub"), _scan(out / "ts_ins_week")
    dup = con.execute(
        f"SELECT count(*) FROM (SELECT 1 FROM {wide} "
        "GROUP BY master_seq, farm_no, gubun, sort_no HAVING count(*) > 1)"
    ).fetchone()[0]
    if dup:
        bad.append(f"ts_ins_week_sub: {dup} duplicate (master_seq, farm_no, gubun, sort_no) keys")
    rows = {
        (f, s): (n, cnt, val)
        for f, s, n, cnt, val in con.execute(
            f"SELECT farm_no, master_seq, count(*), any_value(week_purchase_cnt), "
            f"any_value(week_purchase_value) FROM {summ} GROUP BY 1, 2"
        ).fetchall()
    }
    if set(rows) != {(f, s) for f, s, _, _ in landed}:
        bad.append(f"ts_ins_week: landed (farm, week) slices {sorted(rows)} != requested")
    events = f"read_parquet('{work / 'in' / 'events.parquet'}')"
    recount = {
        (f, s): (cnt, val)
        for f, s, cnt, val in con.execute(
            f"SELECT w.farm, w.seq, count(e.event_id), "
            f"coalesce(sum(CAST(e.value AS DECIMAL(38, 6))), 0) "
            f"FROM (SELECT * FROM (VALUES {', '.join(map(str, sorted(landed)))}) "
            f"AS w(farm, seq, dt_from, dt_to)) w LEFT JOIN {events} e "
            f"ON e.event_type = 'purchase' AND e.user_id % {gen.FARMS} = w.farm "
            f"AND CAST(e.ts AS DATE) BETWEEN strptime(w.dt_from, '%Y%m%d') "
            f"AND strptime(w.dt_to, '%Y%m%d') GROUP BY 1, 2"
        ).fetchall()
    }
    for farm, seq, _, _ in sorted(landed):
        cnt, val = recount[(farm, seq)]
        n, got_cnt, got_val = rows.get((farm, seq), (0, None, None))
        if n != 1:
            bad.append(f"ts_ins_week farm {farm} week {seq}: {n} summary rows")
        elif got_cnt != cnt or abs(float(got_val) - float(val)) > 1e-6:
            bad.append(f"ts_ins_week farm {farm} week {seq}: purchases {got_cnt}/{got_val} "
                       f"!= recount {cnt}/{val}")
    return bad


def check_weather(result: dict, work: Path, seed: int) -> list[str]:
    bad: list[str] = []
    cycles = max(o["op"] for o in result["ops"]) + 1
    feed = gen.WeatherFeed(seed)
    want = feed.expected_hourly(cycles)
    out = work / "out"
    con = duckdb.connect()
    hourly = {
        (nx, ny, d, t): (temp, bt)
        for nx, ny, d, t, temp, bt in con.execute(
            f"SELECT nx, ny, wk_date, wk_time, temp, base_time "
            f"FROM {_scan(out / 'tm_weather_hourly')}"
        ).fetchall()
    }
    n_rows = con.execute(f"SELECT count(*) FROM {_scan(out / 'tm_weather_hourly')}").fetchone()[0]
    if n_rows != len(hourly) or set(hourly) != set(want):
        bad.append(f"tm_weather_hourly: {n_rows} rows / {len(hourly)} keys, "
                   f"generator emitted {len(want)} keys")
    rng = random.Random(seed)
    for k in rng.sample(sorted(want), min(64, len(want))):
        if hourly.get(k) != want[k]:
            bad.append(f"tm_weather_hourly {k}: {hourly.get(k)} != last cycle's {want[k]}")
    daily = set(con.execute(
        f"SELECT nx, ny, wk_date FROM {_scan(out / 'tm_weather')}").fetchall())
    want_daily = feed.expected_daily_keys(cycles)
    if daily != want_daily:
        bad.append(f"tm_weather: {len(daily)} day keys != {len(want_daily)} expected")
    return bad
