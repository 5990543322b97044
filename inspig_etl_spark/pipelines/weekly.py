"""Weekly report pipeline — the reference's analytical core, composed.

The reference processes farms ONE AT A TIME in a 4-thread pool, each farm
running 10 sequential processors that INSERT wide rows
(``TS_INS_WEEK_SUB``: GUBUN/SUB_GUBUN/SORT_NO + CODE_1..2 / CNT_1..15 /
VAL_1..15 / STR_1..15) and UPDATE a per-farm summary row (``TS_INS_WEEK``)
(``/root/reference/src/weekly/async_processor.py:103-224``,
``docs/db/ins/02_TABLE.md:301-459``).

Here both tables come from one shared plan over ALL farms:

1. **One events scan**, bounded at the report cutoff (midnight after
   ``dt_to``): no section reads anything later.
2. **One per-user pass.** The rows are partitioned by ``user_id`` once,
   and one window pass tags every row with the per-user facts the
   sections need: is it the user's last non-click event (herd status,
   alert delay, schedule base, delay KPI), the user's last mating day
   strictly before it (accident bands), and is it the user's first wean of
   the week, with the event that follows it (next-event rollup).
3. **One per-farm aggregate.** A single ``groupBy(farm_no)`` computes every
   count-shaped section (MD, ALERT, GB, BM, EU, SG, SH, SCHEDULE, CONFIG)
   as conditional aggregates. The wide rows are an unpivot of that row;
   the summary row is a projection of it.
4. DOPE, which ranks users inside a farm, is the one side aggregate, read
   from the same ``user_id`` partitioning.

``groupBy(farm_no)`` replaces the thread pool, so 4-way driver parallelism
becomes cluster-wide task parallelism, and the idempotent re-run is a
replace of the (master_seq, farm_no) slice instead of DELETE+INSERT.
Nothing is persisted: both tables are lazy children of the same plan.
The ~150 expressions are written as SQL text: composing each from Column
calls costs a py4j round trip per node, which added up to seconds of
planning time per build.

Synthetic mapping: the events stream is the work history; ``farm_no =
user_id % 10`` partitions users into farms; the UD1 status table and the
purchase stream drive a herd section (gubun='MD') and a shipment-chart
section (gubun='SH').
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspig_etl_spark.functions.rounding import sql_dec_sum
from inspig_etl_spark.operators.schedule import DEFAULT_RULES
from inspig_etl_spark.operators.status import (
    sql_status_from_last_event,
    STATUS_ABORTED,
    STATUS_CANDIDATE,
    STATUS_NURSING,
    STATUS_NURSING_SURROGATE,
    STATUS_PREGNANT,
    STATUS_RECURRED,
    STATUS_WEANED,
)

# The full reference output width. Sections fill what they use; the rest
# pads with typed NULLs so every section lands in one sink schema.
N_WIDE = 15
STATUS_SPINE = (
    STATUS_CANDIDATE,
    STATUS_PREGNANT,
    STATUS_NURSING,
    STATUS_NURSING_SURROGATE,
    STATUS_WEANED,
    STATUS_RECURRED,
    STATUS_ABORTED,
)

WEEK_FROM = "2024-01-18"
WEEK_TO = "2024-01-24"

# GB histogram buckets: floor(value/100) clamped into [0, 4] (A10 zero-fill
# spine; the reference's mating histogram is parity-bucketed the same way,
# mating.py buckets).
GB_BUCKETS = tuple(f"V{i}" for i in range(5))
# EU next-event spine: every event type the stream can produce.
EU_NEXT_TYPES = ("click", "error", "purchase", "signup", "view")
# SG elapsed-day bands after the as-of join (accident.py elapsed buckets).
SG_BANDS = ("D0_1", "D2_3", "D4_7", "D8P", "NONE")
# ALERT delay bands over days-since-last-work (J9 band dim; alert.py rules).
ALERT_BANDS = (
    (1, "OK", 0, 7),
    (2, "WATCH", 8, 14),
    (3, "DELAY", 15, 30),
    (4, "CRITICAL", 31, 100000),
)
DOPE_PER_ROW = 3  # culling page width (reference uses 15; 3 exercises paging)
CONFIG_WEEKS = 3  # trailing full weeks feeding the config ratio mean
# Summary family of each schedule task: mating (g), farrowing (b), and
# wean/accident follow-up (ef).
SCHEDULE_FAMILY = {
    "preg_check_1": "g", "preg_check_2": "g", "pre_farrow_move": "g",
    "piglet_care": "b", "wean_plan": "b",
    "remate_check": "ef", "recheck": "ef",
}

# The fields of one unpivoted wide row and their sink types (every other
# wide column is NULL for the farm-aggregate sections).
_ROW_TYPES = {
    "gubun": "STRING",
    "sub_gubun": "STRING",
    "sort_no": "INT",
    "code_1": "STRING",
    "str_1": "STRING",
    **{f"cnt_{i}": "BIGINT" for i in range(1, 9)},
    "val_1": "DOUBLE",
    "keep": "BOOLEAN",
}


def _shift(day: str, days: int) -> str:
    """YYYY-MM-DD ± days (driver-side window arithmetic)."""
    return (date.fromisoformat(day) + timedelta(days=days)).isoformat()


def _days(dt_from: str, dt_to: str) -> int:
    return (date.fromisoformat(dt_to) - date.fromisoformat(dt_from)).days + 1


def _in(lo: str, hi: str) -> str:
    return f"event_day BETWEEN DATE '{lo}' AND DATE '{hi}'"


def _q(s: str) -> str:
    return f"'{s}'"


def wide_row_columns() -> list[str]:
    cols = ["master_seq", "farm_no", "gubun", "sub_gubun", "sort_no", "code_1", "code_2"]
    cols += [f"cnt_{i}" for i in range(1, N_WIDE + 1)]
    cols += [f"val_{i}" for i in range(1, N_WIDE + 1)]
    cols += [f"str_{i}" for i in range(1, N_WIDE + 1)]
    return cols


def to_wide_rows(section: DataFrame, master_seq: int) -> DataFrame:
    """Stamp ``master_seq`` and pad a section out to the wide-row schema.

    ``section`` carries farm_no, gubun, sub_gubun, sort_no and any of
    code_1/2, cnt_i, val_i, str_i it fills; everything absent becomes a
    typed NULL.
    """
    have = set(section.columns)
    types = {"master_seq": "BIGINT", "farm_no": "BIGINT", "sort_no": "INT"}
    exprs = []
    for c in wide_row_columns():
        t = types.get(c) or {"cnt": "BIGINT", "val": "DOUBLE"}.get(c[:3], "STRING")
        src = str(master_seq) if c == "master_seq" else c if c in have else "NULL"
        exprs.append(f"CAST({src} AS {t}) AS {c}")
    return section.selectExpr(*exprs)


def _tagged_events(spark: SparkSession, sf_dir: str, dt_from: str, dt_to: str) -> DataFrame:
    """Steps 1 and 2: every event before the cutoff, partitioned by user,
    with its farm, its last-work attributes and the per-user facts.

    ``is_last``: the user's latest non-click event by (ts, event_id).
    ``last_mate_day``: the day of the user's latest purchase strictly
    earlier in time — an accident never sees a purchase at its own
    timestamp. Purchase days only grow with time, so the latest is the max
    over a range frame.
    ``is_first_wean`` / ``next_type``: the user's first signup of the week
    and the event type right after it. The scan ends at the cutoff, so the
    full-history ``lead`` only ever sees events dated up to ``dt_to``.
    """
    from inspig_etl_spark.catalog import events_before
    from inspig_etl_spark.queries.status_schedule import last_event_columns

    ev = events_before(spark, sf_dir, _shift(dt_to, 1)).repartition("user_id")
    wean = f"event_type = 'signup' AND {_in(dt_from, dt_to)}"
    seq = "PARTITION BY user_id ORDER BY ts_us, event_id"
    # farm_no is derived above the window, so a farm filter on either
    # report (the on-demand path) is rewritten onto user_id, the window's
    # partition key, and pushed down to the scan.
    return ev.select(
        "user_id", "event_id", "ts_us", "event_type", "value", *last_event_columns()
    ).selectExpr(
        "*",
        "event_type <> 'click' AND struct(ts_us, event_id) = max("
        "IF(event_type <> 'click', struct(ts_us, event_id), NULL)) "
        "OVER (PARTITION BY user_id) AS is_last",
        "max(IF(event_type = 'purchase', event_day, NULL)) OVER (PARTITION BY user_id "
        "ORDER BY ts_us RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_mate_day",
        f"{wean} AND count_if({wean}) OVER ({seq} ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) = 1 AS is_first_wean",
        f"lead(event_type) OVER ({seq}) AS next_type",
    ).selectExpr("*", "CAST(user_id % 10 AS BIGINT) AS farm_no")


def _farm_aggregate(tagged: DataFrame, dt_from: str, dt_to: str) -> DataFrame:
    """Step 3: one row per farm with an event before the cutoff, carrying
    every section's counters as conditional aggregates."""
    this_from = _shift(dt_to, 1)
    status = sql_status_from_last_event("wk_gubun", "sago_gubun_cd", "daeri_yn", "NULL")
    facts = tagged.selectExpr(
        "farm_no", "event_type", "value", "event_day", "is_last", "is_first_wean",
        "next_type", "wk_gubun",
        f"{_in(dt_from, dt_to)} AS in_week",
        f"{status} AS status_cd",
        f"date_diff(DATE '{this_from}', event_day) AS delay",
        "'V' || CAST(CAST(greatest(least(floor(value / 100), 4), 0) AS INT) AS STRING)"
        " AS bucket",
        "CASE WHEN last_mate_day IS NULL THEN 'NONE'"
        " WHEN date_diff(event_day, last_mate_day) <= 1 THEN 'D0_1'"
        " WHEN date_diff(event_day, last_mate_day) <= 3 THEN 'D2_3'"
        " WHEN date_diff(event_day, last_mate_day) <= 7 THEN 'D4_7'"
        " ELSE 'D8P' END AS band",
    )
    buy = "in_week AND event_type = 'purchase'"

    def money(cond: str) -> str:
        return f"round({sql_dec_sum(f'IF({cond}, value, NULL)', 6)}, 6)"

    aggs = {"n_last": "count_if(is_last)", "last_day_max": "max(IF(is_last, event_day, NULL))"}
    aggs.update(
        {f"md_{i}": f"count_if(is_last AND status_cd = '{s}')" for i, s in enumerate(STATUS_SPINE, 1)}
    )
    aggs.update(
        {f"alert_{n}": f"count_if(is_last AND delay BETWEEN {lo} AND {hi})"
         for n, _code, lo, hi in ALERT_BANDS}
    )
    aggs.update({f"wk_{t}": f"count_if(in_week AND event_type = '{t}')" for t in EU_NEXT_TYPES})
    aggs["prior_view"] = (
        f"count_if(event_type = 'view' AND {_in(_shift(dt_from, -7), _shift(dt_from, -1))})"
    )
    aggs["week_value"] = money(buy)
    aggs.update(
        {f"gb_{i}": f"count_if({buy} AND value IS NOT NULL AND bucket = '{b}')"
         for i, b in enumerate(GB_BUCKETS, 1)}
    )
    aggs.update(
        {f"eu_{i}": f"count_if(is_first_wean AND next_type = '{t}')"
         for i, t in enumerate(EU_NEXT_TYPES, 1)}
    )
    aggs.update(
        {f"sg_{i}": f"count_if(in_week AND event_type = 'error' AND band = '{b}')"
         for i, b in enumerate(SG_BANDS, 1)}
    )
    for i in range(1, _days(dt_from, dt_to) + 1):
        day = f"{buy} AND event_day = DATE '{_shift(dt_from, i - 1)}'"
        aggs[f"sh_cnt_{i}"] = f"count_if({day})"
        aggs[f"sh_val_{i}"] = money(day)
    config_from = _shift(dt_to, -(7 * CONFIG_WEEKS - 1))
    for k in range(CONFIG_WEEKS):
        wk = _in(_shift(config_from, 7 * k), _shift(config_from, 7 * k + 6))
        aggs[f"cfg_gb_{k}"] = f"count_if({wk} AND event_type = 'purchase')"
        aggs[f"cfg_all_{k}"] = f"count_if({wk})"
    # SCHEDULE (UD2 rule expansion): a last event of work code g lands rule
    # (g, pass_day) on day i of the coming week iff event_day is that day
    # minus pass_day.
    for seq, g, _nm, _std, pass_day in DEFAULT_RULES:
        for i in range(1, 8):
            base = _shift(this_from, i - 1 - pass_day)
            aggs[f"sched_{seq}_{i}"] = (
                f"count_if(is_last AND wk_gubun = '{g}' AND event_day = DATE '{base}')"
            )
    return facts.groupBy("farm_no").agg(
        F.expr("struct(" + ", ".join(f"{e} AS {n}" for n, e in aggs.items()) + ") AS a")
    ).select("farm_no", "a.*")


def _sched_total(seq: int) -> str:
    return "(" + " + ".join(f"sched_{seq}_{i}" for i in range(1, 8)) + ")"


def _row(keep: str = "true", **values: object) -> str:
    """One unpivoted wide row: a named_struct of every ``_ROW_TYPES`` field
    (values are SQL snippets), NULL where the section fills nothing."""
    values["keep"] = keep
    return "named_struct(" + ", ".join(
        f"'{f}', CAST({values.get(f, 'NULL')} AS {t})" for f, t in _ROW_TYPES.items()
    ) + ")"


def _unpivot(farms: DataFrame, dt_from: str, dt_to: str) -> DataFrame:
    """The count-shaped sections as wide rows, one struct per row.

    Farm sets follow the sections' sources: MD only for farms with a last
    event, SCHEDULE only for (farm, task) pairs with a task, every other
    section for every farm of the aggregate. SH keeps NULL for a day with
    no purchases; CONFIG averages only the weeks that have events.
    """
    rows = [
        _row("n_last > 0", gubun="'MD'", sub_gubun="'STAT'", sort_no=i, code_1=_q(s),
             cnt_1=f"md_{i}")
        for i, s in enumerate(STATUS_SPINE, 1)
    ]
    rows += [
        _row(gubun="'ALERT'", sub_gubun="'STAT'", sort_no=n, code_1=_q(code), cnt_1=f"alert_{n}")
        for n, code, _lo, _hi in ALERT_BANDS
    ]
    rows += [
        _row(gubun=_q(g), sub_gubun="'STAT'", sort_no=i, code_1=_q(code), cnt_1=f"{g.lower()}_{i}")
        for g, spine in (("GB", GB_BUCKETS), ("EU", EU_NEXT_TYPES), ("SG", SG_BANDS))
        for i, code in enumerate(spine, 1)
    ]
    rows.append(
        _row(gubun="'BM'", sub_gubun="'STAT'", sort_no=1, cnt_1="wk_view",
             cnt_2="prior_view", cnt_3="wk_view - prior_view")
    )
    rows += [
        _row(gubun="'SH'", sub_gubun="'CHART'", sort_no=i,
             str_1=_q(_shift(dt_from, i - 1).replace("-", "")),
             cnt_1=f"IF(sh_cnt_{i} > 0, sh_cnt_{i}, NULL)", val_1=f"sh_val_{i}")
        for i in range(1, _days(dt_from, dt_to) + 1)
    ]
    rows += [
        _row(f"{_sched_total(seq)} > 0", gubun="'SCHEDULE'", sub_gubun="'ROW'", sort_no=seq,
             code_1=_q(nm), str_1=_q(std), cnt_8=_sched_total(seq),
             **{f"cnt_{i}": f"sched_{seq}_{i}" for i in range(1, 8)})
        for seq, _g, nm, std, _pd in DEFAULT_RULES
    ]
    # ratio_e4 = purchases * 10000 DIV events per trailing week, over the
    # weeks that have events; cnt_1 counts those weeks and cnt_2 is the
    # integer mean of their ratios (exact BIGINT math on both engines).
    weeks = " + ".join(f"IF(cfg_all_{k} > 0, 1, 0)" for k in range(CONFIG_WEEKS))
    ratios = " + ".join(
        f"IF(cfg_all_{k} > 0, cfg_gb_{k} * 10000 DIV cfg_all_{k}, 0)"
        for k in range(CONFIG_WEEKS)
    )
    rows.append(
        _row(gubun="'CONFIG'", sub_gubun="'STAT'", sort_no=1, cnt_1=weeks,
             cnt_2=f"IF({weeks} > 0, ({ratios}) DIV ({weeks}), NULL)")
    )
    return farms.selectExpr("farm_no", f"inline(array({', '.join(rows)}))").filter("keep")


def _culling_pages(tagged: DataFrame, dt_from: str, dt_to: str) -> DataFrame:
    """gubun='DOPE': last week's culls (click, wk 'Z') per user, ordered by
    count desc with the farm total PINNED last (T3), paginated into
    ``DOPE_PER_ROW``-wide rows per farm (T4; reference ``culling.py:264-312``
    15-per-row pages). Only farms with culls get rows.

    The per-user counts read the ``user_id`` partitioning as is; one window
    per farm numbers the users and carries the farm total, which rides on
    the last user's row as one extra entry.
    """
    farm = "OVER (PARTITION BY farm_no)"
    entry = "named_struct('rn', {}, 'label', {}, 'cnt', {})"
    item = entry.format("rn", "CAST(user_id AS STRING)", "cnt")
    total = entry.format("rn + 1", "'ALL'", "total")
    entries = (
        tagged.filter(f"event_type = 'click' AND {_in(dt_from, dt_to)}")
        .groupBy("farm_no", "user_id")
        .agg(F.expr("count(1) AS cnt"))
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY farm_no ORDER BY cnt DESC, user_id) AS rn",
            f"count(1) {farm} AS n",
            f"sum(cnt) {farm} AS total",
        )
        .selectExpr(
            "farm_no",
            f"inline(IF(rn = n, array({item}, {total}), array({item})))",
        )
    )
    page = [f"CAST(floor((rn - 1) / {DOPE_PER_ROW}) + 1 AS INT) AS sort_no"]
    slots = []
    for i in range(1, DOPE_PER_ROW + 1):
        at = f"(rn - 1) % {DOPE_PER_ROW} + 1 = {i}"
        slots += [f"max(IF({at}, label, NULL)) AS str_{i}", f"max(IF({at}, cnt, NULL)) AS cnt_{i}"]
    return (
        entries.selectExpr("farm_no", "rn", "label", "cnt", *page)
        .groupBy("farm_no", "sort_no")
        .agg(*[F.expr(e) for e in slots])
        .selectExpr("*", "'DOPE' AS gubun", "'LIST' AS sub_gubun")
    )


def _summary(farms: DataFrame, dt_to: str) -> DataFrame:
    """The grown TS_INS_WEEK row, one per farm with a last event: herd
    totals, the week's purchases (NVL(SUM, 0) like ``shipment.py:397``),
    the per-section weekly counters the reference UPDATEs in place
    (``async_processor.py:150-192``), the coming week's scheduled tasks by
    family, and the input-delay KPI."""
    md = {s: f"md_{i}" for i, s in enumerate(STATUS_SPINE, 1)}

    def tasks(family: str | None = None) -> str:
        return " + ".join(
            _sched_total(seq)
            for seq, _g, nm, _std, _pd in DEFAULT_RULES
            if family in (None, SCHEDULE_FAMILY[nm])
        )

    matched = " + ".join(f"sg_{i}" for i in range(1, len(SG_BANDS)))  # all but NONE
    return farms.filter("n_last > 0").selectExpr(
        "farm_no",
        "n_last AS total_users",
        f"{md[STATUS_PREGNANT]} AS pregnant_cnt",
        f"{md[STATUS_NURSING]} + {md[STATUS_NURSING_SURROGATE]} AS nursing_cnt",
        "wk_purchase AS week_purchase_cnt",
        "coalesce(week_value, CAST(0 AS DOUBLE)) AS week_purchase_value",
        "wk_purchase AS last_gb_cnt",
        "wk_view AS last_bm_cnt",
        "wk_signup AS last_eu_cnt",
        "wk_error AS last_sg_cnt",
        "wk_click AS last_cl_cnt",
        "prior_view AS prior_bm_cnt",
        "wk_view - prior_view AS bm_wow_delta",
        f"{matched} AS last_sg_matched_cnt",
        "alert_3 + alert_4 AS alert_total",  # DELAY + CRITICAL
        f"{tasks('g')} AS this_gb_sum",
        f"{tasks('b')} AS this_bm_sum",
        f"{tasks('ef')} AS this_eu_sum",
        f"{tasks()} AS this_total_sum",
        f"date_diff(DATE '{_shift(dt_to, 1)}', last_day_max) AS kpi_delay_day",
    )


def build_weekly_report(
    spark: SparkSession,
    sf_dir: str,
    master_seq: int = 1,
    dt_from: str = WEEK_FROM,
    dt_to: str = WEEK_TO,
) -> tuple[DataFrame, DataFrame]:
    """(wide_rows, summary) for every farm, from one shared plan.

    ``dt_from``/``dt_to`` (YYYY-MM-DD) is the report week. Callers that
    resolve a real period (the CLI runner, the on-demand endpoint) MUST pass
    it, or every master_seq would report the same fixed test week; the
    module defaults exist for the oracled registry queries, whose DuckDB
    oracles encode the same constants. Herd state (MD, ALERT, SCHEDULE, the
    summary's herd and delay columns) is each sow's last work before the
    cutoff, midnight after ``dt_to``.

    Both frames are lazy children of one scan, one per-user window pass and
    one per-farm aggregate (module docstring); building them runs no Spark
    job. Each action re-runs the shared part; nothing is cached, because a
    cache measured as a net loss here (SCALE.md ledger).
    """
    tagged = _tagged_events(spark, sf_dir, dt_from, dt_to)
    farms = _farm_aggregate(tagged, dt_from, dt_to)
    wide = to_wide_rows(_unpivot(farms, dt_from, dt_to), master_seq).unionByName(
        to_wide_rows(_culling_pages(tagged, dt_from, dt_to), master_seq)
    )
    return wide, _summary(farms, dt_to)

