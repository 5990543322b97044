"""UD1/UD2 queries: status truth table + schedule expansion on the events
table (SURVEY.md §2.10, §2.3 J12).

The synthetic ``events`` stream stands in for the sow work history: its
event types map onto the reference's single-letter work codes
(operators/status.EVENT_TYPE_TO_WK), the last event per user plays the
last-work row, and derived attributes (surrogate flag from the user id,
accident code from the event value) drive every branch of the truth table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from inspig_etl_spark.catalog import events_before
from inspig_etl_spark.functions.dates import us_to_day
from inspig_etl_spark.operators.events import latest_per_key
from inspig_etl_spark.operators.schedule import (
    day_crosstab,
    expand_schedule,
    rules_df,
    sql_rules_values,
)
from inspig_etl_spark.operators.status import (
    ACCIDENT_ABORTION,
    ACCIDENT_RECURRENCE,
    sql_status_from_last_event,
    sql_wk_gubun_from_event_type,
    status_from_last_event,
    wk_gubun_from_event_type,
)
from inspig_etl_spark.queries import register

BASE_DATE = "2024-01-25"
WINDOW_FROM = "2024-01-25"
WINDOW_TO = "2024-01-31"

# Derived last-event attributes (documented mapping, same in both engines):
# surrogate flag from user parity, accident sub-code from the event value.
_SQL_DAERI = "CASE WHEN user_id % 2 = 0 THEN 'Y' ELSE 'N' END"
_SQL_SAGO = (
    f"CASE WHEN value < 50 THEN '{ACCIDENT_RECURRENCE}' ELSE '{ACCIDENT_ABORTION}' END"
)


def sql_last_event(cutoff: str) -> str:
    """The ``last`` CTE: each user's latest non-click event before midnight
    of ``cutoff`` (YYYY-MM-DD) — the DuckDB twin of :func:`_last_events`
    (at ``BASE_DATE``) and of the weekly report's last events (at the
    report cutoff)."""
    return f"""
last AS (
  SELECT user_id, wk_gubun, event_day, sago_gubun_cd, daeri_yn
  FROM (
    SELECT user_id,
           {sql_wk_gubun_from_event_type('event_type')} AS wk_gubun,
           CAST(ts AS DATE) AS event_day,
           {_SQL_SAGO} AS sago_gubun_cd,
           {_SQL_DAERI} AS daeri_yn,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
    WHERE ts < TIMESTAMP '{cutoff} 00:00:00' AND event_type <> 'click'
  ) WHERE rn = 1
)"""


_SQL_LAST_EVENT = sql_last_event(BASE_DATE)


def last_event_columns() -> list[Column]:
    """The last-work attributes of an events row (the mapping documented
    above): work code, event day, accident sub-code, surrogate flag."""
    return [
        wk_gubun_from_event_type(F.col("event_type")).alias("wk_gubun"),
        us_to_day(F.col("ts_us")).alias("event_day"),
        F.when(F.col("value") < 50, ACCIDENT_RECURRENCE)
        .otherwise(ACCIDENT_ABORTION)
        .alias("sago_gubun_cd"),
        F.when(F.col("user_id") % 2 == 0, "Y").otherwise("N").alias("daeri_yn"),
    ]


def _last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's latest non-click event before ``BASE_DATE``."""
    ev = events_before(spark, sf_dir, BASE_DATE).filter(F.col("event_type") != "click")
    last = latest_per_key(ev, keys=["user_id"], order_by=["ts_us", "event_id"])
    return last.select("user_id", *last_event_columns())


@register(
    "user_status_from_last_event",
    operators="UD1,J1,W1 (8-state status truth table over last event; ref data_loader.py:28-46,243-253)",
    oracle=f"""
WITH {_SQL_LAST_EVENT}
SELECT user_id, wk_gubun AS last_wk_gubun,
       {sql_status_from_last_event('wk_gubun', 'sago_gubun_cd', 'daeri_yn', 'NULL')} AS status_cd
FROM last
""",
)
def user_status_from_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    last = _last_events(spark, sf_dir)
    return last.select(
        "user_id",
        F.col("wk_gubun").alias("last_wk_gubun"),
        status_from_last_event(
            F.col("wk_gubun"),
            F.col("sago_gubun_cd"),
            F.col("daeri_yn"),
            F.lit(None).cast("string"),
        ).alias("status_cd"),
    )


@register(
    "schedule_expansion",
    operators="UD2,J6 (plan-rule expansion: base event + PASS_DAY offsets, range filter; ref schedule.py:409-552, data_loader.py:704-798)",
    oracle=f"""
WITH {_SQL_LAST_EVENT}
SELECT user_id, wk_nm, std_cd, pass_day,
       CAST(event_day + pass_day * INTERVAL 1 DAY AS DATE) AS pass_dt
FROM last JOIN {sql_rules_values()} USING (wk_gubun)
WHERE event_day + pass_day * INTERVAL 1 DAY BETWEEN DATE '{WINDOW_FROM}' AND DATE '{WINDOW_TO}'
""",
)
def schedule_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    last = _last_events(spark, sf_dir)
    expanded = expand_schedule(
        last, rules_df(spark), "event_day", WINDOW_FROM, WINDOW_TO
    )
    return expanded.select("user_id", "wk_nm", "std_cd", "pass_day", "pass_dt")


@register(
    "schedule_day_crosstab",
    operators="J12,A5 (plan x schedule join + D1..D7 day crosstab; ref schedule.py:895-941,961-1005)",
    oracle=f"""
WITH {_SQL_LAST_EVENT},
expanded AS (
  SELECT user_id, wk_nm,
         CAST(date_diff('day', DATE '{WINDOW_FROM}', CAST(event_day + pass_day * INTERVAL 1 DAY AS DATE)) + 1 AS INT) AS day_no
  FROM last JOIN {sql_rules_values()} USING (wk_gubun)
  WHERE event_day + pass_day * INTERVAL 1 DAY BETWEEN DATE '{WINDOW_FROM}' AND DATE '{WINDOW_TO}'
)
SELECT wk_nm,
       {", ".join(f"COUNT(CASE WHEN day_no = {i} THEN 1 END) AS d{i}" for i in range(1, 8))},
       COUNT(*) AS total_cnt
FROM expanded
GROUP BY wk_nm
""",
)
def schedule_day_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    last = _last_events(spark, sf_dir)
    expanded = expand_schedule(
        last, rules_df(spark), "event_day", WINDOW_FROM, WINDOW_TO
    )
    return day_crosstab(expanded, WINDOW_FROM)
