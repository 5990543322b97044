"""Oracle-paired queries over the composed weekly-report pipeline
(pipelines/weekly.py): the full 10-section wide-row union (the reference's
TS_INS_WEEK_SUB GUBUN taxonomy — ``async_processor.py:150-192``,
``docs/db/ins/02_TABLE.md:301-459``) and the grown per-farm summary row.

The oracles compute every section on its own — spines, zero-fill joins,
an as-of window, a band join — while the Spark pipeline derives them all
from one per-farm aggregate, so agreement checks the single-pass plan
against an independent formulation. All counters are integers and the one
float column (SH val_1) goes through the shared decimal-sum convention, so
the union hashes bit-identically across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from inspig_etl_spark.functions.rounding import sql_dec_sum
from inspig_etl_spark.pipelines.weekly import (
    ALERT_BANDS,
    CONFIG_WEEKS,
    DOPE_PER_ROW,
    EU_NEXT_TYPES,
    GB_BUCKETS,
    SG_BANDS,
    STATUS_SPINE,
    WEEK_FROM,
    WEEK_TO,
    _shift,
    build_weekly_report,
)
from inspig_etl_spark.queries import register
from inspig_etl_spark.queries.status_schedule import sql_last_event
from inspig_etl_spark.operators.schedule import sql_rules_values
from inspig_etl_spark.operators.status import sql_status_from_last_event

_SQL_STATUS = f"""
status AS (
  SELECT user_id % 10 AS farm_no,
         {sql_status_from_last_event('wk_gubun', 'sago_gubun_cd', 'daeri_yn', 'NULL')} AS status_cd
  FROM last
)"""

_SQL_SPINE = "spine(sort_no, status_cd) AS (VALUES " + ", ".join(
    f"({i + 1}, '{s}')" for i, s in enumerate(STATUS_SPINE)
) + ")"

def _sql_week_purchases(wf: str, wt: str) -> str:
    return f"""
purch AS (
  SELECT user_id % 10 AS farm_no, CAST(ts AS DATE) AS d,
         COUNT(*) AS cnt, ROUND({sql_dec_sum('value', 6)}, 6) AS val
  FROM events
  WHERE event_type = 'purchase'
    AND CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}'
  GROUP BY 1, 2
)"""


def _sql_head(wf: str, wt: str) -> str:
    """The CTEs every report oracle starts from: the last events and the
    farms, both as of the report cutoff (midnight after ``wt``), then the
    section counts."""
    cutoff = _shift(wt, 1)
    return f"""
WITH {sql_last_event(cutoff)}, {_SQL_STATUS}, {_sql_week_purchases(wf, wt)},
farms AS (
  SELECT DISTINCT user_id % 10 AS farm_no FROM events
  WHERE ts < TIMESTAMP '{cutoff} 00:00:00'
),
{_sql_section_ctes(wf, wt)}"""

_GB_SPINE = ", ".join(f"({i + 1}, '{b}')" for i, b in enumerate(GB_BUCKETS))
_EU_SPINE = ", ".join(f"({i + 1}, '{t}')" for i, t in enumerate(EU_NEXT_TYPES))
_SG_SPINE = ", ".join(f"({i + 1}, '{b}')" for i, b in enumerate(SG_BANDS))
_ALERT_SPINE = ", ".join(
    f"({s}, '{c}', {lo}, {hi})" for s, c, lo, hi in ALERT_BANDS
)

# Shared section CTE block: every per-farm section of the wide-row union,
# each projecting (farm_no, sort_no, plus the columns it fills).
def _sql_section_ctes(wf: str, wt: str) -> str:
    prior_from, prior_to = _shift(wf, -7), _shift(wf, -1)
    this_from, this_to = _shift(wt, 1), _shift(wt, 7)
    config_from = _shift(wt, -(7 * CONFIG_WEEKS - 1))
    return f"""
counts AS (
  SELECT farm_no, status_cd, COUNT(*) AS cnt FROM status GROUP BY 1, 2
),
md_farms AS (SELECT DISTINCT farm_no FROM status),
gb_counts AS (
  SELECT user_id % 10 AS farm_no,
         'V' || CAST(CAST(GREATEST(LEAST(FLOOR(value / 100), 4), 0) AS INT) AS VARCHAR) AS code_1,
         COUNT(*) AS cnt
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
    AND CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}'
  GROUP BY 1, 2
),
gb_spine(sort_no, code_1) AS (VALUES {_GB_SPINE}),
bm_counts AS (
  SELECT user_id % 10 AS farm_no,
         COUNT(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}' THEN 1 END) AS c1,
         COUNT(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '{prior_from}' AND DATE '{prior_to}' THEN 1 END) AS c2
  FROM events WHERE event_type = 'view' GROUP BY 1
),
evw AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS srn
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}'
),
eu_counts AS (
  SELECT user_id % 10 AS farm_no, next_type AS code_1, COUNT(*) AS cnt
  FROM evw
  WHERE event_type = 'signup' AND srn = 1 AND next_type IS NOT NULL
  GROUP BY 1, 2
),
eu_spine(sort_no, code_1) AS (VALUES {_EU_SPINE}),
sg_tagged AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
         CAST(ts AS DATE) AS eday,
         CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END AS mate_day
  FROM events WHERE event_type IN ('error', 'purchase')
),
sg_filled AS (
  SELECT *,
         LAST_VALUE(mate_day IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY t_us, CASE WHEN event_type = 'error' THEN 0 ELSE 1 END, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_mate_day
  FROM sg_tagged
),
sg_counts AS (
  SELECT user_id % 10 AS farm_no,
         CASE WHEN last_mate_day IS NULL THEN 'NONE'
              WHEN date_diff('day', last_mate_day, eday) <= 1 THEN 'D0_1'
              WHEN date_diff('day', last_mate_day, eday) <= 3 THEN 'D2_3'
              WHEN date_diff('day', last_mate_day, eday) <= 7 THEN 'D4_7'
              ELSE 'D8P' END AS code_1,
         COUNT(*) AS cnt
  FROM sg_filled
  WHERE event_type = 'error'
    AND eday BETWEEN DATE '{wf}' AND DATE '{wt}'
  GROUP BY 1, 2
),
sg_spine(sort_no, code_1) AS (VALUES {_SG_SPINE}),
cl AS (
  SELECT user_id % 10 AS farm_no, user_id, COUNT(*) AS cnt
  FROM events
  WHERE event_type = 'click'
    AND CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}'
  GROUP BY 1, 2
),
dope_items AS (
  SELECT farm_no, 0 AS is_total, user_id AS uid, CAST(user_id AS VARCHAR) AS label, cnt FROM cl
  UNION ALL
  -- CAST: DuckDB SUM over integers is HUGEINT, which would promote the whole
  -- union'd cnt column to int128 and break the driver's cross-engine hash.
  SELECT farm_no, 1, CAST(-1 AS BIGINT), 'ALL', CAST(SUM(cnt) AS BIGINT) FROM cl GROUP BY farm_no
),
dope_numbered AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY farm_no ORDER BY is_total, cnt DESC, uid) AS rn
  FROM dope_items
),
alert_bands(sort_no, code_1, lo, hi) AS (VALUES {_ALERT_SPINE}),
alert_counts AS (
  SELECT user_id % 10 AS farm_no, b.code_1, COUNT(*) AS cnt
  FROM last JOIN alert_bands b
    ON date_diff('day', event_day, DATE '{this_from}') BETWEEN b.lo AND b.hi
  GROUP BY 1, 2
),
sched_rows AS (
  SELECT user_id % 10 AS farm_no, task_seq, wk_nm, std_cd,
         CAST(event_day + pass_day * INTERVAL 1 DAY AS DATE) AS pass_dt
  FROM last JOIN {sql_rules_values()} USING (wk_gubun)
  WHERE event_day + pass_day * INTERVAL 1 DAY
        BETWEEN DATE '{this_from}' AND DATE '{this_to}'
),
sched AS (
  SELECT farm_no, task_seq AS sort_no, wk_nm AS code_1, std_cd AS str_1,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 1 THEN 1 END) AS cnt_1,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 2 THEN 1 END) AS cnt_2,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 3 THEN 1 END) AS cnt_3,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 4 THEN 1 END) AS cnt_4,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 5 THEN 1 END) AS cnt_5,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 6 THEN 1 END) AS cnt_6,
         COUNT(CASE WHEN date_diff('day', DATE '{this_from}', pass_dt) + 1 = 7 THEN 1 END) AS cnt_7,
         COUNT(*) AS cnt_8
  FROM sched_rows
  GROUP BY 1, 2, 3, 4
),
cfg_weekly AS (
  SELECT user_id % 10 AS farm_no,
         CAST(FLOOR(date_diff('day', DATE '{config_from}', CAST(ts AS DATE)) / 7) AS BIGINT) AS wk_no,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) * 10000 // COUNT(*) AS ratio_e4
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{config_from}' AND DATE '{wt}'
  GROUP BY 1, 2
),
cfg_per AS (
  SELECT farm_no, COUNT(*) AS cnt_1,
         CAST(SUM(ratio_e4) // COUNT(*) AS BIGINT) AS cnt_2
  FROM cfg_weekly GROUP BY 1
)"""


def sections_oracle_sql(wf: str, wt: str) -> str:
    """The full TS_INS_WEEK_SUB wide-row oracle for an ARBITRARY report
    week — the batch query below instantiates it at (WEEK_FROM, WEEK_TO);
    the on-demand single-farm query (queries/on_demand.py) reuses it at
    its own Mon..Sun period."""
    return f"""{_sql_head(wf, wt)},
{_SQL_SPINE},
md AS (
  SELECT md_farms.farm_no, 'MD' AS gubun, 'STAT' AS sub_gubun, spine.sort_no,
         spine.status_cd AS code_1,
         CAST(NULL AS VARCHAR) AS str_1, CAST(NULL AS VARCHAR) AS str_2, CAST(NULL AS VARCHAR) AS str_3,
         COALESCE(cnt, 0) AS cnt_1,
         CAST(NULL AS BIGINT) AS cnt_2, CAST(NULL AS BIGINT) AS cnt_3, CAST(NULL AS BIGINT) AS cnt_4,
         CAST(NULL AS BIGINT) AS cnt_5, CAST(NULL AS BIGINT) AS cnt_6, CAST(NULL AS BIGINT) AS cnt_7,
         CAST(NULL AS BIGINT) AS cnt_8, CAST(NULL AS DOUBLE) AS val_1
  FROM md_farms CROSS JOIN spine
  LEFT JOIN counts ON counts.farm_no = md_farms.farm_no
                   AND counts.status_cd = spine.status_cd
),
alert AS (
  SELECT farms.farm_no, 'ALERT', 'STAT', b.sort_no, b.code_1,
         NULL, NULL, NULL,
         COALESCE(c.cnt, 0), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM farms CROSS JOIN alert_bands b
  LEFT JOIN alert_counts c ON c.farm_no = farms.farm_no AND c.code_1 = b.code_1
),
gb AS (
  SELECT farms.farm_no, 'GB', 'STAT', s.sort_no, s.code_1,
         NULL, NULL, NULL,
         COALESCE(c.cnt, 0), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM farms CROSS JOIN gb_spine s
  LEFT JOIN gb_counts c ON c.farm_no = farms.farm_no AND c.code_1 = s.code_1
),
bm AS (
  SELECT farms.farm_no, 'BM', 'STAT', 1, CAST(NULL AS VARCHAR),
         NULL, NULL, NULL,
         COALESCE(c1, 0), COALESCE(c2, 0), COALESCE(c1, 0) - COALESCE(c2, 0),
         NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM farms LEFT JOIN bm_counts ON bm_counts.farm_no = farms.farm_no
),
eu AS (
  SELECT farms.farm_no, 'EU', 'STAT', s.sort_no, s.code_1,
         NULL, NULL, NULL,
         COALESCE(c.cnt, 0), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM farms CROSS JOIN eu_spine s
  LEFT JOIN eu_counts c ON c.farm_no = farms.farm_no AND c.code_1 = s.code_1
),
sg AS (
  SELECT farms.farm_no, 'SG', 'STAT', s.sort_no, s.code_1,
         NULL, NULL, NULL,
         COALESCE(c.cnt, 0), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM farms CROSS JOIN sg_spine s
  LEFT JOIN sg_counts c ON c.farm_no = farms.farm_no AND c.code_1 = s.code_1
),
dope AS (
  SELECT farm_no, 'DOPE', 'LIST',
         CAST((rn - 1) // {DOPE_PER_ROW} + 1 AS INT) AS sort_no,
         CAST(NULL AS VARCHAR),
         MAX(CASE WHEN (rn - 1) % {DOPE_PER_ROW} + 1 = 1 THEN label END),
         MAX(CASE WHEN (rn - 1) % {DOPE_PER_ROW} + 1 = 2 THEN label END),
         MAX(CASE WHEN (rn - 1) % {DOPE_PER_ROW} + 1 = 3 THEN label END),
         MAX(CASE WHEN (rn - 1) % {DOPE_PER_ROW} + 1 = 1 THEN cnt END),
         MAX(CASE WHEN (rn - 1) % {DOPE_PER_ROW} + 1 = 2 THEN cnt END),
         MAX(CASE WHEN (rn - 1) % {DOPE_PER_ROW} + 1 = 3 THEN cnt END),
         NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM dope_numbered
  GROUP BY farm_no, sort_no
),
days AS (
  SELECT CAST(d AS DATE) AS d,
         CAST(date_diff('day', DATE '{wf}', CAST(d AS DATE)) + 1 AS INT) AS sort_no
  FROM generate_series(DATE '{wf}', DATE '{wt}', INTERVAL 1 DAY) t(d)
),
sh AS (
  SELECT farms.farm_no, 'SH', 'CHART', days.sort_no, CAST(NULL AS VARCHAR),
         strftime(days.d, '%Y%m%d'), NULL, NULL,
         purch.cnt, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         purch.val
  FROM farms CROSS JOIN days
  LEFT JOIN purch ON purch.farm_no = farms.farm_no AND purch.d = days.d
),
schedule AS (
  SELECT farm_no, 'SCHEDULE', 'ROW', sort_no, code_1,
         str_1, NULL, NULL,
         cnt_1, cnt_2, cnt_3, cnt_4, cnt_5, cnt_6, cnt_7, cnt_8,
         CAST(NULL AS DOUBLE)
  FROM sched
),
config AS (
  SELECT farms.farm_no, 'CONFIG', 'STAT', 1, CAST(NULL AS VARCHAR),
         NULL, NULL, NULL,
         COALESCE(cfg_per.cnt_1, 0), cfg_per.cnt_2,
         NULL, NULL, NULL, NULL, NULL, NULL,
         CAST(NULL AS DOUBLE)
  FROM farms LEFT JOIN cfg_per ON cfg_per.farm_no = farms.farm_no
)
SELECT * FROM md
UNION ALL SELECT * FROM alert
UNION ALL SELECT * FROM gb
UNION ALL SELECT * FROM bm
UNION ALL SELECT * FROM eu
UNION ALL SELECT * FROM sg
UNION ALL SELECT * FROM dope
UNION ALL SELECT * FROM sh
UNION ALL SELECT * FROM schedule
UNION ALL SELECT * FROM config
"""


@register(
    "weekly_report_sections",
    operators=(
        "pipeline: the full TS_INS_WEEK_SUB wide-row union — MD(A15/UD1) + "
        "ALERT(J9) + GB(A10) + BM(A17) + EU(W5/A9) + SG(J4/A10) + DOPE(T3/T4) "
        "+ SH(J10) + SCHEDULE(UD2/J12) + CONFIG(A18) "
        "(ref async_processor.py:150-192, TS_INS_WEEK_SUB taxonomy)"
    ),
    oracle=sections_oracle_sql(WEEK_FROM, WEEK_TO),
)
def weekly_report_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = [
        "farm_no", "gubun", "sub_gubun", "sort_no", "code_1",
        "str_1", "str_2", "str_3",
        "cnt_1", "cnt_2", "cnt_3", "cnt_4", "cnt_5", "cnt_6", "cnt_7", "cnt_8",
        "val_1",
    ]
    return build_weekly_report(spark, sf_dir)[0].select(*cols)


def summary_oracle_sql(wf: str, wt: str) -> str:
    """The TS_INS_WEEK summary oracle for an ARBITRARY report week (the
    registry query below instantiates it at (WEEK_FROM, WEEK_TO))."""
    return f"""{_sql_head(wf, wt)},
herd AS (
  SELECT farm_no,
         COUNT(*) AS total_users,
         COUNT(CASE WHEN status_cd = '010002' THEN 1 END) AS pregnant_cnt,
         COUNT(CASE WHEN status_cd IN ('010003', '010004') THEN 1 END) AS nursing_cnt
  FROM status GROUP BY farm_no
),
week AS (
  -- aggregated from raw events, NOT from the per-day rounded vals: a sum
  -- of rounded day values would differ from the rounded farm-level sum.
  SELECT user_id % 10 AS farm_no, COUNT(*) AS week_purchase_cnt,
         ROUND({sql_dec_sum('value', 6)}, 6) AS week_purchase_value
  FROM events
  WHERE event_type = 'purchase'
    AND CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}'
  GROUP BY 1
),
wk_counts AS (
  SELECT user_id % 10 AS farm_no,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS last_gb_cnt,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS last_bm_cnt,
         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS last_eu_cnt,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS last_sg_cnt,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS last_cl_cnt
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{wf}' AND DATE '{wt}'
  GROUP BY 1
),
prior_bm AS (
  SELECT user_id % 10 AS farm_no, COUNT(*) AS prior_bm_cnt
  FROM events
  WHERE event_type = 'view'
    AND CAST(ts AS DATE) BETWEEN DATE '{_shift(wf, -7)}' AND DATE '{_shift(wf, -1)}'
  GROUP BY 1
),
sg_matched AS (
  -- CAST: integer SUM is HUGEINT in DuckDB; BIGINT keeps the final column
  -- arrow-compatible with Spark's long for the driver's value hash.
  SELECT farm_no, CAST(SUM(cnt) AS BIGINT) AS last_sg_matched_cnt
  FROM sg_counts WHERE code_1 <> 'NONE' GROUP BY 1
),
alerts AS (
  SELECT farm_no, CAST(SUM(cnt) AS BIGINT) AS alert_total
  FROM alert_counts
  JOIN alert_bands USING (code_1)
  WHERE alert_bands.sort_no >= 3
  GROUP BY farm_no
),
this_week AS (
  SELECT farm_no,
         CAST(SUM(CASE WHEN code_1 IN ('preg_check_1', 'preg_check_2', 'pre_farrow_move')
                  THEN cnt_8 END) AS BIGINT) AS this_gb_sum,
         CAST(SUM(CASE WHEN code_1 IN ('piglet_care', 'wean_plan') THEN cnt_8 END) AS BIGINT) AS this_bm_sum,
         CAST(SUM(CASE WHEN code_1 IN ('remate_check', 'recheck') THEN cnt_8 END) AS BIGINT) AS this_eu_sum,
         CAST(SUM(cnt_8) AS BIGINT) AS this_total_sum
  FROM sched GROUP BY 1
),
delay AS (
  SELECT user_id % 10 AS farm_no,
         date_diff('day', MAX(event_day), DATE '{_shift(wt, 1)}') AS kpi_delay_day
  FROM last GROUP BY 1
)
SELECT herd.farm_no, total_users, pregnant_cnt, nursing_cnt,
       COALESCE(week_purchase_cnt, 0) AS week_purchase_cnt,
       -- reference convention: shipment sums are NVL(SUM(...), 0)
       -- (shipment.py:397), so cnt and value agree for a no-purchase week
       COALESCE(week_purchase_value, CAST(0 AS DOUBLE)) AS week_purchase_value,
       COALESCE(last_gb_cnt, 0) AS last_gb_cnt,
       COALESCE(last_bm_cnt, 0) AS last_bm_cnt,
       COALESCE(last_eu_cnt, 0) AS last_eu_cnt,
       COALESCE(last_sg_cnt, 0) AS last_sg_cnt,
       COALESCE(last_cl_cnt, 0) AS last_cl_cnt,
       COALESCE(prior_bm_cnt, 0) AS prior_bm_cnt,
       COALESCE(last_bm_cnt, 0) - COALESCE(prior_bm_cnt, 0) AS bm_wow_delta,
       COALESCE(last_sg_matched_cnt, 0) AS last_sg_matched_cnt,
       COALESCE(alert_total, 0) AS alert_total,
       COALESCE(this_gb_sum, 0) AS this_gb_sum,
       COALESCE(this_bm_sum, 0) AS this_bm_sum,
       COALESCE(this_eu_sum, 0) AS this_eu_sum,
       COALESCE(this_total_sum, 0) AS this_total_sum,
       kpi_delay_day
FROM herd
LEFT JOIN week ON herd.farm_no = week.farm_no
LEFT JOIN wk_counts ON herd.farm_no = wk_counts.farm_no
LEFT JOIN prior_bm ON herd.farm_no = prior_bm.farm_no
LEFT JOIN sg_matched ON herd.farm_no = sg_matched.farm_no
LEFT JOIN alerts ON herd.farm_no = alerts.farm_no
LEFT JOIN this_week ON herd.farm_no = this_week.farm_no
LEFT JOIN delay ON herd.farm_no = delay.farm_no
"""


@register(
    "weekly_report_summary",
    operators=(
        "pipeline,A20,A17 (the grown TS_INS_WEEK row: herd + shipment + "
        "per-section weekly counters + WoW + alert gate + coming-week "
        "schedule sums + input-delay KPI; ref TS_INS_WEEK docs/db/ins/"
        "02_TABLE.md:301-459, async_processor.py:150-192)"
    ),
    oracle=summary_oracle_sql(WEEK_FROM, WEEK_TO),
)
def weekly_report_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_weekly_report(spark, sf_dir)[1]
