"""Event / time-series query catalog: window & sequence analytics (W1–W5),
temporal keys (F10–F13), top-k (A11), dedup-on-append (T4), and the A9
order-dependent score fold (intended + quirk-compat modes).

Fixture mapping (FIXTURES.md §2): the reference's per-link QoE sample arrays
map to ``events`` ordered by ``ts`` per ``user_id``; ``value`` is discretized
onto the QoE state codes {0,2,3,4}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec
from ..functions.temporal import month_key
from ..operators.sequences import (
    discretize_state,
    island_table,
    tumbling_min_score,
)
from ..sources.tables import load_table
from .base import Q

# Shared: deterministic per-user ordering (ts then event_id tiebreak).
ORDER = ["ts", "event_id"]


def _with_state(events: DataFrame) -> DataFrame:
    return events.withColumn("state", discretize_state(F.col("value")))


# --------------------------------------------------------------------------
# W1+W2+W3+F15 composite: the reference's full QoE sequence suite per entity
# in one vehicle — lag-based transition counts (the W1/W2 literal form),
# island-predecessor outage counts + durations (the faithful loop
# semantics), and degraded-state run-length stats (gaps-and-islands), all
# from one ``sequences.island_table`` pass. Consolidates the former
# w01_transitions / w03_runlengths entries into one catalog row.
# Reference: CalculateBrownouts/Blackouts powerbi_main_fun.py:1709-1775,
# summation over start-states :1855-1879, 7.12-min samples :1875-1882.
# --------------------------------------------------------------------------
def w02_outage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_state(load_table(spark, sf_dir, "events"))
    # everything derives from ONE islands pass (single scan of events; the
    # three-operator join form scanned it three times). The lag-based W1
    # transition counts are definitionally the island starts — a row with
    # state=2 and prev=4 is exactly the first row of a red island whose
    # island_prev is 4 — so lag_* equals the island counts engine-side; the
    # DuckDB oracle still derives lag_* INDEPENDENTLY from row-level LAG,
    # making the hash check a cross-proof of the two formulations.
    islands = island_table(ev, "user_id", ORDER)
    s, pv, rl = F.col("state"), F.col("island_prev"), F.col("run_len")
    is_brown = (s == 2) & (pv == 4)
    is_black = (s == 0) & pv.isNotNull() & (pv != 0)
    is_red = s == 2
    agg = islands.groupBy("user_id").agg(
        F.sum(F.when(is_brown, 1).otherwise(0)).cast("long").alias("brownouts"),
        F.sum(F.when(is_brown, rl).otherwise(0)).cast("long").alias("brownout_samples"),
        F.sum(F.when(is_black, 1).otherwise(0)).cast("long").alias("blackouts"),
        F.sum(F.when(is_black, rl).otherwise(0)).cast("long").alias("blackout_samples"),
        F.sum(F.when(is_red, 1)).alias("n_red_runs"),
        F.max(F.when(is_red, rl)).alias("max_run_len"),
        F.sum(F.when(is_red, rl)).cast("long").alias("total_red_samples"),
    )
    return agg.select(
        "user_id",
        "brownouts",
        "brownout_samples",
        ((F.col("brownout_samples") * F.lit(712)).cast("double") / F.lit(6000.0)).alias(
            "brownout_minutes"
        ),
        "blackouts",
        "blackout_samples",
        ((F.col("blackout_samples") * F.lit(712)).cast("double") / F.lit(6000.0)).alias(
            "blackout_minutes"
        ),
        F.col("brownouts").alias("lag_brownouts"),
        F.col("blackouts").alias("lag_blackouts"),
        "n_red_runs",
        "max_run_len",
        "total_red_samples",
        # minutes at 7.12 min/sample, exact: n*712 then one division
        ((F.col("max_run_len") * F.lit(712)).cast("double") / F.lit(100.0)).alias(
            "max_run_minutes"
        ),
    )


W02_ORACLE = """
WITH staged0 AS (
  SELECT user_id, ts, event_id,
         CASE WHEN value < 50.0 THEN 0
              WHEN value < 100.0 THEN 2
              WHEN value < 150.0 THEN 3
              ELSE 4 END AS state
  FROM events
), staged AS (
  SELECT user_id, state,
         LAG(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - ROW_NUMBER() OVER (PARTITION BY user_id, state ORDER BY ts, event_id)
           AS island_id
  FROM staged0
), islands AS (
  SELECT user_id, state, island_id, COUNT(*) AS run_len,
         MAX(CASE WHEN prev_state IS NULL OR prev_state <> state
                  THEN prev_state END) AS island_prev
  FROM staged GROUP BY 1, 2, 3
), outage AS (
  SELECT
    user_id,
    CAST(SUM(CASE WHEN state = 2 AND island_prev = 4 THEN 1 ELSE 0 END) AS BIGINT)
      AS brownouts,
    CAST(SUM(CASE WHEN state = 2 AND island_prev = 4 THEN run_len ELSE 0 END) AS BIGINT)
      AS brownout_samples,
    CAST(SUM(CASE WHEN state = 2 AND island_prev = 4 THEN run_len ELSE 0 END) * 712
         AS DOUBLE) / 6000.0 AS brownout_minutes,
    CAST(SUM(CASE WHEN state = 0 AND island_prev IS NOT NULL AND island_prev <> 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS blackouts,
    CAST(SUM(CASE WHEN state = 0 AND island_prev IS NOT NULL AND island_prev <> 0
                  THEN run_len ELSE 0 END) AS BIGINT) AS blackout_samples,
    CAST(SUM(CASE WHEN state = 0 AND island_prev IS NOT NULL AND island_prev <> 0
                  THEN run_len ELSE 0 END) * 712 AS DOUBLE) / 6000.0 AS blackout_minutes
  FROM islands
  GROUP BY user_id
), lag_counts AS (
  SELECT
    user_id,
    CAST(SUM(CASE WHEN state = 2 AND prev_state = 4 THEN 1 ELSE 0 END) AS BIGINT)
      AS lag_brownouts,
    CAST(SUM(CASE WHEN state = 0 AND prev_state IS NOT NULL AND prev_state <> 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS lag_blackouts
  FROM staged
  GROUP BY user_id
), red_runs AS (
  SELECT
    user_id,
    COUNT(*) AS n_red_runs,
    MAX(run_len) AS max_run_len,
    CAST(SUM(run_len) AS BIGINT) AS total_red_samples,
    CAST(MAX(run_len) * 712 AS DOUBLE) / 100.0 AS max_run_minutes
  FROM islands
  WHERE state = 2
  GROUP BY user_id
)
SELECT o.*, l.lag_brownouts, l.lag_blackouts,
       r.n_red_runs, r.max_run_len, r.total_red_samples, r.max_run_minutes
FROM outage o
JOIN lag_counts l USING (user_id)
LEFT JOIN red_runs r USING (user_id)
"""


# --------------------------------------------------------------------------
# P1/P3–P6/P10: the reference's row-gate family in one pass —
#   P3 null-key skip          (powerbi_main_fun.py:447-449)
#   P4 state gate             (CONNECTED filter, :456-460)
#   P5 skip-list              (events_to_skip, :845-851)
#   P6 flag-list membership   (outdatedversion/eoslversion, :944-1014)
#   P10 sentinel-value class  (lat==37.402866 ⇒ 'private', :1548-1551)
#   P1 single-entity debug    (data_sanitization.py:51-53; off by default)
# All land below the parquet scan as PushedFilters; the flag columns are
# literal-set membership (broadcast-free, constant-folded).
# --------------------------------------------------------------------------
def p03_event_gates(
    spark: SparkSession, sf_dir: str, debug_user: int | None = None
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    if debug_user is not None:  # P1 debug gate
        ev = ev.filter(F.col("user_id") == F.lit(debug_user))
    skip_list = ["view"]  # P5 analog of events_to_skip
    flag_list = ["error", "signup"]  # P6 analog of outdated-version lists
    return (
        ev.filter(F.col("user_id").isNotNull())  # P3
        .filter(F.col("event_type") != "click")  # P4 state gate
        .filter(~F.col("event_type").isin(skip_list))  # P5
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("event_type").isin(flag_list).alias("is_flagged"),  # P6
            F.when(F.col("value") < F.lit(50.0), F.lit("degraded"))  # P10
            .otherwise(F.lit("normal"))
            .alias("value_class"),
        )
    )


P03_ORACLE = """
SELECT event_id, user_id, event_type,
       event_type IN ('error', 'signup') AS is_flagged,
       CASE WHEN value < 50.0 THEN 'degraded' ELSE 'normal' END AS value_class
FROM events
WHERE user_id IS NOT NULL
  AND event_type <> 'click'
  AND event_type NOT IN ('view')
"""


# --------------------------------------------------------------------------
# W7 (beyond-ref window op): gap-based sessionization. The reference has no
# session windows (SURVEY.md §2.5 notes the absence); a training-data /
# clickstream pipeline needs them. Classic two-window formulation: lag →
# new-session flag → running sum = session id → per-session aggregates.
# One shuffle on user_id; both windows share the same partitioning.
# --------------------------------------------------------------------------
SESSION_GAP_MIN = 30


def w07_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (ms - F.lag(ms).over(w)) > SESSION_GAP_MIN * 60 * 1000, 1
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(ms) - F.min(ms)).cast("long").alias("duration_ms"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )


W07_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT *, SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS duration_ms,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchases
FROM sess GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# W4/A12: tumbling-hour mean score, daily minimum.
# Reference: lowest_qoe powerbi_main_fun.py:1778-1804.
# --------------------------------------------------------------------------
def w04_hourly_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = tumbling_min_score(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "min_hour_score",
        "n_hours",
    )


W04_ORACLE = """
WITH hourly AS (
  SELECT
    user_id,
    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
    date_trunc('hour', ts) AS hour,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS hour_score
  FROM events
  GROUP BY 1, 2, 3
)
SELECT user_id, day, MIN(hour_score) AS min_hour_score, COUNT(*) AS n_hours
FROM hourly
GROUP BY user_id, day
"""


# --------------------------------------------------------------------------
# T4/F10: month-truncated idempotent dedup of the event stream.
# Reference: events unique (Date, EdgeID, Name) + INSERT IGNORE
# powerbi_main_fun.py:886-887, customer.sql:354-355.
# --------------------------------------------------------------------------
def t04_month_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(month_key("ts"), "yyyy-MM-dd").alias("month"),
            F.col("user_id"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_raw_events"),
            F.min("event_id").alias("first_event_id"),
        )
    )


T04_ORACLE = """
SELECT
  strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
  user_id,
  event_type,
  COUNT(*) AS n_raw_events,
  MIN(event_id) AS first_event_id
FROM events
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# W5/T3: idempotent backfill — expected (user, day) grid anti-join existing.
# Reference: update_edge_qoe 30-day backfill powerbi_main_fun.py:1890-1921,
# missing-day probe fun_mysql_query.py:63-77.
# --------------------------------------------------------------------------
def w05_backfill_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    grid = users.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"), F.lit("2024-01-31").cast("date")
            )
        ),
    )
    existing = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    missing = grid.join(existing, ["user_id", "day"], "left_anti")
    return missing.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day")
    )


W05_ORACLE = """
WITH users AS (SELECT DISTINCT user_id FROM events),
days AS (
  SELECT CAST(d AS DATE) AS day
  FROM generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY) AS t(d)
),
grid AS (SELECT user_id, day FROM users CROSS JOIN days),
existing AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
)
SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day
FROM grid g
WHERE NOT EXISTS (
  SELECT 1 FROM existing e WHERE e.user_id = g.user_id AND e.day = g.day
)
"""


# --------------------------------------------------------------------------
# A9 (intended semantics): the reference's Score metric as documented intent —
# avg(value) * 12.5 (see SURVEY.md §2.4 A9; reference powerbi_main_fun.py:2048).
# --------------------------------------------------------------------------
def _quirk_fold(samples: F.Column) -> F.Column:
    """The literal order-dependent A9 fold (U3 quirk semantics,
    /root/reference/powerbi_main_fun.py:2048):
    ``score_k = ((score_{k-1} * (k-1)) + v_k) * 12.5 / k`` as an
    ``aggregate`` expression over an array_sort-stabilized sample array.
    Shared by the a09 vehicles so the two spellings cannot drift."""
    return F.aggregate(
        samples,
        F.struct(
            F.lit(0.0).alias("score"), F.lit(0).cast("long").alias("n")
        ),
        lambda acc, s: F.struct(
            (
                ((acc["score"] * acc["n"].cast("double")) + s["value"])
                * F.lit(12.5)
                / (acc["n"] + 1).cast("double")
            ).alias("score"),
            (acc["n"] + 1).alias("n"),
        ),
    )


def a09_score_intended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 both ways under ONE hash (VERDICT r9 "Next round" #8): the
    intended decimal-exact mean×12.5, PLUS the order-dependent quirk fold
    as the ``score_quirk`` rider column — made oracle-expressible by
    array_sort-stabilizing the fold order ((ts, event_id, value), unique
    in the fixtures) so DuckDB's ``list_reduce`` replays the identical
    IEEE-double op sequence bit-for-bit (the SURVEY §4 "quirk-compat
    mode"). One aggregation: the sample array rides the same shuffle as
    the intended-score sums. Scale note: quirk-compat inherently holds
    one ordered per-key sample array in memory (bounded by per-user
    event counts); the intended column is the unbounded-scale path —
    exactly the trade SURVEY §4 documents for this legacy semantics."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        (
            F.sum(dec("value")).cast("double")
            / F.count("value")
            * F.lit(12.5)
        ).alias("score"),
        F.count("*").alias("n_samples"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
            )
        ).alias("_samples"),
    )
    return base.select(
        "user_id",
        "score",
        "n_samples",
        _quirk_fold(F.col("_samples"))["score"].alias("score_quirk"),
    )


A09_ORACLE = """
WITH base AS (
  SELECT
    user_id,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) * 12.5 AS score,
    COUNT(*) AS n_samples,
    list(value ORDER BY ts, event_id, value) AS vals
  FROM events
  GROUP BY user_id
), pre AS (
  -- element k carries (s, k); s pre-seeded with the k=1 fold result so
  -- list_reduce's first-element init equals the engine's first step
  -- (((0*0)+v)*12.5/1 == v*12.5 bitwise)
  SELECT user_id, score, n_samples,
         list_transform(vals, (v, k) -> struct_pack(
           s := CASE WHEN k = 1 THEN v * 12.5 ELSE v END, k := k)) AS elems
  FROM base
)
SELECT user_id, score, n_samples,
       (list_reduce(elems, (acc, x) -> struct_pack(
          s := ((acc.s * (x.k - 1)) + x.s) * 12.5 / x.k, k := x.k))).s
         AS score_quirk
FROM pre
"""


# --------------------------------------------------------------------------
# A9 (quirk-compat, U3): the literal order-dependent fold
#   score_{k} = ((score_{k-1} * (k-1)) + v_k) * 12.5 / k
# reproduced with an ordered collect + ``aggregate`` fold (shared
# ``_quirk_fold``). Not its own catalog entry, but no longer rows-only:
# since round 10 the fold's value rides ``a09_score_intended`` as the
# hash-checked ``score_quirk`` column (array_sort-stabilized order makes
# the ill-conditioned 12.5×-per-step chain bit-reproducible — DuckDB's
# list_reduce replays the identical IEEE op sequence). This standalone
# form is kept as the U3 implementation for the sequence property tests.
# --------------------------------------------------------------------------
def a09_score_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone U3 quirk fold, kept as the subject of the sequence
    property tests (the catalog runs the fold inside ``a09_score_intended``)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
        ).alias("samples")
    )
    folded = _quirk_fold(F.col("samples"))
    return seq.select(
        "user_id",
        folded["score"].alias("score_quirk"),
        folded["n"].alias("n_samples"),
    )


# --------------------------------------------------------------------------
# P15 (beyond-ref API surface): pivot — long event rows to a wide per-user
# matrix. The EAV pivot (eav_pivot) builds a map; this is the relational
# .pivot() with explicit values, so the column set is fixed at plan time
# (dynamic-value pivots need a pre-pass distinct — the explicit list keeps
# one job and deterministic schema, which is also why the oracle can match).
# --------------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def p15_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long events → wide per-user matrix: count AND max/min of ``value``
    per event type (the A14 gateway status-metrics series max — one shuffle,
    map-side partial max/min/count — reshaped through the same pivot)."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("value").alias("vmax"),
            F.min("value").alias("vmin"),
        )
    )
    out = wide.select(
        "user_id",
        *[
            c
            for t in EVENT_TYPES
            for c in (
                F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}"),
                F.col(f"{t}_vmax").alias(f"max_{t}"),
                F.col(f"{t}_vmin").alias(f"min_{t}"),
            )
        ],
    )
    return out


P15_ORACLE = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS n_click,
       MAX(value) FILTER (event_type = 'click')  AS max_click,
       MIN(value) FILTER (event_type = 'click')  AS min_click,
       COUNT(*) FILTER (event_type = 'error')    AS n_error,
       MAX(value) FILTER (event_type = 'error')  AS max_error,
       MIN(value) FILTER (event_type = 'error')  AS min_error,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       MAX(value) FILTER (event_type = 'purchase') AS max_purchase,
       MIN(value) FILTER (event_type = 'purchase') AS min_purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
       MAX(value) FILTER (event_type = 'signup') AS max_signup,
       MIN(value) FILTER (event_type = 'signup') AS min_signup,
       COUNT(*) FILTER (event_type = 'view')     AS n_view,
       MAX(value) FILTER (event_type = 'view')   AS max_view,
       MIN(value) FILTER (event_type = 'view')   AS min_view
FROM events
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# W8 (beyond-ref): time-RANGE window frame — rolling 7-day sum/count per
# user. The reference computes lookbacks by re-fetching fixed intervals
# (W5/W6); the RANGE frame expresses "trailing window per row" natively:
# one shuffle on the partition key, frame bounds evaluated on the sorted
# run. Ordering key is epoch seconds (Spark range frames need numeric
# order); the oracle uses the equivalent INTERVAL range frame.
# --------------------------------------------------------------------------
def w08_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-7 * 86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value", 18)).over(w).cast("double").alias("sum_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


W08_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d,
       COUNT(*) OVER w AS n_7d
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts
  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
)
"""



QUERIES: dict[str, Q] = {
    "w08_rolling_window": Q(
        w08_rolling_window,
        W08_ORACLE,
        ("W5", "F13"),
        "time-RANGE frame: rolling 7-day sum/count per user",
    ),
    "p15_event_pivot": Q(
        p15_event_pivot,
        P15_ORACLE,
        ("P7", "A5", "A14"),
        "pivot: per-user count + series max/min matrix per event type",
    ),
    "w02_outage_summary": Q(
        w02_outage_summary,
        W02_ORACLE,
        ("W1", "W2", "W3", "F15"),
        "QoE sequence suite: lag transitions + island outages + run lengths",
    ),
    "p03_event_gates": Q(
        p03_event_gates,
        P03_ORACLE,
        ("P1", "P3", "P4", "P5", "P6", "P10"),
        "row-gate family: null-key, state, skip-list, flag-list, sentinel",
    ),
    "w07_sessionize": Q(
        w07_sessionize,
        W07_ORACLE,
        ("W1", "W3", "beyond:sessionize"),
        "gap-based sessionization: lag flag -> running-sum ids -> session aggs",
    ),
    "w04_hourly_min": Q(
        w04_hourly_min,
        W04_ORACLE,
        ("W4", "A12", "F11"),
        "tumbling-hour score, daily minimum",
    ),
    "t04_month_dedup": Q(
        t04_month_dedup,
        T04_ORACLE,
        ("T4", "F10", "S10"),
        "month-key idempotent event dedup",
    ),
    "w05_backfill_missing": Q(
        w05_backfill_missing,
        W05_ORACLE,
        ("W5", "T3", "J7"),
        "idempotent daily-backfill key grid via anti-join",
    ),
    "a09_score_intended": Q(
        a09_score_intended,
        A09_ORACLE,
        ("A9", "U3"),
        "Score metric, BOTH semantics under one hash: intended (avg*12.5) "
        "+ the order-dependent quirk fold as the score_quirk rider "
        "(array_sort-stabilized, list_reduce-replayed bit-exactly)",
    ),
}
