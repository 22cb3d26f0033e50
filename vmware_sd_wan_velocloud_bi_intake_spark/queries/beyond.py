"""Beyond-reference relational capabilities the reference engine lacks.

SURVEY.md §2.3 notes the reference has no as-of/range joins and §2.4/§2.5
note it has no grouping sets, distinct aggregates, or ranking windows — a
user graduating from the reference to a real analytics engine expects them,
so they are first-class catalog entries here, each oracle-checked.

Scale notes (100 TB, per SCALE.md ground rules):
- The as-of join is the union-window form: ONE shuffle keyed by the join
  key, state per key O(1) in the running `last()`. No per-row point lookups
  (the reference's staleness probes are the degenerate form of this), and no
  broadcast requirement on either side — both sides may be huge.
- Rollup/grouping sets expand grouping keys BEFORE the exchange, so partial
  aggregation still combines map-side; one shuffle for all grouping levels.
- The range join keeps an equi-key (custkey) so Spark plans a hash join with
  the range condition as a post-join filter — never a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec
from ..operators.asof import asof_join
from ..sources.tables import load_table
from .base import Q


# --------------------------------------------------------------------------
# J10: as-of join — each event picks the most recent order (by o_orderdate)
# of the same customer at-or-before the event timestamp. The reference's
# nearest analog is its hand-rolled staleness point lookup
# (fun_mysql_query.py:40-60); this is the set-oriented general form.
# --------------------------------------------------------------------------
def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    joined = asof_join(
        left=events.select("event_id", "user_id", "ts"),
        right=orders.select("o_custkey", "o_orderdate", "o_orderkey"),
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("asof_orderkey"),
    )


# The oracle states identical semantics with the same union-window algorithm
# (ANSI window SQL; DuckDB's native ASOF JOIN leaves equal-timestamp /
# duplicate-key ties unspecified, so the deterministic form is spelled out).
J10_ORACLE = """
WITH u AS (
  SELECT o_custkey AS k, o_orderdate AS t, 0 AS tag,
         o_orderkey, NULL::BIGINT AS event_id, NULL::TIMESTAMP AS ev_ts
  FROM orders
  UNION ALL
  SELECT user_id, ts, 1, NULL, event_id, ts FROM events
), w AS (
  SELECT event_id, k, ev_ts, tag,
         last_value(o_orderkey IGNORE NULLS) OVER (
           PARTITION BY k
           ORDER BY t, tag, o_orderkey NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS asof_orderkey
  FROM u
)
SELECT event_id, k AS user_id, ev_ts AS ts, asof_orderkey
FROM w WHERE tag = 1
"""


# --------------------------------------------------------------------------
# A19 + A20: rollup / grouping sets WITH distinct aggregates — subtotals +
# grand total + per-level COUNT(DISTINCT). Both absent from the reference
# (SURVEY §2.4 closing note). Consolidates the former a20_distinct_agg
# entry.
#
# NOT the naive `rollup().agg(countDistinct, countDistinct)` form: that
# composes the 3-way rollup expand with the 3-way multi-distinct expand, so
# every lineitem row is replicated ~9x before the exchange (measured 3.1 s
# at sf0.1, and the replication factor is what dominates at 100x). The
# two-pass form instead exploits that distinct sets PROJECT even though
# distinct counts don't add: the distinct (flag, status, key) triples —
# computed once per key column with map-side combine, no row expand — yield
# every rollup level by re-projection + dedup of the already-tiny triple
# set. The additive aggregates (sum, count) roll up from the 6-row base
# level for free. Three narrow shuffles of 2–3-column projections replace
# one 9x-replicated shuffle; everything downstream of them touches at most
# |distinct triples| rows. Crossover documented in SCALE.md.
# --------------------------------------------------------------------------
def a19_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_suppkey", "l_partkey"
    )
    keys = ["l_returnflag", "l_linestatus"]
    base = li.groupBy(*keys).agg(
        F.sum(dec("l_quantity", 12)).alias("_qty"),  # exact decimal until the end
        F.count("*").alias("n_rows"),
    )
    # COUNT(DISTINCT col) ignores NULL values of the counted column — the
    # triple tables must too, or an all-NULL group would over-count by one
    trip_s = (
        li.where(F.col("l_suppkey").isNotNull())
        .select(*keys, "l_suppkey")
        .distinct()
    )
    trip_p = (
        li.where(F.col("l_partkey").isNotNull())
        .select(*keys, "l_partkey")
        .distinct()
    )

    def counts(trip: DataFrame, key: str, alias: str, level: list[str]) -> DataFrame:
        d = trip.select(*level, key).distinct() if level != keys else trip
        if level:
            return d.groupBy(*level).agg(F.count("*").alias(alias))
        return d.agg(F.count("*").alias(alias))

    def qty_rows(level: list[str]) -> DataFrame:
        if level == keys:
            return base
        if level:
            return base.groupBy(*level).agg(
                F.sum("_qty").alias("_qty"), F.sum("n_rows").alias("n_rows")
            )
        return base.agg(F.sum("_qty").alias("_qty"), F.sum("n_rows").alias("n_rows"))

    def tier(level: list[str], gid: int) -> DataFrame:
        # null-safe LEFT joins: GROUP BY treats NULL keys as a real group
        # (rollup emitted data rows for them), so a plain equi-join would
        # silently drop them, and a group whose key values are all NULL has
        # no triple rows at all — its distinct counts coalesce to 0, which
        # is exactly what COUNT(DISTINCT) returns there
        out = qty_rows(level)
        for cnt, alias in (
            (counts(trip_s, "l_suppkey", "n_supp", level), "n_supp"),
            (counts(trip_p, "l_partkey", "n_part", level), "n_part"),
        ):
            if level:
                renamed = cnt.select(
                    *[F.col(c).alias(f"_k_{c}") for c in level], alias
                )
                cond = None
                for c in level:
                    e = out[c].eqNullSafe(renamed[f"_k_{c}"])
                    cond = e if cond is None else (cond & e)
                out = out.join(renamed, cond, "left").drop(
                    *[f"_k_{c}" for c in level]
                )
            else:
                out = out.crossJoin(cnt)  # single-row global aggregates
            out = out.withColumn(
                alias, F.coalesce(F.col(alias), F.lit(0).cast("long"))
            )
        return out.select(
            (
                F.col("l_returnflag")
                if "l_returnflag" in level
                else F.lit(None).cast("string").alias("l_returnflag")
            ),
            (
                F.col("l_linestatus")
                if "l_linestatus" in level
                else F.lit(None).cast("string").alias("l_linestatus")
            ),
            F.col("_qty").cast("double").alias("sum_qty"),
            "n_rows",
            "n_supp",
            "n_part",
            F.lit(gid).cast("bigint").alias("grouping_level"),
        )

    return (
        tier(keys, 0)
        .unionByName(tier(["l_returnflag"], 1))
        .unionByName(tier([], 3))
    )


A19_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n_rows,
  COUNT(DISTINCT l_suppkey) AS n_supp,
  COUNT(DISTINCT l_partkey) AS n_part,
  GROUPING(l_returnflag, l_linestatus) AS grouping_level
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# O5: ranking window — top-3 orders per customer by price. The reference's
# only ordered-rank analog is array-sort top-k (SURVEY §2.5 closing note);
# this is the general partitioned-rank form with a deterministic tiebreak.
# --------------------------------------------------------------------------
def o05_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


O05_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rk
  FROM orders
) t
WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# J11: range join with an equi anchor — line items shipped within 90 days of
# their order's date. The equi key (orderkey) keeps the physical plan a hash
# join with the range condition applied post-match, so no cartesian blow-up
# at scale. (Anchored on lineitem×orders rather than events×orders: the
# synthetic events table's timestamps never overlap order dates, which made
# the earlier form pass vacuously with zero rows.)
# --------------------------------------------------------------------------
def j11_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(orders, cond, "inner")
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(dec("l_extendedprice", 18)).cast("double").alias("sum_value"),
        )
    )


J11_ORACLE = """
SELECT o_orderkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM lineitem l
JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderkey
"""


# --------------------------------------------------------------------------
# J12: full-outer join — listed in SURVEY §2.3 as absent from the reference
# (every reference join is inner/semi/anti). Reconciliation shape: order
# activity vs event activity per customer, keeping keys present on either
# side only. Both sides pre-aggregate before the join (shuffle carries one
# row per key per side, not raw facts).
# --------------------------------------------------------------------------
def j12_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n_orders")
    )
    e = events.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("n_events")
    )
    return (
        o.join(e, "key", "full_outer")
        .select(
            "key",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            (F.col("n_orders").isNull() | F.col("n_events").isNull()).alias(
                "one_sided"
            ),
        )
    )


J12_ORACLE = """
WITH o AS (
  SELECT o_custkey AS key, COUNT(*) AS n_orders FROM orders GROUP BY 1
), e AS (
  SELECT user_id AS key, COUNT(*) AS n_events FROM events GROUP BY 1
)
SELECT
  COALESCE(o.key, e.key) AS key,
  COALESCE(o.n_orders, 0) AS n_orders,
  COALESCE(e.n_events, 0) AS n_events,
  (o.n_orders IS NULL OR e.n_events IS NULL) AS one_sided
FROM o FULL OUTER JOIN e ON o.key = e.key
"""


# --------------------------------------------------------------------------
# A21: exact percentiles — absent from the reference (its only distribution
# stat is the order-dependent mean quirk, SURVEY §2.4 A9). Exact linear-
# interpolation quantiles, bit-identical between Spark `percentile` and
# DuckDB `quantile_cont`. At true 100 TB scale the approx_percentile sketch
# is the first substitution — documented here because the exact form's sort
# per group is the cost to watch.
# --------------------------------------------------------------------------
def a21_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # ONE value buffer evaluated at all three fractions — each scalar
    # percentile() call builds its own per-group buffer (measured ~2.5x
    # dearer on the a22 restructure; same aggregate, same sort, shared)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr(
                "percentile(o_totalprice, array(0.5, 0.9, 0.99))"
            ).alias("_p"),
            F.count("*").alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            F.element_at("_p", 1).alias("p50"),
            F.element_at("_p", 2).alias("p90"),
            F.element_at("_p", 3).alias("p99"),
            "n_orders",
        )
    )


A21_ORACLE = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# SET1: set operations — SURVEY §2.7 records the reference has none
# (per-VCO results only union implicitly by writing to shared tables).
# Key-population reconciliation: which keys transact, emit events, or both.
# Each branch is a distinct-projected single column, so the set ops shuffle
# one slim column, not fact rows.
# --------------------------------------------------------------------------
def set1_key_populations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.select(F.col("o_custkey").alias("key")).distinct()
    e = events.select(F.col("user_id").alias("key")).distinct()
    return (
        o.intersect(e).withColumn("population", F.lit("both"))
        .unionByName(o.subtract(e).withColumn("population", F.lit("orders_only")))
        .unionByName(e.subtract(o).withColumn("population", F.lit("events_only")))
    )


SET1_ORACLE = """
SELECT key, 'both' AS population FROM (
  SELECT DISTINCT o_custkey AS key FROM orders
  INTERSECT
  SELECT DISTINCT user_id FROM events
)
UNION ALL
SELECT key, 'orders_only' FROM (
  SELECT DISTINCT o_custkey AS key FROM orders
  EXCEPT
  SELECT DISTINCT user_id FROM events
)
UNION ALL
SELECT key, 'events_only' FROM (
  SELECT DISTINCT user_id AS key FROM events
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders
)
"""


# --------------------------------------------------------------------------
# A22: sketch aggregates — the 100 TB substitution for a20/a21. HyperLogLog++
# distinct counts and quantile-sketch percentiles are single-pass, fixed-
# memory, associative partial aggregates: at scale they replace the exact
# expand-based distinct (shuffle per distinct column) and the exact
# percentile (full sort per group).
#
# Oracle anchoring: sketch ESTIMATES are engine-specific (DuckDB's HLL /
# quantile sketches round differently), so the raw estimates cannot be
# hash-compared. The catalog entry instead emits within-tolerance BOOLEANS —
# |est − exact| ≤ rtol·exact with both sides computed Spark-side in the same
# aggregation — plus the exact group cardinalities. The DuckDB oracle derives
# the identical schema from its own exact computation (its "estimate" is the
# exact value, trivially within bound), so all columns hash-match iff every
# Spark sketch lands within tolerance. ``sketch_stats_raw`` keeps the
# production sketch-only shape (no exact anchors, no expand) for callers and
# for the accuracy suite in tests/test_sketches.py.
# --------------------------------------------------------------------------
def sketch_stats_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape: sketch-only aggregation, no exact anchors.

    No catalog entry runs it: kept as the raw sketch form whose estimates
    tests check against the catalog's hash-checked exact anchors."""
    li = load_table(spark, sf_dir, "lineitem")
    # one quantile sketch evaluated at both fractions (the scalar form builds
    # a separate sketch buffer per call — measured ~2.5x dearer)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_suppkey", rsd=0.02).alias("n_supp_approx"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_part_approx"),
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)"
            ).alias("_pq"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_supp_approx",
            "n_part_approx",
            F.element_at("_pq", 1).alias("p50_approx"),
            F.element_at("_pq", 2).alias("p90_approx"),
            "n_rows",
        )
    )


def a22_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch estimates anchored with BOUNDED-MEMORY checks only — every
    branch here is a production-legal 100 TB shape (round 6 removed the last
    intentionally-unscalable anchor, the O(group)-buffer exact percentile).

    The naive anchored form (rounds 2–4) put two ``countDistinct`` AND two
    exact scalar ``percentile`` in the SAME aggregation as the sketches:
    Catalyst expand-replicates every lineitem row per distinct column, the
    whole aggregate falls back to sort-based, and each scalar percentile
    call buffers the (replicated) values separately — 13.9 s at sf0.1, and
    the exact anchors dominate unboundedly at 100×. Current structure:

    - sketches + row counts: a pure hash aggregate (no expand, no sort),
      with ONE quantile sketch evaluated at both fractions;
    - exact distinct counts: their own standard two-column ``countDistinct``
      aggregate — the expand exists but replicates only (flag, key) pairs
      into hash partials, never into percentile buffers (measured 0.54 s
      alone vs 13.9 s combined);
    - percentile-sketch anchoring by RANK, not by value: the 3-row estimate
      relation broadcasts back onto the pruned (flag, price) scan and a
      second hash aggregate counts rows strictly-below / at-or-below each
      estimate — O(1) state per group. A valid q-quantile v of a group
      satisfies count(<v)/n ≤ q ≤ count(≤v)/n; ``approx_percentile`` at
      accuracy 10000 guarantees rank error ≤ 1e-4, checked here at ±0.005
      (50× slack). Unlike the old exact-percentile anchor (one full value
      buffer per group — unbounded at 100×) this verifies the SAME property
      the sketch claims while every operator stays fixed-memory. Raw sketch
      accuracy against exact values remains pinned at sf0.01 in
      tests/test_sketches.py, where O(group) exactness is affordable.

    The three branches are 3-row aggregates joined on ``l_returnflag``
    (broadcast); each branch scans only its 2–3 pruned columns.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_suppkey", "l_partkey", "l_extendedprice"
    )
    est = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_suppkey", rsd=0.02).alias("supp_est"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("part_est"),
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)"
            ).alias("_pq"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "supp_est",
            "part_est",
            F.element_at("_pq", 1).alias("p50_est"),
            F.element_at("_pq", 2).alias("p90_est"),
            "n_rows",
        )
    )
    cd = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("supp_exact"),
        F.countDistinct("l_partkey").alias("part_exact"),
    )
    # rank-verification branch: broadcast the 3-row estimates onto the scan,
    # then ONE fixed-memory hash aggregate of below/at-or-below counts
    est_b = F.broadcast(
        est.select(
            F.col("l_returnflag").alias("_rf_q"), "p50_est", "p90_est"
        )
    )
    price = F.col("l_extendedprice")
    ranks = (
        li.select("l_returnflag", "l_extendedprice")
        .join(est_b, F.col("l_returnflag").eqNullSafe(F.col("_rf_q")))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("_n"),
            F.sum((price < F.col("p50_est")).cast("long")).alias("_p50_lt"),
            F.sum((price <= F.col("p50_est")).cast("long")).alias("_p50_le"),
            F.sum((price < F.col("p90_est")).cast("long")).alias("_p90_lt"),
            F.sum((price <= F.col("p90_est")).cast("long")).alias("_p90_le"),
        )
    )

    def rank_ok(lt: str, le: str, q: float, tol: float = 0.005):
        n = F.col("_n").cast("double")
        return (F.col(lt) / n <= F.lit(q + tol)) & (
            F.col(le) / n >= F.lit(q - tol)
        )

    # null-safe joins: all three branches are groupBys, so each carries the
    # NULL-flag group (if any); a plain equi-join would silently drop it
    cd_r = cd.withColumnRenamed("l_returnflag", "_rf_cd")
    ranks_r = ranks.withColumnRenamed("l_returnflag", "_rf_rk")
    agg = (
        est.join(cd_r, F.col("l_returnflag").eqNullSafe(F.col("_rf_cd")))
        .drop("_rf_cd")
        .join(ranks_r, F.col("l_returnflag").eqNullSafe(F.col("_rf_rk")))
        .drop("_rf_rk")
    )

    def within(est_c: str, exact_c: str, rtol: float):
        return F.abs(F.col(est_c) - F.col(exact_c)) <= F.lit(rtol) * F.abs(
            F.col(exact_c)
        )

    return agg.select(
        "l_returnflag",
        "n_rows",
        F.col("supp_exact").alias("n_supp"),
        F.col("part_exact").alias("n_part"),
        within("supp_est", "supp_exact", 0.05).alias("supp_within_5pct"),
        within("part_est", "part_exact", 0.05).alias("part_within_5pct"),
        rank_ok("_p50_lt", "_p50_le", 0.5).alias("p50_rank_ok"),
        rank_ok("_p90_lt", "_p90_le", 0.9).alias("p90_rank_ok"),
    )


A22_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part,
       TRUE AS supp_within_5pct,
       TRUE AS part_within_5pct,
       TRUE AS p50_rank_ok,
       TRUE AS p90_rank_ok
FROM lineitem
GROUP BY l_returnflag
"""


QUERIES: dict[str, Q] = {
    "j10_asof_join": Q(
        fn=j10_asof_join,
        oracle=J10_ORACLE,
        ops=("J7", "T1"),
        doc="as-of join (union-window form): latest order at-or-before each event",
    ),
    "a19_grouping_rollup": Q(
        fn=a19_grouping_rollup,
        oracle=A19_ORACLE,
        ops=("A6", "A15"),
        doc="ROLLUP grouping sets + distinct aggregates in one shuffle",
        folds=("r2: a20 (distinct aggregates in-rollup)",),
    ),
    "o05_rank_topn": Q(
        fn=o05_rank_topn,
        oracle=O05_ORACLE,
        ops=("O1", "A11"),
        doc="partitioned ranking window, deterministic tiebreak, top-3",
    ),
    "j11_range_join": Q(
        fn=j11_range_join,
        oracle=J11_ORACLE,
        ops=("J1", "P13"),
        doc="equi-anchored range join: items shipped within 90 days of order date",
    ),
    "j12_full_outer": Q(
        fn=j12_full_outer,
        oracle=J12_ORACLE,
        ops=("J8",),
        doc="full-outer reconciliation of pre-aggregated sides",
    ),
    "a21_percentiles": Q(
        fn=a21_percentiles,
        oracle=A21_ORACLE,
        ops=("A11",),
        doc="exact interpolated percentiles per group (p50/p90/p99)",
    ),
    "set1_key_populations": Q(
        fn=set1_key_populations,
        oracle=SET1_ORACLE,
        ops=("J8",),
        doc="set ops (intersect/except/union) over distinct key populations",
    ),
    "a22_sketch_stats": Q(
        fn=a22_sketch_stats,
        oracle=A22_ORACLE,  # hash-checkable via within-tolerance booleans;
        # raw sketch accuracy is additionally pinned in tests/test_sketches.py
        ops=("A15",),
        doc="HLL++ distinct + quantile-sketch percentiles (scale path)",
    ),
}
