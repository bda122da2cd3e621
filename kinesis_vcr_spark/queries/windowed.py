"""Windowed / sequence analytics over the events and orders tables —
lag-based inter-event gaps, NTILE deciles, an equi+range self-join,
ordered path aggregation, and exact distinct counting.

Parity rules (see queries/__init__ docstring): time math on exact int64
nanoseconds (``ts_ns``), derived ratios rounded once at 6 dp, money in
DECIMAL(18,4); every window that feeds a value comparison is totally
ordered (explicit tiebreak columns) so both engines compute identical
frames.

Scale posture:

- per-user windows (gaps, paths) shuffle once on ``user_id`` and sort
  within partitions — the standard sessionization shape; skewed power
  users hot-spot a partition, inherent to the semantics (salt + re-merge
  if a single user exceeds a partition).
- ``order_value_deciles`` ranks via ``operators/quantiles.exact_ntile``
  — adaptive between a plain window (small inputs, one cheap sort) and
  a fully distributed static-log-block rank with an O(blocks) offset
  prefix-sum (large inputs) — exact NTILE semantics on both paths.
- the views-before-purchase join is an equi-join on ``user_id`` with a
  range residual — shuffles both sides once on the key; the range
  predicate filters inside the joined partition (no cross join, no
  interval explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_vcr_spark.queries import QuerySpec, register
from kinesis_vcr_spark.tables import load_table

DEC = "decimal(18,4)"


# --- per-user inter-event gaps (LAG) ---


def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: event count, mean and max gap between consecutive
    events in seconds. Gap math on exact int64 nanoseconds; the window
    is totally ordered by (ts_ns, event_id) so ties are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    # exact integer truncation to micros — DuckDB's TIMESTAMP is micro-
    # precision, so both engines see identical int64 microsecond values
    # (float division of ~1e18 ns would lose ulps; `div` stays integral)
    ts_us = F.expr("ts_ns div 1000")
    w = Window.partitionBy("user_id").orderBy(ts_us, "event_id")
    gaps = ev.select(
        "user_id",
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                (F.sum("gap_us") / F.lit(1e6)) / F.count("gap_us"), 6
            ).alias("avg_gap_s"),
            F.round(F.max("gap_us") / F.lit(1e6), 6).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


GAPS_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS gap_us
  FROM events
)
SELECT user_id, count(*) AS n_events,
       round(sum(gap_us) / 1e6 / count(gap_us), 6) AS avg_gap_s,
       round(max(gap_us) / 1e6, 6) AS max_gap_s
FROM g GROUP BY user_id ORDER BY user_id
"""


# --- order value deciles (global NTILE) ---


def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) over all orders by total price (tiebreak o_orderkey →
    total order → identical bucket boundaries in both engines).

    Ranks via :func:`kinesis_vcr_spark.operators.quantiles.exact_ntile`
    — adaptive: a plain window at fixture scale (one small sort is
    cheapest), switching to the fully distributed static-log-block +
    offset-prefix-sum rank above ~4M rows, value-identical on both
    paths. r01-r03 used an unconditional global window (the one
    non-distributed plan left in the registry by r03's verdict)."""
    from kinesis_vcr_spark.operators.quantiles import exact_ntile

    od = load_table(spark, sf_dir, "orders")
    return (
        exact_ntile(
            od.select("o_totalprice", "o_orderkey"),
            ["o_totalprice", "o_orderkey"],
            10,
            ntile_col="decile",
        )
        .select(
            "decile", F.col("o_totalprice").cast(DEC).alias("price")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("price").cast("double").alias("min_price"),
            F.max("price").cast("double").alias("max_price"),
            F.round(F.sum("price"), 4).cast("double").alias("sum_price"),
        )
        .orderBy("decile")
    )


DECILES_SQL = """
WITH ranked AS (
  SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price
  FROM orders
)
SELECT decile, count(*) AS n_orders,
       CAST(min(price) AS DOUBLE) AS min_price,
       CAST(max(price) AS DOUBLE) AS max_price,
       CAST(round(sum(price), 4) AS DOUBLE) AS sum_price
FROM ranked GROUP BY decile ORDER BY decile
"""


# --- views in the hour before each purchase (equi + range self-join) ---


def views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase: how many views the same user made in the
    preceding hour (exclusive of the purchase instant). Equi-join on
    user_id with a range residual — one shuffle, no interval explosion."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600 * 1_000_000
    ts_us = F.expr("ts_ns div 1000")  # micro-exact on both engines
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("buyer_id"),
        ts_us.alias("buy_us"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("viewer_id"), ts_us.alias("view_us")
    )
    joined = buys.join(
        views,
        (F.col("viewer_id") == F.col("buyer_id"))
        & (F.col("view_us") >= F.col("buy_us") - F.lit(hour_us))
        & (F.col("view_us") < F.col("buy_us")),
        "left",
    )
    return (
        joined.groupBy("purchase_id", "buyer_id")
        .agg(F.count("view_us").alias("n_views_1h"))
        .orderBy("purchase_id")
    )


VIEWS_SQL = """
SELECT p.event_id AS purchase_id, p.user_id AS buyer_id,
       count(v.ts) AS n_views_1h
FROM events p
LEFT JOIN events v
  ON v.event_type = 'view' AND v.user_id = p.user_id
 AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
 AND epoch_us(v.ts) < epoch_us(p.ts)
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
ORDER BY purchase_id
"""


# --- ordered per-user event path (string aggregation) ---


def user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's full event-type sequence as 'view->click->…', ordered
    by (ts_ns, event_id). Implemented as collect_list of (ts, id, type)
    structs → array_sort → join: one shuffle on user_id, sort inside the
    aggregate buffer (struct order = field order, giving the same total
    order as the SQL's ORDER BY)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.expr("ts_ns div 1000").alias("ts_us"),
                                "event_id",
                                "event_type",
                            )
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                "->",
            ).alias("path"),
        )
        .orderBy("user_id")
    )


PATHS_SQL = """
SELECT user_id, count(*) AS n_events,
       string_agg(event_type, '->'
                  ORDER BY epoch_us(ts), event_id) AS path
FROM events GROUP BY user_id ORDER BY user_id
"""


# --- exact distinct users per day and type ---


def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT user_id) per (day, event_type) — expands to
    a two-phase distinct aggregate (partial dedup before the shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_type"
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("dt", "event_type")
    )


DISTINCT_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, event_type,
       count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY 1, 2 ORDER BY dt, event_type
"""


register(QuerySpec("user_event_gaps", user_event_gaps, GAPS_SQL,
                   "per-user inter-event gap stats via LAG on exact ns"))
register(QuerySpec("order_value_deciles", order_value_deciles, DECILES_SQL,
                   "NTILE(10) price deciles with deterministic tiebreak"))
register(QuerySpec("views_before_purchase", views_before_purchase, VIEWS_SQL,
                   "views in the hour before each purchase (equi+range join)"))
register(QuerySpec("user_event_paths", user_event_paths, PATHS_SQL,
                   "ordered event-type path per user (string aggregation)"))
register(QuerySpec("distinct_users_daily", distinct_users_daily, DISTINCT_SQL,
                   "exact distinct users per day/type"))


# ---------------------------------------------------------------------------
# bucketed interval join (no equi key — the case Spark plans as a
# nested-loop join; operators/rangejoin.py turns it into an equi-join)
# ---------------------------------------------------------------------------

_HOUR_NS = 3_600_000_000_000
_ATTR_WINDOW_NS = 2 * _HOUR_NS


def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global attribution windows: every purchase opens a 2-hour window
    [ts, ts+2h); count views (any user) landing inside each window via
    the bucketed interval join. No equi key — the naive plan is
    O(purchases x views) BroadcastNestedLoopJoin; the bucketed plan is
    a plain equi-join on hour buckets."""
    from kinesis_vcr_spark.operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    intervals = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts_ns").alias("start_ns"),
        (F.col("ts_ns") + _ATTR_WINDOW_NS).alias("end_ns"),
    )
    points = ev.where(F.col("event_type") == "view").select(
        F.col("ts_ns").alias("v_ts"), F.col("user_id").alias("viewer")
    )
    # dense domain: every bucket holds many views AND many purchase
    # windows, so join output >> join input — pin the join parallelism
    # (AQE would coalesce the few-MB input shuffle to a handful of
    # tasks that then produce ~500 output rows per input row)
    joined = interval_join(
        points,
        intervals,
        "v_ts",
        "start_ns",
        "end_ns",
        bucket_width=_HOUR_NS,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    # Two-level aggregate instead of count + countDistinct in one agg:
    # the mixed form makes Catalyst Expand-duplicate every joined row
    # (2× the shuffle at the join-output scale — the r05 sf1.0 run
    # measured join output growing ~100× with event density). Level 1
    # shuffles (purchase, viewer) once with map-side combine; level 2
    # is purchase-sized. Same results, about half the shuffled bytes.
    pair_counts = joined.groupBy("purchase_id", "viewer").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        pair_counts.groupBy("purchase_id")
        .agg(
            F.sum("c").alias("n_views"),
            F.count(F.lit(1)).alias("n_viewers"),
        )
        .orderBy("purchase_id")
    )


INTERVAL_JOIN_SQL = f"""
WITH p AS (
  SELECT event_id AS purchase_id, epoch_ns(ts) AS s,
         epoch_ns(ts) + {_ATTR_WINDOW_NS} AS e
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT epoch_ns(ts) AS t, user_id FROM events WHERE event_type = 'view'
)
SELECT purchase_id, count(*) AS n_views,
       count(DISTINCT user_id) AS n_viewers
FROM v JOIN p ON v.t >= p.s AND v.t < p.e
GROUP BY purchase_id ORDER BY purchase_id
"""


register(QuerySpec("interval_join_attribution", interval_join_attribution,
                   INTERVAL_JOIN_SQL,
                   "bucketed interval join: views inside 2h purchase windows"))


# ---------------------------------------------------------------------------
# skew-safe top-k per group (operators/topk.py two-phase refinement)
# ---------------------------------------------------------------------------


def topk_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three most recent events per event type over the RAW event rows
    via the two-phase salted top-k — the plan that survives a hot event
    type at 100 TB where a plain window serializes the type through one
    task. Total order (ts_ns desc, event_id asc) makes it oracle-exact."""
    from kinesis_vcr_spark.operators.topk import topk_per_group

    ev = load_table(spark, sf_dir, "events")
    top = topk_per_group(
        ev.select("event_type", "event_id", "user_id", "ts_ns"),
        ["event_type"],
        [F.col("ts_ns").desc(), F.col("event_id")],
        k=3,
        salt_factor=8,
        rank_col="rank",
    )
    return top.select(
        "event_type",
        "rank",
        "event_id",
        "user_id",
        F.date_format(
            F.expr("CAST(ts_ns div 1000000000 AS TIMESTAMP)"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ts_s"),
    ).orderBy("event_type", "rank")


TOPK_SQL = """
SELECT event_type, rank, event_id, user_id, ts_s
FROM (
  SELECT event_type, event_id, user_id,
         strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY epoch_ns(ts) DESC, event_id
         ) AS INT) AS rank
  FROM events
)
WHERE rank <= 3
ORDER BY event_type, rank
"""


register(QuerySpec("topk_recent_events", topk_recent_events, TOPK_SQL,
                   "skew-safe two-phase top-3 most recent events per type"))
