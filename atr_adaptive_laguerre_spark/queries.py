"""Driver-facing query catalog.

Each entry pairs a Spark DataFrame program with an ANSI-SQL twin that
DuckDB runs on the same parquet tables (the driver's correctness gate).
Queries are grouped by the SURVEY §2 operator family they demonstrate.

Conventions keeping the value-hash comparison stable across engines:

* every computed column is aliased identically on both sides;
* floating aggregates are rounded to 6 decimals on both sides;
* timestamps returned to the driver are converted to epoch microseconds
  (bigint) on both sides;
* deterministic ORDER BY on both sides (driver sorts anyway; belt and
  braces).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.operators import _r6, _u6

#: the ONE config the IC-sweep query and its DuckDB twin both run with
#: (ADVICE r3: define it once so the pair cannot drift)
IC_SWEEP_CFG = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                            atr_period=14)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw scan — deliberately NOT the operators/io.read_table
    parallelism guard.  Measured both ways at sf0.1 (r4): every
    headline catalog query here is exchange-first (groupBy / join /
    window directly on the scan), so its first shuffle already fans the
    table out to all cores and a round-robin pre-repartition just adds
    a full extra pass — 2.0x slower on the five window queries (8.1 s
    vs 4.0 s min-of-5).  The guard wins only where heavy NARROW work
    sits between scan and first exchange (shingling, tokenization,
    regex — the operator library's 1.7x suite win); there it stays."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _us(col):
    """Epoch microseconds of a TIMESTAMP_NTZ column, timezone-independent
    (parquet timestamp[us] loads as NTZ in Spark 4).
    SQL twin: epoch_us(ts)."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col)


def _ordered(df: DataFrame, *cols) -> DataFrame:
    """Final global ORDER BY behind a lazy ``localCheckpoint``.

    A range exchange first runs a boundary-sampling job over its child,
    recomputing the whole upstream stage (window/aggregate) once before
    the real shuffle-write pass recomputes it again.  Materializing the
    child once (guide §3.3 plan truncation) makes the sampling pass read
    the cached partitions instead.  Applied only where an interleaved
    A/B at sf1 showed the cache cost beats the recompute (heavy window
    aggregates: rolling stats −17%, sessionize −7%, true_range −5%);
    cheap-to-recompute windows (lag/lead, as-of, ffill) keep a plain
    orderBy.  Lazy (eager=False), so nothing runs at plan-build time and
    every invocation recomputes from the parquet inputs; rows and order
    are identical to a plain ``orderBy``."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


def _asof_pack_key():
    """Scalar (DECIMAL(38,0)) encoding of the lexicographic ordering
    struct(ts, event_id): ts_us * 10^18 + event_id.  Identical total
    order for 0 <= event_id < 10^18 and ts >= epoch (both hold for every
    generated corpus; event_id is a row id, ts is a modern timestamp).
    Why: min_by/max_by with a *struct* ordering key put a struct in the
    aggregation buffer, which is not UnsafeRow-mutable, so the whole
    aggregate falls back to SortAggregate (full pre-shuffle sort of the
    table); with a scalar key both buffer fields are mutable and the
    planner keeps HashAggregate — measured 2.83 -> 2.25 s at sf1 with
    bit-identical results."""
    return (_us(F.col("ts")).cast("decimal(38,0)")
            * F.lit(1000000000000000000).cast("decimal(38,0)")
            + F.col("event_id").cast("decimal(38,0)"))


# ---------------------------------------------------------------------------
# flagship: tokenized documents -> core RSI features (kernel path; rows-only)
# ---------------------------------------------------------------------------

def _quantized(df: DataFrame) -> DataFrame:
    """Quantize every double column through the cross-engine rounder so
    the exact value hash tolerates sub-1e-6 op-order residue; key columns
    pass through untouched.  NaN must bypass the rounder: Spark's
    floor(double) returns BIGINT, which silently turns NaN into 0
    (DuckDB's floor keeps NaN a double)."""
    def q(name):
        c = F.col(name)
        return F.when(F.isnan(c), c).otherwise(_r6(c)).alias(name)

    return df.select(*[
        q(f.name) if f.dataType.simpleString() == "double" else F.col(f.name)
        for f in df.schema.fields])


def q_core_rsi_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize documents Spark-natively (portable md5 tokens), run the
    per-entity recurrence kernel, return long-form features quantized to
    1e-6.  DuckDB twin: a recursive CTE carrying the identical per-step
    state (oracles.oracle_core_rsi) — the sequential Laguerre recurrence
    is SQL-expressible after all."""
    from atr_adaptive_laguerre_spark.engine.features_job import core_features_long
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = tokenize_documents_portable(docs)
    return _quantized(core_features_long(tok, FeatureConfig(atr_period=14)))


def q_features_43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 43-column single-interval feature expansion (F1-F12) over the
    tokenized documents, quantized to 1e-6.  DuckDB twin: recursive-CTE
    core + op-order-mirrored window SQL (oracles.oracle_features_43);
    parity vs the pandas oracle additionally covered by
    tests/test_expander.py + tests/test_spark_features.py."""
    from atr_adaptive_laguerre_spark.engine.features_job import features_long
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    return _quantized(features_long(tokenize_documents_portable(docs),
                                    FeatureConfig(atr_period=14)))


def q_features_121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 121-column multi-interval pipeline (resample x3, positional
    ffill alignment, 40 cross-interval interactions, redundancy filter) —
    the reference's fit_transform_features multi-interval branch,
    quantized to 1e-6 (DuckDB twin: oracles.oracle_features_121)."""
    from atr_adaptive_laguerre_spark.engine.features_job import features_long
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    cfg = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                       atr_period=14)
    return _quantized(features_long(tokenize_documents_portable(docs), cfg))



def q_rangebar_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rangebar-plugin adapter surface: the curated 6-column laguerre_*
    subset (projection/rename over the 43-feature expansion), quantized
    to 1e-6 (reference rangebar_plugin.py:39-179)."""
    from atr_adaptive_laguerre_spark.adapters import enrich_rangebars
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    return _quantized(
        enrich_rangebars(tokenize_documents_portable(docs),
                         FeatureConfig(atr_period=14)))


def q_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exness Phase7 adapter surface: derive the 3 binary session flags
    from event timestamps (fixed-offset UTC windows) and validate via the
    adapter's {0,1} contract (reference data/exness_adapter.py:34-133)."""
    from atr_adaptive_laguerre_spark.adapters import (
        extract_session_features, with_session_flags,
    )

    ev = _t(spark, sf_dir, "events")
    flagged = with_session_flags(ev, "ts")
    extract_session_features(flagged)      # contract check (raises if bad)
    return (flagged.select("event_id", "is_nyse_session", "is_lse_session",
                           "is_xtks_session")
            .orderBy("event_id"))


ORACLE_SESSION_FEATURES = """
SELECT event_id,
       CASE WHEN (EXTRACT(hour FROM ts)::DOUBLE
                  + EXTRACT(minute FROM ts)::DOUBLE / 60) >= 14.5
             AND (EXTRACT(hour FROM ts)::DOUBLE
                  + EXTRACT(minute FROM ts)::DOUBLE / 60) < 21.0
            THEN 1 ELSE 0 END AS is_nyse_session,
       CASE WHEN (EXTRACT(hour FROM ts)::DOUBLE
                  + EXTRACT(minute FROM ts)::DOUBLE / 60) >= 8.0
             AND (EXTRACT(hour FROM ts)::DOUBLE
                  + EXTRACT(minute FROM ts)::DOUBLE / 60) < 16.5
            THEN 1 ELSE 0 END AS is_lse_session,
       CASE WHEN (EXTRACT(hour FROM ts)::DOUBLE
                  + EXTRACT(minute FROM ts)::DOUBLE / 60) >= 0.0
             AND (EXTRACT(hour FROM ts)::DOUBLE
                  + EXTRACT(minute FROM ts)::DOUBLE / 60) < 6.0
            THEN 1 ELSE 0 END AS is_xtks_session
FROM events
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# relational / aggregation layer (SURVEY §2.6, §2.7)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation with filter pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    agg = (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(_u6(F.col("l_quantity"))).alias("qty_u"),
                F.sum(_u6(F.col("l_extendedprice"))).alias("base_u"),
                F.sum(_u6(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")))).alias("disc_u"),
                F.sum(_u6(F.col("l_discount"))).alias("dsum_u"),
                F.count(F.lit(1)).alias("count_order")))
    return (agg.select(
        "l_returnflag", "l_linestatus",
        (F.col("qty_u") / F.lit(1000000.0)).alias("sum_qty"),
        (F.col("base_u") / F.lit(1000000.0)).alias("sum_base_price"),
        (F.col("disc_u") / F.lit(1000000.0)).alias("sum_disc_price"),
        _r6(F.col("qty_u").cast("double") / F.col("count_order")
            / F.lit(1000000.0)).alias("avg_qty"),
        _r6(F.col("dsum_u").cast("double") / F.col("count_order")
            / F.lit(1000000.0)).alias("avg_disc"),
        "count_order")
        .orderBy("l_returnflag", "l_linestatus"))


#: per-row terms are micro-quantized to BIGINT before the SUM, so the
#: totals are exact integers in any accumulation order — partial-agg /
#: shuffle-fetch order cannot move the 6th decimal in either engine
ORACLE_PRICING_SUMMARY = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(FLOOR(l_quantity * 1000000 + 0.5) AS BIGINT)) AS qty_u,
         SUM(CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)) AS base_u,
         SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
                  AS BIGINT)) AS disc_u,
         SUM(CAST(FLOOR(l_discount * 1000000 + 0.5) AS BIGINT)) AS dsum_u,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       qty_u / 1000000.0 AS sum_qty,
       base_u / 1000000.0 AS sum_base_price,
       disc_u / 1000000.0 AS sum_disc_price,
       FLOOR(qty_u::DOUBLE / count_order / 1000000.0 * 1000000 + 0.5)
         / 1000000 AS avg_qty,
       FLOOR(dsum_u::DOUBLE / count_order / 1000000.0 * 1000000 + 0.5)
         / 1000000 AS avg_disc,
       count_order
FROM t
ORDER BY l_returnflag, l_linestatus
"""


def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join with broadcast dimensions (region/nation/customer)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (orders
            .join(F.broadcast(cust),
                  orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"),
                     F.col("n_name").alias("nation_name"))
            .agg((F.sum(_u6(F.col("o_totalprice")))
                  / F.lit(1000000.0)).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
            .orderBy("region_name", "nation_name"))


ORACLE_STAR_JOIN_REVENUE = """
SELECT r_name AS region_name, n_name AS nation_name,
       SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT))
         / 1000000.0 AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY region_name, nation_name
"""


# ---------------------------------------------------------------------------
# lag/lead & window layer (SURVEY §2.4 A4)
# ---------------------------------------------------------------------------

def _body_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(
        "event_id", "user_id",
        _us(F.col("ts")).alias("ts_us"),
        _r6(F.col("value")).alias("value"),
        _r6(F.lag("value", 1).over(w)).alias("value_lag1"),
        _r6(F.lag("value", 5).over(w)).alias("value_lag5"),
        _r6(F.lead("value", 1).over(w)).alias("value_lead1"),
        _r6(F.col("value") - F.coalesce(F.lag("value", 1).over(w),
                                        F.first("value").over(w)))
        .alias("value_change_1")))


def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain orderBy: the lag/lead window is cheap to recompute, so the
    # localCheckpoint materialization costs more than the range
    # exchange's sampling recompute saves (interleaved A/B at sf1:
    # plain 1.34 s vs ckpt 1.50 s min-of-6)
    return _body_events_lag_lead(spark, sf_dir).orderBy("event_id")


ORACLE_EVENTS_LAG_LEAD = """
SELECT event_id, user_id,
       epoch_us(ts) AS ts_us,
       FLOOR((value) * 1000000 + 0.5) / 1000000 AS value,
       FLOOR((LAG(value, 1) OVER w) * 1000000 + 0.5) / 1000000  AS value_lag1,
       FLOOR((LAG(value, 5) OVER w) * 1000000 + 0.5) / 1000000  AS value_lag5,
       FLOOR((LEAD(value, 1) OVER w) * 1000000 + 0.5) / 1000000 AS value_lead1,
       FLOOR((value - COALESCE(LAG(value, 1) OVER w,
                              FIRST_VALUE(value) OVER w)) * 1000000 + 0.5) / 1000000 AS value_change_1
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def _body_events_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean/std/min/max over the last 20 events per user — the
    Spark-native form of F6 (reference feature_expander.py:339-383),
    including the std==0 -> 1 z-score guard and min_periods gate."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-19, 0))
    std = F.stddev_samp("value").over(w)
    std_safe = F.when(F.coalesce(std, F.lit(0.0)) == 0.0, 1.0).otherwise(std)
    mean = F.avg("value").over(w)
    return (ev.select(
        "event_id", "user_id",
        _r6(mean).alias("roll_mean_20"),
        _r6(F.coalesce(std, F.lit(0.0))).alias("roll_std_20"),
        _r6(F.max("value").over(w) - F.min("value").over(w)).alias("roll_range_20"),
        _r6((F.col("value") - mean) / std_safe).alias("roll_zscore_20"),
        F.count(F.lit(1)).over(w).alias("n_in_window")))


def q_events_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ordered(_body_events_rolling_stats(spark, sf_dir), "event_id")


ORACLE_EVENTS_ROLLING_STATS = """
SELECT event_id, user_id,
       FLOOR((AVG(value) OVER w) * 1000000 + 0.5) / 1000000 AS roll_mean_20,
       FLOOR((COALESCE(STDDEV_SAMP(value) OVER w, 0)) * 1000000 + 0.5) / 1000000 AS roll_std_20,
       FLOOR((MAX(value) OVER w - MIN(value) OVER w) * 1000000 + 0.5) / 1000000 AS roll_range_20,
       FLOOR(((value - AVG(value) OVER w)
             / (CASE WHEN COALESCE(STDDEV_SAMP(value) OVER w, 0) = 0
                     THEN 1 ELSE STDDEV_SAMP(value) OVER w END)) * 1000000 + 0.5) / 1000000
           AS roll_zscore_20,
       COUNT(*) OVER w AS n_in_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def _body_true_range_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C2 expressed Spark-natively on a per-user price proxy:
    TR = max(high, prev_close) - min(low, prev_close) (first bar high-low),
    ATR = mean of TR over last 14 rows (warm-up denominator = rows so far,
    which a bounded-window AVG gives for free).  Reference
    core/true_range.py:22-52, core/atr.py:31-62."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    watr = w.rowsBetween(-13, 0)
    close = F.col("value")
    high = F.col("value") * 1.01
    low = F.col("value") * 0.99
    prev_close = F.lag(close).over(w)
    tr = F.when(prev_close.isNull(), high - low).otherwise(
        F.greatest(high, prev_close) - F.least(low, prev_close))
    ev2 = ev.select("event_id", "user_id", "ts", tr.alias("tr"))
    return (ev2.select(
        "event_id", "user_id",
        _r6(F.col("tr")).alias("true_range"),
        _r6(F.avg("tr").over(watr)).alias("atr_14")))


def q_true_range_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ordered(_body_true_range_atr(spark, sf_dir), "event_id")


ORACLE_TRUE_RANGE_ATR = """
WITH pr AS (
  SELECT event_id, user_id, ts,
         value * 1.01 AS high, value * 0.99 AS low, value AS close,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_close
  FROM events
), tr AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev_close IS NULL THEN high - low
              ELSE GREATEST(high, prev_close) - LEAST(low, prev_close)
         END AS tr
  FROM pr
)
SELECT event_id, user_id,
       FLOOR((tr) * 1000000 + 0.5) / 1000000 AS true_range,
       FLOOR((AVG(tr) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) * 1000000 + 0.5) / 1000000
           AS atr_14
FROM tr
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# sessionization (SURVEY §2.5 R3) and as-of join (§2.4 A1/A2)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def _body_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to the
    previous event of the same user exceeds 30 minutes."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _us(F.col("ts")) - _us(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60_000_000),
                      1).otherwise(0)
    ev2 = ev.withColumn("new_sess", new_sess)
    sess_id = F.sum("new_sess").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0))
    return ev2.select("event_id", "user_id",
                      sess_id.cast("bigint").alias("session_id"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ordered(_body_events_sessionize(spark, sf_dir), "event_id")


ORACLE_EVENTS_SESSIONIZE = f"""
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > {SESSION_GAP_MIN} * 60000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
FROM g
ORDER BY event_id
"""


def _body_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join: for each event, the latest order of the
    same customer with o_orderdate <= ts (non-strict).  Implemented
    Spark-natively with the union+window trick (no per-row Python):
    union both sides on a common time axis, then last(order value,
    ignorenulls) over (key ORDER BY time, is_event) — the as-of match.
    Oracle: DuckDB's native ASOF JOIN.  SURVEY §2.4 A1."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")

    left = ev.select(F.col("user_id").alias("k"),
                     _us(F.col("ts")).alias("t"),
                     F.lit(1).alias("is_event"),
                     "event_id",
                     F.lit(None).cast("bigint").alias("o_orderkey_r"),
                     F.lit(None).cast("double").alias("o_totalprice_r"))
    right = orders.select(F.col("o_custkey").alias("k"),
                          _us(F.col("o_orderdate")).alias("t"),
                          F.lit(0).alias("is_event"),
                          F.lit(None).cast("bigint").alias("event_id"),
                          F.col("o_orderkey").alias("o_orderkey_r"),
                          F.col("o_totalprice").alias("o_totalprice_r"))
    unioned = left.unionByName(right)
    # order: time asc, right-side rows before events at equal time
    # (is_event=0 sorts first) => events at t match orders with t' <= t.
    # Tie-break equal-time orders by o_orderkey so the "latest" is
    # deterministic: take the max orderkey among equal times.
    w = (Window.partitionBy("k")
         .orderBy("t", "is_event", F.col("o_orderkey_r").asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, 0))
    matched = unioned.select(
        "k", "t", "is_event", "event_id",
        F.last("o_orderkey_r", ignorenulls=True).over(w).alias("last_orderkey"),
        F.last("o_totalprice_r", ignorenulls=True).over(w).alias("last_totalprice"),
    ).filter(F.col("is_event") == 1)
    return (matched.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("last_orderkey").alias("o_orderkey"),
        _r6(F.col("last_totalprice")).alias("o_totalprice")))


def q_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain orderBy: A/B at sf1 read plain 1.47 s vs ckpt 1.62 s —
    # caching the 1M-row as-of result costs more than re-running the
    # union+window for the sort's sampling pass
    return _body_asof_join_orders(spark, sf_dir).orderBy("event_id")


ORACLE_ASOF_JOIN_ORDERS = """
WITH o AS (
  -- dedupe equal (custkey, orderdate) pairs to the max orderkey so the
  -- as-of match is deterministic, mirroring the Spark tie-break
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders
  GROUP BY o_custkey, o_orderdate
), o2 AS (
  SELECT o.o_custkey, o.o_orderdate, o.o_orderkey, orders.o_totalprice
  FROM o JOIN orders USING (o_orderkey)
)
SELECT e.event_id, e.user_id,
       o2.o_orderkey,
       FLOOR((o2.o_totalprice) * 1000000 + 0.5) / 1000000 AS o_totalprice
FROM events e
ASOF LEFT JOIN o2
  ON e.user_id = o2.o_custkey AND e.ts >= o2.o_orderdate
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# resampling (SURVEY §2.5 R1/R2)
# ---------------------------------------------------------------------------

def _body_resample_ohlcv_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window OHLCV resample of the per-user value stream:
    open=first, high=max, low=min, close=last, volume=count.  Epoch-anchored
    1h windows (same binning as pandas resample on aligned grids);
    min_by/max_by give deterministic first/last.  Reference
    multi_interval.py:165-225 (R1)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.floor(_us(F.col("ts")) / F.lit(3_600_000_000))
              .alias("hour_bucket"))
    key = _asof_pack_key()          # scalar twin of struct(ts, event_id)
    return (ev.groupBy("user_id", bucket)
            .agg(_r6(F.min_by("value", key)).alias("open"),
                 _r6(F.max("value")).alias("high"),
                 _r6(F.min("value")).alias("low"),
                 _r6(F.max_by("value", key)).alias("close"),
                 F.count(F.lit(1)).alias("n_bars")))


def q_resample_ohlcv_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain orderBy: ckpt was a wash here (A/B 2.64 vs 2.62 s) — the
    # aggregate already shrank the sort input; keep the simpler plan
    return (_body_resample_ohlcv_1h(spark, sf_dir)
            .orderBy("user_id", "hour_bucket"))


ORACLE_RESAMPLE_OHLCV_1H = """
WITH t AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_bucket,
         value,
         ROW_NUMBER() OVER (PARTITION BY user_id,
                            FLOOR(epoch_us(ts) / 3600000000)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id,
                            FLOOR(epoch_us(ts) / 3600000000)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, hour_bucket,
       FLOOR((MAX(CASE WHEN rn_a = 1 THEN value END)) * 1000000 + 0.5) / 1000000 AS open,
       FLOOR((MAX(value)) * 1000000 + 0.5) / 1000000 AS high,
       FLOOR((MIN(value)) * 1000000 + 0.5) / 1000000 AS low,
       FLOOR((MAX(CASE WHEN rn_d = 1 THEN value END)) * 1000000 + 0.5) / 1000000 AS close,
       COUNT(*) AS n_bars
FROM t
GROUP BY user_id, hour_bucket
ORDER BY user_id, hour_bucket
"""


# ---------------------------------------------------------------------------
# backfill / forward-fill (SURVEY §2.4 A1/A3)
# ---------------------------------------------------------------------------

def _body_events_ffill_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill a sparse column (value only on 'purchase' events) to
    all events of the user, then backfill leading nulls — the A1+A3
    alignment pair (reference multi_interval.py:227-255,
    atr_adaptive_rsi.py:1045-1049)."""
    ev = _t(spark, sf_dir, "events")
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    wf = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    wb = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(0, Window.unboundedFollowing))
    ff = F.last(sparse, ignorenulls=True).over(wf)
    filled = F.coalesce(ff, F.first(sparse, ignorenulls=True).over(wb))
    return ev.select("event_id", "user_id",
                     _r6(ff).alias("purchase_ffill"),
                     _r6(filled).alias("purchase_filled"))


def q_events_ffill_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain orderBy: A/B at sf1 plain 1.05 s vs ckpt 1.13 s min-of-6
    return _body_events_ffill_bfill(spark, sf_dir).orderBy("event_id")


ORACLE_EVENTS_FFILL_BFILL = """
WITH s AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'purchase' THEN value END AS sparse
  FROM events
)
SELECT event_id, user_id,
       FLOOR((LAST_VALUE(sparse IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000000 + 0.5) / 1000000
           AS purchase_ffill,
       FLOOR((COALESCE(
             LAST_VALUE(sparse IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             FIRST_VALUE(sparse IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))) * 1000000 + 0.5) / 1000000
           AS purchase_filled
FROM s
ORDER BY event_id
"""


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the integer ``k`` out of the
    ``props`` JSON payload with Spark's native JSON path expression
    (``get_json_object`` — Catalyst codegen, no Python), then aggregate
    per (event_type, k-decile).  The web-pipeline shape: event payloads
    land as JSON strings and the extraction must stay in-plan so the
    scan's column pruning and the partial aggregation both survive —
    at 100 TB the JSON parse is the map side of ONE shuffle keyed by
    the (low-cardinality) group key, and the per-term micro-quantized
    value sums (``_u6``) keep the cross-partition total exact in any
    fetch order."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (ev.select("event_type", k.alias("k"), "value")
            .withColumn("k_decile", F.floor(F.col("k") / 10).cast("int"))
            .groupBy("event_type", "k_decile")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("k").alias("n_keys"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max"),
                 (F.sum(_u6(F.col("value"))) / F.lit(1000000.0))
                 .alias("sum_value"))
            .orderBy("event_type", "k_decile"))


ORACLE_EVENTS_JSON_EXTRACT = """
WITH e AS (
  SELECT event_type,
         json_extract_string(props, '$.k')::INT AS k,
         value
  FROM events
)
SELECT event_type,
       CAST(FLOOR(k / 10.0) AS INT) AS k_decile,
       COUNT(*) AS n_events,
       COUNT(DISTINCT k) AS n_keys,
       MIN(k) AS k_min,
       MAX(k) AS k_max,
       SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0
         AS sum_value
FROM e
GROUP BY event_type, k_decile
ORDER BY event_type, k_decile
"""


#: ordered conversion steps for the funnel query.
FUNNEL_STEPS = ("view", "click", "purchase")


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED conversion funnel (view -> click -> purchase): per user,
    the first time each step occurred STRICTLY AFTER the previous
    step's first completion — a user who clicked before ever viewing
    has not converted step 2.  Emits one row per funnel stage with the
    user count reaching it and the median stage-entry timestamp.

    The classic product-analytics sequence query, expressed as ONE
    conditional aggregation per user (min ts per event type) + a
    cascade of ordered-time comparisons — no self-joins, no per-event
    window sort: the corpus shuffles ONCE on user_id at event grain,
    everything after is per-user scalar logic on three timestamps.
    Median via the exact percentile on the (stages x users)-bounded
    stage frame."""
    ev = _t(spark, sf_dir, "events")
    firsts = (ev.filter(F.col("event_type").isin(*FUNNEL_STEPS))
              .groupBy("user_id")
              .agg(*[F.min(F.when(F.col("event_type") == s,
                                  _us(F.col("ts"))))
                     .alias(f"t_{s}") for s in FUNNEL_STEPS]))
    t1, t2, t3 = [F.col(f"t_{s}") for s in FUNNEL_STEPS]
    stage1 = t1
    stage2 = F.when(stage1.isNotNull() & t2.isNotNull()
                    & (t2 > stage1), t2)
    stage3 = F.when(stage2.isNotNull() & t3.isNotNull()
                    & (t3 > stage2), t3)
    staged = firsts.select(
        "user_id", stage1.alias("s1"), stage2.alias("s2"),
        stage3.alias("s3"))
    rows = []
    for i, s in enumerate(FUNNEL_STEPS, start=1):
        rows.append(staged.select(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(s).alias("step"),
            F.col(f"s{i}").alias("t")).filter(F.col("t").isNotNull()))
    allst = rows[0]
    for r in rows[1:]:
        allst = allst.unionByName(r)
    # the median of integer microseconds is x.0 or x.5 — exact in a
    # double on both engines, and _r6 would overflow BIGINT at
    # epoch-microsecond magnitude (1.7e15 * 1e6 > 2^63), so it is
    # deliberately NOT quantized
    return (allst.groupBy("stage", "step")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.expr("percentile(t, 0.5)").alias("median_entry_us"))
            .select("stage", "step", "n_users", "median_entry_us")
            .orderBy("stage"))


ORACLE_EVENTS_FUNNEL = f"""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS t_purchase
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
), staged AS (
  SELECT user_id,
         t_view AS s1,
         CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                   AND t_click > t_view THEN t_click END AS s2,
         CASE WHEN (CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                              AND t_click > t_view THEN t_click END)
                   IS NOT NULL
              AND t_purchase IS NOT NULL
              AND t_purchase > (CASE WHEN t_view IS NOT NULL
                                          AND t_click IS NOT NULL
                                          AND t_click > t_view
                                     THEN t_click END)
              THEN t_purchase END AS s3
  FROM firsts
), allst AS (
  SELECT 1::BIGINT AS stage, 'view' AS step, s1 AS t
  FROM staged WHERE s1 IS NOT NULL
  UNION ALL
  SELECT 2::BIGINT, 'click', s2 FROM staged WHERE s2 IS NOT NULL
  UNION ALL
  SELECT 3::BIGINT, 'purchase', s3 FROM staged WHERE s3 IS NOT NULL
)
SELECT stage, step, COUNT(*) AS n_users,
       median(t)::DOUBLE AS median_entry_us
FROM allst
GROUP BY stage, step
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "core_rsi_features": q_core_rsi_features,
    "features_43_single_interval": q_features_43,
    "features_121_multi_interval": q_features_121,
    "rangebar_enrich": q_rangebar_enrich,
    "session_features": q_session_features,
    "pricing_summary": q_pricing_summary,
    "star_join_revenue": q_star_join_revenue,
    "events_lag_lead": q_events_lag_lead,
    "events_rolling_stats": q_events_rolling_stats,
    "true_range_atr": q_true_range_atr,
    "events_sessionize": q_events_sessionize,
    "asof_join_orders": q_asof_join_orders,
    "resample_ohlcv_1h": q_resample_ohlcv_1h,
    "events_ffill_bfill": q_events_ffill_bfill,
    "events_json_extract": q_events_json_extract,
    "events_funnel": q_events_funnel,
}

def _merge_operator_modules() -> None:
    from atr_adaptive_laguerre_spark.operators import (
        curation, dedup, hybrid, multimodal, similarity, text, validation,
        windows_sql,
    )

    for mod in (text, dedup, similarity, multimodal, validation,
                windows_sql, curation, hybrid):
        QUERIES.update(mod.QUERIES)
        ORACLES.update(mod.ORACLES)


def _merge_flagship_oracles() -> None:
    from atr_adaptive_laguerre_spark import oracles as _o

    ORACLES["core_rsi_features"] = _o.oracle_core_rsi()
    ORACLES["features_43_single_interval"] = _o.oracle_features_43()
    ORACLES["features_121_multi_interval"] = _o.oracle_features_121(False)
    ORACLES["features_121_availability"] = _o.oracle_features_121(True)
    ORACLES["rangebar_enrich"] = _o.oracle_rangebar_enrich()
    ORACLES["session_features"] = ORACLE_SESSION_FEATURES
    # the SAME config object the Spark query runs with (ADVICE r3: a
    # cfg mismatch here previously went unnoticed only because the
    # explicit values coincided with the generator's module defaults)
    ORACLES["feature_ic_sweep"] = _o.oracle_feature_ic_sweep(
        cfg=IC_SWEEP_CFG)


ORACLES: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "star_join_revenue": ORACLE_STAR_JOIN_REVENUE,
    "events_lag_lead": ORACLE_EVENTS_LAG_LEAD,
    "events_rolling_stats": ORACLE_EVENTS_ROLLING_STATS,
    "true_range_atr": ORACLE_TRUE_RANGE_ATR,
    "events_sessionize": ORACLE_EVENTS_SESSIONIZE,
    "asof_join_orders": ORACLE_ASOF_JOIN_ORDERS,
    "resample_ohlcv_1h": ORACLE_RESAMPLE_OHLCV_1H,
    "events_ffill_bfill": ORACLE_EVENTS_FFILL_BFILL,
    "events_json_extract": ORACLE_EVENTS_JSON_EXTRACT,
    "events_funnel": ORACLE_EVENTS_FUNNEL,
}


_merge_operator_modules()
_merge_flagship_oracles()


def q_asof_join_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT point-in-time as-of join: latest order with o_orderdate
    strictly BEFORE the event's ts (equal instants excluded — the A2 tie
    semantics, reference atr_adaptive_rsi.py:1017-1021,1036-1040).
    Spark-native union+window: at equal times events sort BEFORE orders
    (is_event=0 for orders sorts after via desc flag), so the running
    `last(order)` seen by an event excludes same-instant orders."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    left = ev.select(F.col("user_id").alias("k"),
                     _us(F.col("ts")).alias("t"),
                     F.lit(0).alias("side"),   # events first at equal t
                     "event_id",
                     F.lit(None).cast("bigint").alias("o_orderkey_r"))
    right = orders.select(F.col("o_custkey").alias("k"),
                          _us(F.col("o_orderdate")).alias("t"),
                          F.lit(1).alias("side"),
                          F.lit(None).cast("bigint").alias("event_id"),
                          F.col("o_orderkey").alias("o_orderkey_r"))
    unioned = left.unionByName(right)
    w = (Window.partitionBy("k")
         .orderBy("t", "side", F.col("o_orderkey_r").asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, 0))
    matched = (unioned.select(
        "k", "side", "event_id",
        F.last("o_orderkey_r", ignorenulls=True).over(w)
        .alias("o_orderkey"))
        .filter(F.col("side") == 0))
    return (matched.select("event_id", F.col("k").alias("user_id"),
                           "o_orderkey")
            .orderBy("event_id"))


ORACLE_ASOF_JOIN_STRICT = """
WITH o AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.o_orderkey
FROM events e
ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts > o.o_orderdate
ORDER BY e.event_id
"""


def q_events_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length + bars-since operators on the event stream — the
    Spark-native form of the reference's cumsum-group idiom (F1
    bars_in_regime, F4 bars_since_*; feature_expander.py:192-194,292-300):
    per user, the length of the current run of same event_type, and the
    number of events since the last 'error'."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)), 1
    ).otherwise(0)
    ev2 = ev.withColumn("chg", changed)
    run_id = F.sum("chg").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0))
    ev3 = ev2.withColumn("run_id", run_id)
    run_len = F.row_number().over(
        Window.partitionBy("user_id", "run_id").orderBy("ts", "event_id"))
    is_err = (F.col("event_type") == "error").cast("int")
    ev4 = ev3.withColumn("is_err", is_err)
    grp = F.sum("is_err").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0))
    ev5 = ev4.withColumn("err_grp", grp)
    since_err = F.sum(1 - F.col("is_err")).over(
        Window.partitionBy("user_id", "err_grp").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0))
    return (ev5.select("event_id", "user_id",
                       run_len.alias("run_length"),
                       since_err.cast("bigint").alias("events_since_error"))
            .orderBy("event_id"))


ORACLE_EVENTS_RUN_LENGTH = """
WITH base AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR event_type != LAG(event_type) OVER w
              THEN 1 ELSE 0 END AS chg,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id,
         SUM(is_err) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS err_grp
  FROM base
)
SELECT event_id, user_id,
       ROW_NUMBER() OVER (PARTITION BY user_id, run_id
                          ORDER BY ts, event_id) AS run_length,
       CAST(SUM(1 - is_err) OVER (PARTITION BY user_id, err_grp
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS events_since_error
FROM runs
ORDER BY event_id
"""

QUERIES["asof_join_strict"] = q_asof_join_strict
ORACLES["asof_join_strict"] = ORACLE_ASOF_JOIN_STRICT
QUERIES["events_run_length"] = q_events_run_length
ORACLES["events_run_length"] = ORACLE_EVENTS_RUN_LENGTH


def q_features_121_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """121-column pipeline with the strict point-in-time availability
    alignment (A2): per-row availability timestamps derived
    deterministically from tokens; equal-availability resampled bars are
    excluded (the reference's v1.0.5 strictness semantics).  Quantized to
    1e-6; DuckDB twin: oracles.oracle_features_121(availability=True);
    leakage additionally covered by tests/test_availability.py and
    tests/test_adversarial_temporal.py."""
    from atr_adaptive_laguerre_spark.engine.features_job import features_long
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    cfg = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                       atr_period=14, availability=True)
    return _quantized(features_long(tokenize_documents_portable(docs), cfg))


QUERIES["features_121_availability"] = q_features_121_availability


def q_feature_ic_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature Spearman IC of the engine's own 121-column feature
    matrix vs the 5-step forward log return of the close proxy — the
    reference's actual IC use case (validation/information_coefficient.py:
    29-145) composed over ``features_long`` output (VERDICT r2 item 2).

    Close is the same sequential cumsum the kernel computes (Spark's
    running-window sum accumulates left-to-right — bit-exact with the
    recursive-CTE csum).  Ranks are ``row_number`` over the quantized
    (value, doc_id, offset) order, so the closed-form Spearman
    ``1 - 6*sum(d^2)/(n*(n^2-1))`` is exact integer arithmetic up to the
    final three float ops — no engine-dependent ``corr()`` accumulation.
    NaN feature values (mult columns of docs shorter than a multiplier)
    drop pairwise, like the reference.

    Scale shape: one linear unpivot (121 rows/input row), then one
    exchange keyed on feature for the two ranks — at 100 TB this metric
    runs over a bounded evaluation sample, not the full corpus, exactly
    as the reference applies it."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for, features_long,
    )
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    k = 5
    docs = _t(spark, sf_dir, "documents")
    cfg = IC_SWEEP_CFG
    feats = features_long(tokenize_documents_portable(docs), cfg)
    # entity key is (source, doc_id) everywhere in the engine — partition
    # the close/forward windows the same way (doc_ids happen to be
    # globally unique in the corpus, but the semantics must not rely on it)
    w = Window.partitionBy("source", "doc_id").orderBy("offset")
    step = (F.col("token") % 997 - 498).cast("double") / F.lit(100.0)
    close = (F.lit(100.0)
             + F.sum(step).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    withc = feats.withColumn("close", close)
    lead = F.lead("close", k).over(w)
    fwd = F.when((F.col("close") > F.lit(0.0)) & (lead > F.lit(0.0)),
                 F.log(lead / F.col("close")))
    base = (withc.withColumn("fwd", fwd)
            .filter(F.col("fwd").isNotNull())
            .withColumn("fwd", _r6(F.col("fwd"))))
    feat_cols = feature_columns_for(cfg)
    melted = base.unpivot(["source", "doc_id", "offset", "fwd"], feat_cols,
                          "feature", "value")
    nn = (melted.filter(~F.isnan("value"))
          .select("feature", "source", "doc_id", "offset",
                  _r6(F.col("value")).alias("value"), "fwd"))
    wf = Window.partitionBy("feature")
    rv = F.row_number().over(
        wf.orderBy(F.col("value").asc(), F.col("source").asc(),
                   F.col("doc_id").asc(),
                   F.col("offset").asc())).cast("long")
    rf = F.row_number().over(
        wf.orderBy(F.col("fwd").asc(), F.col("source").asc(),
                   F.col("doc_id").asc(),
                   F.col("offset").asc())).cast("long")
    ranked = nn.select("feature", rv.alias("rv"), rf.alias("rf"))
    d2 = F.sum((F.col("rv") - F.col("rf"))
               * (F.col("rv") - F.col("rf"))).cast("double")
    n = F.count(F.lit(1)).cast("double")
    ic = F.lit(1.0) - (F.lit(6.0) * d2) / (n * (n * n - F.lit(1.0)))
    return (ranked.groupBy("feature")
            .agg(_r6(ic).alias("spearman_ic"),
                 F.count(F.lit(1)).alias("n_pairs"))
            .filter(F.col("n_pairs") >= 30)
            .orderBy("feature"))


QUERIES["feature_ic_sweep"] = q_feature_ic_sweep


#: pre-ORDER-BY bodies of the _ordered (localCheckpoint) queries, for
#: plan assertions and plans/r06 dumps: the public query's explain shows
#: only "Scan ExistingRDD" + the final range sort after plan truncation,
#: so the interesting physical plan (exchanges, window, aggregate
#: strategy) is only visible on the body.
BENCH_QUERY_BODIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "events_lag_lead": _body_events_lag_lead,
    "events_rolling_stats": _body_events_rolling_stats,
    "true_range_atr": _body_true_range_atr,
    "events_sessionize": _body_events_sessionize,
    "asof_join_orders": _body_asof_join_orders,
    "resample_ohlcv_1h": _body_resample_ohlcv_1h,
    "events_ffill_bfill": _body_events_ffill_bfill,
}
