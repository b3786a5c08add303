"""Spark-native (no-Python) demonstrations of the kernel's window math.

These express the reference's non-standard operators as pure Catalyst
expressions — higher-order functions over windowed ``collect_list`` —
with DuckDB twins, proving the semantics independently of the Arrow
kernel (which remains the production path):

* C3/C4/C5 — ATR min/max over suffix means of the k most-recent TRs,
  adaptive coefficient and gamma (``core/atr.py:64-93``,
  ``core/adaptive.py``, ``core/laguerre_filter.py:89-106``);
* F6 percentile — % of strictly-smaller values among the previous
  window-1 rows, denominator includes the current row
  (``core/_numba_kernel.py:169-202``);
* M9 — data-quality validation: OHLC invariants and timestamp
  monotonicity as filter/count assertions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6

ATR_P = 14
PCT_W = 20


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_atr_adaptive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C5 as pure SQL expressions: true range, rolling-mean ATR, the
    suffix-mean min/max scan (higher-order ``transform`` + ``aggregate``
    over a windowed collect_list, newest first), adaptive coefficient and
    gamma.  The Arrow kernel computes the same quantities sequentially;
    here Catalyst does it relationally."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    high = F.col("value") * 1.01
    low = F.col("value") * 0.99
    prev_c = F.lag("value").over(w)
    tr = F.when(prev_c.isNull(), high - low).otherwise(
        F.greatest(high, prev_c) - F.least(low, prev_c))
    base = ev.select("event_id", "user_id", "ts", tr.alias("tr"))
    wa = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-(ATR_P - 1), 0))
    # newest-first window of TRs
    trs = F.reverse(F.collect_list("tr").over(wa))
    n = F.size(trs)
    # suffix means: mean of the first k elements (k = 1..n)
    suffix_means = F.transform(
        F.sequence(F.lit(1), n),
        lambda k: F.aggregate(F.slice(trs, 1, k), F.lit(0.0),
                              lambda acc, x: acc + x) / k.cast("double"))
    atr = F.element_at(suffix_means, -1)  # mean of all n == rolling mean
    mn = F.array_min(suffix_means)
    mx = F.array_max(suffix_means)
    mx2 = F.greatest(mx, atr)
    mn2 = F.least(mn, atr)
    coeff = F.when(mn2 == mx2, 0.5).otherwise(
        1.0 - (atr - mn2) / (mx2 - mn2))
    gamma = 1.0 - 10.0 / (F.lit(float(ATR_P)) * (coeff + 0.75) + 9.0)
    out = base.select(
        "event_id", "user_id",
        _r6(F.col("tr")).alias("true_range"),
        _r6(atr).alias("atr"),
        _r6(mn).alias("min_atr"),
        _r6(mx).alias("max_atr"),
        _r6(coeff).alias("adaptive_coeff"),
        _r6(gamma).alias("gamma"))
    return out.orderBy("event_id")


ORACLE_ATR_ADAPTIVE_SQL = f"""
WITH pr AS (
  SELECT event_id, user_id, ts,
         value * 1.01 AS high, value * 0.99 AS low,
         LAG(value) OVER w AS prev_c, value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), trs AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev_c IS NULL THEN high - low
              ELSE GREATEST(high, prev_c) - LEAST(low, prev_c) END AS tr
  FROM pr
), win AS (
  SELECT event_id, user_id,
         list_reverse(list(tr) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN {ATR_P - 1} PRECEDING
                                     AND CURRENT ROW)) AS w
  FROM trs
), sm AS (
  SELECT event_id, user_id, w,
         [list_sum(w[1:k]) / k for k in range(1, length(w) + 1)] AS means
  FROM win
), agg AS (
  SELECT event_id, user_id,
         w[1] AS tr0,
         means[-1] AS atr,
         list_min(means) AS mn, list_max(means) AS mx
  FROM sm
)
SELECT event_id, user_id,
       FLOOR(tr0 * 1000000 + 0.5) / 1000000 AS true_range,
       FLOOR(atr * 1000000 + 0.5) / 1000000 AS atr,
       FLOOR(mn * 1000000 + 0.5) / 1000000 AS min_atr,
       FLOOR(mx * 1000000 + 0.5) / 1000000 AS max_atr,
       FLOOR((CASE WHEN LEAST(mn, atr) = GREATEST(mx, atr) THEN 0.5
              ELSE 1.0 - (atr - LEAST(mn, atr))
                   / (GREATEST(mx, atr) - LEAST(mn, atr)) END)
             * 1000000 + 0.5) / 1000000 AS adaptive_coeff,
       FLOOR((1.0 - 10.0 / ({ATR_P}.0 * ((CASE WHEN LEAST(mn, atr)
              = GREATEST(mx, atr) THEN 0.5
              ELSE 1.0 - (atr - LEAST(mn, atr))
                   / (GREATEST(mx, atr) - LEAST(mn, atr)) END) + 0.75)
              + 9.0)) * 1000000 + 0.5) / 1000000 AS gamma
FROM agg
ORDER BY event_id
"""


def q_rolling_percentile_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6's strict-rank rolling percentile as a higher-order expression:
    % of strictly-smaller values among the previous w-1 rows, denominator
    includes the current row (_numba_kernel.py:169-202)."""
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-(PCT_W - 1), 0))
    lst = F.collect_list("value").over(w)
    n = F.size(lst)
    cur = F.element_at(lst, -1)
    smaller = F.size(F.filter(F.slice(lst, 1, n - 1), lambda x: cur > x))
    pct = smaller.cast("double") / n * 100.0
    return (ev.select("event_id", "user_id",
                      _r6(pct).alias("pct_rank_20"),
                      n.alias("n_in_window"))
            .orderBy("event_id"))


ORACLE_ROLLING_PERCENTILE_SQL = f"""
WITH win AS (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN {PCT_W - 1} PRECEDING
                           AND CURRENT ROW) AS w
  FROM events
)
SELECT event_id, user_id,
       FLOOR((length(list_filter(w[1:length(w)-1], x -> value > x))::DOUBLE
              / length(w) * 100.0) * 1000000 + 0.5) / 1000000
         AS pct_rank_20,
       length(w) AS n_in_window
FROM win
ORDER BY event_id
"""


def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — schema/DQ validation as filter/count assertions: per user,
    violations of value-positivity, timestamp monotonicity (strict), and
    null checks (the engine's fail-fast pattern; reference
    atr_adaptive_rsi.py:362-395, binance_adapter.py:121-165)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # strict: equal adjacent timestamps are violations too (lag >= ts)
    non_monotonic = (F.lag("ts").over(w) >= F.col("ts")).cast("int")
    return (ev.select("user_id",
                      F.when(F.col("value") <= 0, 1).otherwise(0)
                      .alias("bad_value"),
                      F.coalesce(non_monotonic, F.lit(0)).alias("bad_ts"),
                      F.when(F.col("event_type").isNull(), 1).otherwise(0)
                      .alias("null_type"))
            .groupBy("user_id")
            .agg(F.sum("bad_value").cast("bigint").alias("n_bad_value"),
                 F.sum("bad_ts").cast("bigint").alias("n_non_monotonic"),
                 F.sum("null_type").cast("bigint").alias("n_null_type"),
                 F.count(F.lit(1)).alias("n_rows"))
            .orderBy("user_id"))


ORACLE_DATA_QUALITY = """
WITH base AS (
  SELECT user_id,
         CASE WHEN value <= 0 THEN 1 ELSE 0 END AS bad_value,
         COALESCE(CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) >= ts THEN 1 ELSE 0 END, 0)
           AS bad_ts,
         CASE WHEN event_type IS NULL THEN 1 ELSE 0 END AS null_type
  FROM events
)
SELECT user_id,
       CAST(SUM(bad_value) AS BIGINT) AS n_bad_value,
       CAST(SUM(bad_ts) AS BIGINT) AS n_non_monotonic,
       CAST(SUM(null_type) AS BIGINT) AS n_null_type,
       COUNT(*) AS n_rows
FROM base
GROUP BY user_id
ORDER BY user_id
"""


QUERIES = {
    "atr_adaptive_sql": q_atr_adaptive_sql,
    "rolling_percentile_sql": q_rolling_percentile_sql,
    "data_quality": q_data_quality,
}

ORACLES = {
    "atr_adaptive_sql": ORACLE_ATR_ADAPTIVE_SQL,
    "rolling_percentile_sql": ORACLE_ROLLING_PERCENTILE_SQL,
    "data_quality": ORACLE_DATA_QUALITY,
}
