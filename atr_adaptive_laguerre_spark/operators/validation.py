"""Validation aggregates: information coefficient (Spearman rank
correlation between a feature and the forward return), OOD regime splits.

Reference: ``/root/reference/src/atr_adaptive_laguerre/validation/
information_coefficient.py:29-145`` (Spearman IC of feature[t] vs forward
return[t+k], pairwise NaN drop) and ``validation/ood_robustness.py:79-139``
(quantile-threshold regime splits).

Spearman = Pearson correlation of ranks; both engines rank with
row_number over a deterministic total order (value, then event_id) so
ties resolve identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6

FORWARD_K = 5


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _information_coefficient(spark: SparkSession, sf_dir: str,
                             return_type: str = "log") -> DataFrame:
    """Per-event-type Spearman IC between the feature (value) and the
    k-step forward return of the same user's series — the reference's
    IC payload (``information_coefficient.py:33,106-113``: ``log`` ->
    return[t] = log(p[t+k]/p[t]), ``simple`` -> p[t+k]/p[t] - 1,
    pairwise NaN drop, >= 30 valid pairs).  The events table contains
    zero values at larger SFs, so returns are computed only where both
    endpoints are strictly positive (the reference's price domain);
    other pairs drop pairwise."""
    if return_type not in ("log", "simple"):
        raise ValueError(
            f"return_type must be 'log' or 'simple', got {return_type!r}")
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lead = F.lead("value", FORWARD_K).over(w)
    # price-domain guard (reference domain is strictly positive prices;
    # the events table contains zeros at larger SFs): non-positive
    # endpoints make the return undefined -> NULL -> pairwise drop.
    # The CASE also keeps ANSI mode from raising DIVIDE_BY_ZERO.
    ratio = lead / F.col("value")
    fwd = F.when((F.col("value") > F.lit(0.0)) & (lead > F.lit(0.0)),
                 F.log(ratio) if return_type == "log"
                 else ratio - F.lit(1.0))
    base = (ev.select("event_id", "event_type", "value", fwd.alias("fwd"))
            .filter(F.col("fwd").isNotNull()))
    wr = Window.partitionBy("event_type")
    rank_v = F.row_number().over(
        wr.orderBy(F.col("value").asc(), F.col("event_id").asc()))
    rank_f = F.row_number().over(
        wr.orderBy(F.col("fwd").asc(), F.col("event_id").asc()))
    ranked = base.select("event_type",
                         rank_v.alias("rv").cast("double").alias("rv"),
                         rank_f.alias("rf").cast("double").alias("rf"))
    return (ranked.groupBy("event_type")
            .agg(_r6(F.corr("rv", "rf")).alias("spearman_ic"),
                 F.count(F.lit(1)).alias("n_pairs"))
            .filter(F.col("n_pairs") >= 30)
            .orderBy("event_type"))


def q_information_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``return_type="log"`` IC (the default)."""
    return _information_coefficient(spark, sf_dir, "log")


def q_information_coefficient_simple(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Reference ``return_type="simple"`` IC
    (``information_coefficient.py:106-113``: p[t+k]/p[t] - 1)."""
    return _information_coefficient(spark, sf_dir, "simple")


def _oracle_ic(fwd_expr: str) -> str:
    return f"""
WITH base AS (
  SELECT event_id, event_type, value,
         {fwd_expr} AS fwd
  FROM events
), nn AS (
  SELECT * FROM base WHERE fwd IS NOT NULL
), ranked AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC)::DOUBLE AS rv,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY fwd ASC, event_id ASC)::DOUBLE AS rf
  FROM nn
)
SELECT event_type,
       FLOOR(corr(rv, rf) * 1000000 + 0.5) / 1000000 AS spearman_ic,
       COUNT(*) AS n_pairs
FROM ranked
GROUP BY event_type
HAVING COUNT(*) >= 30
ORDER BY event_type
"""


_LEAD = (f"LEAD(value, {FORWARD_K}) OVER (PARTITION BY user_id "
         f"ORDER BY ts, event_id)")
_POS_GUARD = f"value > 0 AND {_LEAD} > 0"
ORACLE_INFORMATION_COEFFICIENT_SIMPLE = _oracle_ic(
    f"CASE WHEN {_POS_GUARD} THEN {_LEAD} / value - 1.0::DOUBLE END")

ORACLE_INFORMATION_COEFFICIENT = f"""
WITH base AS (
  SELECT event_id, event_type, value,
         CASE WHEN {_POS_GUARD}
              THEN LN({_LEAD} / value) END AS fwd
  FROM events
), nn AS (
  SELECT * FROM base WHERE fwd IS NOT NULL
), ranked AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC)::DOUBLE AS rv,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY fwd ASC, event_id ASC)::DOUBLE AS rf
  FROM nn
)
SELECT event_type,
       FLOOR(corr(rv, rf) * 1000000 + 0.5) / 1000000 AS spearman_ic,
       COUNT(*) AS n_pairs
FROM ranked
GROUP BY event_type
HAVING COUNT(*) >= 30
ORDER BY event_type
"""


def q_ood_regime_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOD robustness split: label each event by whether its user's
    rolling-20 volatility is above that user's 75th percentile (exact
    percentile via the 'lower' interpolation both engines share:
    percentile at rank ceil(0.75*n))."""
    ev = _events(spark, sf_dir)
    w20 = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(-19, 0))
    std = F.coalesce(F.stddev_samp("value").over(w20), F.lit(0.0))
    vol = ev.select("event_id", "user_id", std.alias("vol"))
    wr = Window.partitionBy("user_id").orderBy("vol", "event_id")
    wcnt = Window.partitionBy("user_id")
    ranked = vol.select(
        "event_id", "user_id", "vol",
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wcnt).alias("n"))
    thresh_rank = F.ceil(F.col("n") * 0.75)
    flagged = ranked.withColumn(
        "high_vol_regime", (F.col("rnk") > thresh_rank).cast("int"))
    return (flagged.groupBy("user_id")
            .agg(F.sum("high_vol_regime").alias("n_high"),
                 F.count(F.lit(1)).alias("n_total"))
            .orderBy("user_id"))


ORACLE_OOD_REGIME_SPLIT = """
WITH vol AS (
  SELECT event_id, user_id,
         COALESCE(STDDEV_SAMP(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 0) AS vol
  FROM events
), ranked AS (
  SELECT event_id, user_id, vol,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY vol, event_id) AS rnk,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM vol
)
SELECT user_id,
       CAST(SUM(CASE WHEN rnk > CEIL(n * 0.75) THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       COUNT(*) AS n_total
FROM ranked
GROUP BY user_id
ORDER BY user_id
"""


def q_ood_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOD robustness report (reference ``ood_robustness.py:142-281``):
    split each event_type's rows into low/high-volatility regimes at the
    per-user median rolling-20 volatility (warm-up rows with an
    incomplete window are in neither regime, like the reference's NaN-ATR
    rows), compute the Spearman IC of value vs the k-step forward log
    return per regime, and report both ICs + the degradation |IC1 - IC2|.
    Deviation from the reference (documented): forward returns are
    computed on the full point-in-time series BEFORE the regime filter —
    the reference subsets first, which splices non-adjacent bars into
    artificial returns."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w20 = w.rowsBetween(-19, 0)
    n_prev = F.count(F.lit(1)).over(w20)
    vol = F.stddev_samp("value").over(w20)
    lead = F.lead("value", FORWARD_K).over(w)
    # same positivity guard as the IC queries (zeros exist at larger SFs)
    fwd = F.when((F.col("value") > F.lit(0.0)) & (lead > F.lit(0.0)),
                 F.log(lead / F.col("value")))
    base = (ev.select("event_id", "user_id", "event_type", "value",
                      fwd.alias("fwd"), vol.alias("vol"),
                      n_prev.alias("n_win"))
            .filter(F.col("fwd").isNotNull() & (F.col("n_win") >= 20)))
    # per-user median vol threshold: value at rank ceil(0.5*n) in the
    # deterministic (vol, event_id) order — identical in both engines
    wv = Window.partitionBy("user_id").orderBy("vol", "event_id")
    wu = Window.partitionBy("user_id")
    ranked = base.select(
        "*", F.row_number().over(wv).alias("vrnk"),
        F.count(F.lit(1)).over(wu).alias("n_u"))
    lab = ranked.withColumn(
        "regime", F.when(F.col("vrnk") <= F.ceil(F.col("n_u") * 0.5),
                         F.lit("low_volatility"))
                   .otherwise(F.lit("high_volatility")))
    wr = Window.partitionBy("event_type", "regime")
    rv = F.row_number().over(wr.orderBy(F.col("value").asc(),
                                        F.col("event_id").asc()))
    rf = F.row_number().over(wr.orderBy(F.col("fwd").asc(),
                                        F.col("event_id").asc()))
    ic = (lab.select("event_type", "regime",
                     rv.cast("double").alias("rv"),
                     rf.cast("double").alias("rf"))
          .groupBy("event_type", "regime")
          .agg(F.corr("rv", "rf").alias("ic"),
               F.count(F.lit(1)).alias("n"))
          .filter(F.col("n") >= 30))
    lo = ic.filter(F.col("regime") == "low_volatility").select(
        "event_type", F.col("ic").alias("low_vol_ic"),
        F.col("n").alias("n_low"))
    hi = ic.filter(F.col("regime") == "high_volatility").select(
        "event_type", F.col("ic").alias("high_vol_ic"),
        F.col("n").alias("n_high"))
    return (lo.join(hi, "event_type")
            .select("event_type",
                    _r6(F.col("low_vol_ic")).alias("low_vol_ic"),
                    _r6(F.col("high_vol_ic")).alias("high_vol_ic"),
                    _r6(F.abs(F.col("low_vol_ic")
                              - F.col("high_vol_ic"))).alias("ic_degradation"),
                    "n_low", "n_high")
            .orderBy("event_type"))


ORACLE_OOD_ROBUSTNESS = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, value,
         CASE WHEN value > 0 AND LEAD(value, {FORWARD_K}) OVER w > 0
              THEN LN(LEAD(value, {FORWARD_K}) OVER w / value) END AS fwd,
         STDDEV_SAMP(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol,
         COUNT(*) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS n_win
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), nn AS (
  SELECT * FROM base WHERE fwd IS NOT NULL AND n_win >= 20
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY vol, event_id) AS vrnk,
         COUNT(*) OVER (PARTITION BY user_id) AS n_u
  FROM nn
), lab AS (
  SELECT *, CASE WHEN vrnk <= CEIL(n_u * 0.5) THEN 'low_volatility'
                 ELSE 'high_volatility' END AS regime
  FROM ranked
), rr AS (
  SELECT event_type, regime,
         ROW_NUMBER() OVER (PARTITION BY event_type, regime
                            ORDER BY value ASC, event_id ASC)::DOUBLE AS rv,
         ROW_NUMBER() OVER (PARTITION BY event_type, regime
                            ORDER BY fwd ASC, event_id ASC)::DOUBLE AS rf
  FROM lab
), ic AS (
  SELECT event_type, regime, corr(rv, rf) AS ic, COUNT(*) AS n
  FROM rr GROUP BY event_type, regime HAVING COUNT(*) >= 30
)
SELECT lo.event_type,
       FLOOR(lo.ic * 1000000 + 0.5) / 1000000 AS low_vol_ic,
       FLOOR(hi.ic * 1000000 + 0.5) / 1000000 AS high_vol_ic,
       FLOOR(ABS(lo.ic - hi.ic) * 1000000 + 0.5) / 1000000 AS ic_degradation,
       lo.n AS n_low, hi.n AS n_high
FROM ic lo JOIN ic hi
  ON lo.event_type = hi.event_type
 AND lo.regime = 'low_volatility' AND hi.regime = 'high_volatility'
ORDER BY lo.event_type
"""


QUERIES = {
    "information_coefficient": q_information_coefficient,
    "information_coefficient_simple": q_information_coefficient_simple,
    "ood_regime_split": q_ood_regime_split,
    "ood_robustness": q_ood_robustness,
}

ORACLES = {
    "information_coefficient": ORACLE_INFORMATION_COEFFICIENT,
    "information_coefficient_simple": ORACLE_INFORMATION_COEFFICIENT_SIMPLE,
    "ood_regime_split": ORACLE_OOD_REGIME_SPLIT,
    "ood_robustness": ORACLE_OOD_ROBUSTNESS,
}


# ---------------------------------------------------------------------------
# non-anticipation validator (reference validation/non_anticipative.py:22-156)
# ---------------------------------------------------------------------------

def validate_non_anticipative(feature_fn, doc_df: DataFrame,
                              n_tests: int = 8,
                              min_subset_ratio: float = 0.5,
                              rtol: float = 1e-9,
                              atol: float = 1e-12) -> bool:
    """Progressive-prefix lookahead-bias check, distributed.

    Reference methodology (``validation/non_anticipative.py:22-156``):
    compute the feature on the full series and on progressively longer
    prefixes; if any overlapping value changes when future bars are
    appended, the feature is anticipative -> raise ValueError.  The
    reference runs n_tests sequential recomputes; here every
    (entity, prefix-length) pair becomes just another entity to the
    lockstep kernel, so ALL prefix variants compute in ONE Spark job and
    the comparison is a single join + aggregation.  Comparison matches
    the reference: allclose(rtol=1e-9, atol=1e-12), NaN==NaN.

    ``feature_fn``: doc-grain DataFrame -> long-form DataFrame keyed by
    (source, doc_id, offset) with double feature columns (e.g.
    ``ATRAdaptiveLaguerreRSI(cfg).fit_transform_features``).  At corpus
    scale pass a SAMPLE of entities — validation cost is
    ~n_tests * 0.75x the sample's feature cost by design.

    Returns True when non-anticipative; raises ValueError naming the
    offending columns and their mismatch counts otherwise.
    """
    if not callable(feature_fn):
        raise TypeError(f"feature_fn must be callable, got {feature_fn!r}")
    if n_tests < 1:
        raise ValueError(f"n_tests must be >= 1, got {n_tests}")
    if not 0.0 < min_subset_ratio <= 1.0:
        raise ValueError(
            f"min_subset_ratio must be in (0, 1], got {min_subset_ratio}")

    sep = "#p"          # doc_id suffix marking a prefix variant
    # the suffix must be recoverable: a doc_id already containing the
    # separator would be truncated by substring_index and its rows
    # silently dropped from the comparison join (a false PASS)
    n_clash = doc_df.filter(F.col("doc_id").contains(sep)).limit(1).count()
    if n_clash:
        raise ValueError(
            f"doc_id values containing {sep!r} are not supported by the "
            f"prefix-variant encoding; rename them first")
    variants = None
    for k in range(n_tests):
        frac = (min_subset_ratio
                + (1.0 - min_subset_ratio) * k / n_tests)
        cut = F.greatest(F.ceil(F.col("n_tok") * F.lit(frac)), F.lit(10))
        cut = F.least(cut, F.col("n_tok")).cast("int")
        v = doc_df.select(
            "source",
            F.concat(F.col("doc_id"), F.lit(f"{sep}{k}")).alias("doc_id"),
            F.slice(F.col("tokens"), 1, cut).alias("tokens"),
            cut.alias("n_tok"))
        variants = v if variants is None else variants.unionByName(v)

    full = feature_fn(doc_df)
    trunc = feature_fn(variants)
    feat_cols = [f.name for f in full.schema.fields
                 if f.dataType.simpleString() == "double"]

    t = trunc.select(
        "source",
        F.substring_index("doc_id", sep, 1).alias("doc_id"),
        "offset",
        *[F.col(c).alias(f"{c}__t") for c in feat_cols])
    j = t.join(full.select("source", "doc_id", "offset", *feat_cols),
               ["source", "doc_id", "offset"])

    def bad(c):
        a, b = F.col(f"{c}__t"), F.col(c)
        # null-vs-value must COUNT as a mismatch (e.g. lead() leaves a
        # null at a prefix tail where the full run has a value) — a
        # naive a-b comparison silently drops nulls from the sum
        both_null = a.isNull() & b.isNull()
        neither = a.isNotNull() & b.isNotNull()
        both_nan = neither & F.isnan(a) & F.isnan(b)
        close = neither & (F.abs(a - b)
                           <= (F.lit(atol) + F.lit(rtol) * F.abs(b)))
        return F.sum((~(both_null | both_nan | close))
                     .cast("long")).alias(c)

    counts = j.agg(*[bad(c) for c in feat_cols]).collect()[0].asDict()
    leaky = {c: n for c, n in counts.items() if n}
    if leaky:
        raise ValueError(
            f"lookahead bias detected: overlapping values changed when "
            f"future bars were appended — {leaky}")
    return True
