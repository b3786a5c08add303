"""DuckDB oracle SQL generators for the flagship kernel queries.

The driver's correctness gate runs each ``queries()`` entry on Spark and
its ``oracle_sql()`` twin on DuckDB, then compares row counts, column
names and an exact value hash.  The flagship queries run the sequential
ATR-Adaptive Laguerre recurrence (reference semantics:
``/root/reference/src/atr_adaptive_laguerre/core/_numba_kernel.py:14-166``),
which plain window SQL cannot express — but a *recursive CTE* can, carrying
the per-entity state (prev close, TR ring buffer, Laguerre stages, EWM
accumulator) across steps.

Bit-exactness strategy: every scalar float64 operation is emitted in the
**same order** as the numpy kernels (``kernel/reference_impl.py``,
``kernel/expander_batched.py``), so both engines perform the identical
IEEE-754 op sequence.  Order-sensitive window sums are evaluated with
``list_reduce`` over explicitly reversed frame lists (the kernels
accumulate newest-to-oldest).  Both sides additionally quantize through
``floor(x*1e6+0.5)/1e6`` as belt-and-braces (a 1-ulp divergence would
otherwise flip the exact hash).

DuckDB 1.0 quirks handled here:

* bare float literals parse as DECIMAL — every literal is ``::DOUBLE``-cast
  or written through :func:`_d` (shortest round-trip repr of the Python
  float, which DuckDB parses back to the identical double);
* NaN orders *greater than* everything and ``NaN = NaN`` is true — numpy
  comparison semantics (``NaN > x`` false, ``NaN == NaN`` false,
  ``minimum(x, NaN) = NaN``) are restored with explicit ``isnan`` guards
  (:func:`_gt`, :func:`_eqnan`, :func:`_nmin`, :func:`_sgn`) on every
  NaN-able multi-interval input (docs shorter than a multiplier get NaN
  mult features — ``kernel/multi_interval_batched.py:330-344``).
"""

from __future__ import annotations

from atr_adaptive_laguerre_spark.data.corpus import VOCAB
from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    multi_interval_columns,
)

# engine constants (FeatureConfig defaults used by the flagship queries);
# every generator also accepts a FeatureConfig to emit the SQL for any
# other config (the second-config gate in tests/test_second_config.py
# proves no constant is accidentally baked in)
ATR_PERIOD = 14
ADAPTIVE_OFFSET = 0.75
UP, DOWN = 0.85, 0.15
SW = 20          # stats_window
VSPAN = 5        # velocity_span


def _d(x: float) -> str:
    """Emit a Python float as an exact DuckDB DOUBLE literal."""
    return f"{x!r}::DOUBLE"


def _sql_r6(expr: str) -> str:
    """The cross-engine quantizer: floor(x*1e6 + 0.5)/1e6."""
    return f"FLOOR(({expr}) * 1000000 + 0.5) / 1000000"


# --- numpy-faithful NaN helpers (DuckDB NaN sorts greatest / NaN=NaN) ---

def _gt(a: str, b: str) -> str:
    """numpy ``a > b``: False when a is NaN (DuckDB would say True)."""
    return f"((NOT isnan({a})) AND ({a}) > ({b}))"


def _lt(a: str, b: str) -> str:
    """numpy ``a < b``: False when b is NaN (DuckDB would say True)."""
    return f"((NOT isnan({b})) AND ({a}) < ({b}))"


def _eqnan(a: str, b: str) -> str:
    """numpy ``a == b``: False when either is NaN (DuckDB NaN=NaN is true)."""
    return f"((NOT isnan({a})) AND ({a}) = ({b}))"


def _nmin(a: str, b: str) -> str:
    """numpy minimum: NaN-propagating (DuckDB least() skips NaN)."""
    return (f"(CASE WHEN isnan({a}) THEN {a} WHEN isnan({b}) THEN {b} "
            f"ELSE least({a}, {b}) END)")


def _sgn(x: str) -> str:
    """numpy sign as DOUBLE: NaN-propagating (DuckDB sign(NaN) = 0)."""
    return (f"(CASE WHEN isnan({x}) THEN ({x}) WHEN ({x}) > 0.0::DOUBLE "
            f"THEN 1.0::DOUBLE WHEN ({x}) < 0.0::DOUBLE THEN (-1.0)::DOUBLE "
            f"ELSE 0.0::DOUBLE END)")


def _b(cond: str) -> str:
    """bool -> float64 (numpy .astype(float64))."""
    return f"(CASE WHEN {cond} THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)"


# ---------------------------------------------------------------------------
# tokenization + OHLCV proxy (twin of engine/tokens.tokenize_documents_portable
# + data/corpus.tokens_to_ohlcv)
# ---------------------------------------------------------------------------

def bars_cte() -> str:
    """CTE chain producing one row per (doc_id, i) with the portable md5
    token (twin of ``engine/tokens.tokenize_documents_portable``) and the
    deterministic OHLCV ingredients (``data/corpus.tokens_to_ohlcv``).
    ``close`` itself needs the sequential cumsum and is carried in the
    recursive core CTE."""
    tok = f"('0x' || substr(md5(w), 1, 15))::BIGINT % {VOCAB}"
    return rf"""
words AS MATERIALIZED (
  SELECT doc_id::VARCHAR AS doc_id, source,
         CAST(unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS INT) AS i,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
),
bars AS MATERIALIZED (
  SELECT doc_id, source, i,
         CAST({tok} AS INT) AS token,
         CAST(({tok}) % 997 - 498 AS DOUBLE) / 100.0::DOUBLE AS step,
         CAST(({tok}) % 31 AS DOUBLE) / 10.0::DOUBLE AS hi_off,
         CAST((({tok}) // 31) % 29 AS DOUBLE) / 10.0::DOUBLE AS lo_off,
         (CAST(i AS DOUBLE) + 1.0::DOUBLE)
           + CAST((CAST({tok} AS BIGINT) * 2654435761) % 1000 AS DOUBLE) / 1001.0::DOUBLE AS avail
  FROM words
)"""


# ---------------------------------------------------------------------------
# the sequential core recurrence as a recursive CTE
# ---------------------------------------------------------------------------

def core_cte(name: str, bars: str, idx: str = "i",
             from_tokens: bool = True, atr_period: int = ATR_PERIOD,
             adaptive_offset: float = ADAPTIVE_OFFSET,
             velocity_span: int = VSPAN) -> str:
    """Recursive CTE running the fused C1-C8 recurrence
    (``kernel/reference_impl.core_loop``) plus the EWM velocity
    accumulator (``expander_batched._ewm_mean``) over each doc.

    ``from_tokens=True`` derives close/high/low from the token cumsum
    (``data/corpus.tokens_to_ohlcv``); otherwise ``bars`` must already
    carry high/low/close columns (the resampled grains).

    Structure matters for performance: DuckDB expands lateral aliases
    textually at bind time, so a deep alias chain (csum -> close -> tr ->
    atr -> gamma -> L0..L3 -> rsi) duplicates subtrees exponentially
    (~100x slower).  Each dependency level is therefore a *nested
    subquery*, whose projection materializes its columns exactly once.
    """
    p = atr_period
    a = 2.0 / (velocity_span + 1.0)
    alpha, om_alpha = _d(a), _d(1.0 - a)
    base_p, off = _d(float(atr_period)), _d(adaptive_offset)
    # the kernel state + outputs the CTE carries (column order = anchor)
    keys = ["doc_id", "source", idx] + (["token", "avail"] if from_tokens
                                        else [])
    carry = (["csum"] if from_tokens else []) + [
        "close", "high", "low", "tr_list", "tr_sum",
        "atr", "min_atr", "max_atr", "adaptive_coeff", "gamma",
        "L0", "L1", "L2", "L3", "rsi", "vel"]

    atr_k = "(a.s + e.s) / CAST(a.k + 1 AS DOUBLE)"
    fold = (
        "list_reduce(list_transform(list_reverse(tr_list), "
        "v -> {'mn': v / 1.0::DOUBLE, 'mx': v / 1.0::DOUBLE, "
        "'s': v, 'k': 1::BIGINT}), "
        "(a, e) -> {'mn': CASE WHEN " + atr_k + " < a.mn THEN " + atr_k +
        " ELSE a.mn END, "
        "'mx': CASE WHEN " + atr_k + " > a.mx THEN " + atr_k +
        " ELSE a.mx END, "
        "'s': a.s + e.s, 'k': a.k + 1})")

    def branch(first: bool) -> str:
        # innermost scope: bars row b (+ previous state c on the recursive
        # side, renamed p_*) — every later level only references the
        # previous level's materialized columns.
        if first:
            inner_cols = [f"b.{k} AS {k}" for k in keys]
            if from_tokens:
                inner_cols += ["b.step AS step", "b.hi_off AS hi_off",
                               "b.lo_off AS lo_off"]
            else:
                inner_cols += ["b.close AS b_close", "b.high AS b_high",
                               "b.low AS b_low"]
            inner_from = f"{bars} b WHERE b.{idx} = 0"
        else:
            inner_cols = [f"b.{k} AS {k}" for k in keys]
            if from_tokens:
                inner_cols += ["b.step AS step", "b.hi_off AS hi_off",
                               "b.lo_off AS lo_off", "c.csum AS p_csum"]
            else:
                inner_cols += ["b.close AS b_close", "b.high AS b_high",
                               "b.low AS b_low"]
            inner_cols += [
                "c.close AS p_close", "c.tr_list AS p_tr_list",
                "c.tr_sum AS p_tr_sum", "c.L0 AS p_L0", "c.L1 AS p_L1",
                "c.L2 AS p_L2", "c.L3 AS p_L3", "c.rsi AS p_rsi",
                "c.vel AS p_vel"]
            inner_from = (f"{name} c JOIN {bars} b ON b.doc_id = c.doc_id "
                          f"AND b.{idx} = c.{idx} + 1")

        # dependency levels: each entry is [(col, expr), ...] where exprs
        # reference only columns materialized by earlier levels.
        levels: list[list[tuple[str, str]]] = []
        if from_tokens:
            levels.append([("csum", "step" if first else "p_csum + step")])
            levels.append([("close", "100.0::DOUBLE + csum")])
            levels.append([("high", "close + hi_off"),
                           ("low", "close - lo_off")])
        else:
            levels.append([("close", "b_close"), ("high", "b_high"),
                           ("low", "b_low")])
        if first:
            levels.append([("tr", "high - low")])
            levels.append([("tr_list", "[tr]"), ("tr_sum", "tr")])
        else:
            levels.append([("tr", "greatest(high, p_close) "
                                  "- least(low, p_close)")])
            levels.append([
                ("tr_list", f"(list_append(p_tr_list, tr))[-{p}:]"),
                ("tr_sum", f"CASE WHEN len(p_tr_list) = {p} "
                           f"THEN (p_tr_sum + tr) - p_tr_list[1] "
                           f"ELSE p_tr_sum + tr END")])
        levels.append([("buf_len", "len(tr_list)")])
        levels.append([("atr", "tr_sum / CAST(buf_len AS DOUBLE)"),
                       ("mm", "CASE WHEN buf_len < 2 THEN NULL "
                              f"ELSE {fold} END")])
        levels.append([
            ("min_atr", "CASE WHEN buf_len < 2 THEN atr ELSE (mm).mn END"),
            ("max_atr", "CASE WHEN buf_len < 2 THEN atr ELSE (mm).mx END")])
        levels.append([
            ("mx", "CASE WHEN max_atr > atr THEN max_atr ELSE atr END"),
            ("mn", "CASE WHEN min_atr < atr THEN min_atr ELSE atr END")])
        levels.append([("adaptive_coeff",
                        "CASE WHEN mn = mx THEN 0.5::DOUBLE ELSE "
                        "1.0::DOUBLE - (atr - mn) / (mx - mn) END")])
        levels.append([("period", f"{base_p} * (adaptive_coeff + {off})")])
        levels.append([("gamma",
                        "1.0::DOUBLE - 10.0::DOUBLE / (period + 9.0::DOUBLE)")])
        pl = {"L0": "0.0::DOUBLE", "L1": "0.0::DOUBLE",
              "L2": "0.0::DOUBLE", "L3": "0.0::DOUBLE"} if first else \
             {"L0": "p_L0", "L1": "p_L1", "L2": "p_L2", "L3": "p_L3"}
        levels.append([("L0", f"close + gamma * ({pl['L0']} - close)")])
        levels.append([("L1", f"{pl['L0']} + gamma * ({pl['L1']} - L0)")])
        levels.append([("L2", f"{pl['L1']} + gamma * ({pl['L2']} - L1)")])
        levels.append([("L3", f"{pl['L2']} + gamma * ({pl['L3']} - L2)")])
        levels.append([
            ("cu", "(CASE WHEN L0 >= L1 THEN L0 - L1 ELSE 0.0::DOUBLE END)"
                   " + (CASE WHEN L1 >= L2 THEN L1 - L2 ELSE 0.0::DOUBLE END)"
                   " + (CASE WHEN L2 >= L3 THEN L2 - L3 ELSE 0.0::DOUBLE END)"),
            ("cd", "(CASE WHEN L0 >= L1 THEN 0.0::DOUBLE ELSE L1 - L0 END)"
                   " + (CASE WHEN L1 >= L2 THEN 0.0::DOUBLE ELSE L2 - L1 END)"
                   " + (CASE WHEN L2 >= L3 THEN 0.0::DOUBLE ELSE L3 - L2 END)")])
        levels.append([("rsi", "CASE WHEN cu + cd = 0.0::DOUBLE "
                               "THEN 0.0::DOUBLE ELSE cu / (cu + cd) END")])
        levels.append([("vel", "0.0::DOUBLE" if first else
                        f"((rsi - p_rsi) * {alpha}) + (p_vel * {om_alpha})")])

        sql = f"SELECT {', '.join(inner_cols)} FROM {inner_from}"
        for lv in levels:
            cols = ", ".join(f"{e} AS {c}" for c, e in lv)
            sql = f"SELECT *, {cols} FROM ({sql})"
        out_cols = ", ".join(keys + carry)
        return f"SELECT {out_cols} FROM ({sql})"

    return f"""
{name} AS (
  {branch(True)}
  UNION ALL
  {branch(False)}
)"""


CORE_OUT_COLS = ("rsi", "adaptive_coeff", "gamma", "L0", "L1", "L2", "L3",
                 "min_atr", "max_atr", "atr")


# ---------------------------------------------------------------------------
# 43-column expander as layered window SQL
# ---------------------------------------------------------------------------

def _revsum(lst: str) -> str:
    """Newest-to-oldest fold — the expander's ``_rolling_sum`` adds window
    offsets j=0,1,2,... (current bar first)."""
    return f"list_reduce(list_reverse({lst}), (a, b) -> a + b)"


def expander_ctes(core: str, pre: str, idx: str = "i",
                  level_up: float = UP, level_down: float = DOWN,
                  stats_window: int = SW) -> tuple[str, str]:
    """CTE chain computing the 43 expander columns
    (``kernel/expander_batched.expand_batched``, op order mirrored) over a
    core CTE; returns (sql_fragment, final_cte_name).  All layer-local
    helper columns are prefixed to avoid collisions when several grains
    are stitched together.  The 100-bar vol-of-vol window and the
    min_periods=20 spike gate are FIXED in the reference
    (expander_batched.py:266-276) — only up/down/stats_window vary."""
    SW = stats_window
    w = f"PARTITION BY doc_id ORDER BY {idx}"
    cum = f"{w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    f19 = f"{w} ROWS BETWEEN {SW - 1} PRECEDING AND CURRENT ROW"
    f99 = f"{w} ROWS BETWEEN 99 PRECEDING AND CURRENT ROW"
    up, down = _d(level_up), _d(level_down)
    eps = _d(1e-10)
    x1, x2, x3, x4 = (f"{pre}_x1", f"{pre}_x2", f"{pre}_x3", f"{pre}_x4")

    sql = f"""
{x1} AS (
  SELECT c.*,
    lag(rsi) OVER ({w}) AS q_prev_rsi,
    lag(rsi, 5) OVER ({w}) AS q_rsi5,
    first_value(rsi) OVER ({w}) AS q_first_rsi,
    list(rsi) OVER ({f19}) AS q_lrsi,
    min(rsi) OVER ({f19}) AS q_rmin,
    max(rsi) OVER ({f19}) AS q_rmax,
    lag(adaptive_coeff) OVER ({w}) AS q_prev_coeff,
    list(gamma) OVER ({f19}) AS q_lgam,
    lag(L0) OVER ({w}) AS q_prev_L0,
    lag(close) OVER ({w}) AS q_prev_close,
    lag(close, {SW}) OVER ({w}) AS q_close20,
    first_value(close) OVER ({w}) AS q_first_close,
    CAST(least({idx} + 1, {SW}) AS DOUBLE) AS q_n20,
    CAST(least({idx} + 1, 100) AS DOUBLE) AS q_n100,
    CASE WHEN rsi < {down} THEN 0.0::DOUBLE
         WHEN rsi > {up} THEN 2.0::DOUBLE ELSE 1.0::DOUBLE END AS regime,
    rsi < {down} AS q_is_os,
    rsi > {up} AS q_is_ob,
    CASE WHEN L0 > L1 AND NOT (L2 > L3) THEN 1.0::DOUBLE
         WHEN L0 > L1 AND L2 > L3 THEN 2.0::DOUBLE
         WHEN NOT (L0 > L1) AND L2 > L3 THEN 3.0::DOUBLE
         ELSE 0.0::DOUBLE END AS cycle_phase,
    rsi - {up} AS dist_overbought,
    rsi - {down} AS dist_oversold,
    rsi - 0.5::DOUBLE AS dist_midline,
    abs(rsi - {up}) AS abs_dist_overbought,
    abs(rsi - {down}) AS abs_dist_oversold,
    COALESCE(q_prev_rsi, rsi) AS q_prev,
    {_b(f"q_prev <= {down} AND rsi > {down}")} AS cross_above_oversold,
    {_b(f"q_prev >= {up} AND rsi < {up}")} AS cross_below_overbought,
    {_b("q_prev <= 0.5::DOUBLE AND rsi > 0.5::DOUBLE")} AS cross_above_midline,
    {_b("q_prev >= 0.5::DOUBLE AND rsi < 0.5::DOUBLE")} AS cross_below_midline,
    rsi - q_prev AS rsi_change_1,
    rsi - COALESCE(q_rsi5, q_first_rsi) AS rsi_change_5,
    {_revsum('q_lrsi')} / q_n20 AS q_rmean,
    CASE WHEN {idx} = 0 THEN 0.0::DOUBLE
         WHEN q_rmin = q_rmax THEN 0.0::DOUBLE
         ELSE sqrt(list_reduce(list_transform(list_reverse(q_lrsi),
                v -> (v - q_rmean) * (v - q_rmean)), (a, b) -> a + b)
              / greatest(q_n20 - 1.0::DOUBLE, 1.0::DOUBLE))
    END AS rsi_volatility_20,
    (CAST(len(list_filter(q_lrsi[1:len(q_lrsi) - 1], v -> v < rsi)) AS DOUBLE)
       / q_n20) * 100.0::DOUBLE AS rsi_percentile_20,
    (rsi - q_rmean) / (CASE WHEN rsi_volatility_20 = 0.0::DOUBLE
                            THEN 1.0::DOUBLE
                            ELSE rsi_volatility_20 END) AS rsi_zscore_20,
    q_rmax - q_rmin AS rsi_range_20,
    {_b(f"abs(rsi_change_1) > {_d(0.3)}")} AS rsi_shock_1bar,
    adaptive_coeff - COALESCE(q_prev_coeff, adaptive_coeff) AS adaptive_coeff_roc_1,
    gamma - {_revsum('q_lgam')} / q_n20 AS gamma_spread,
    (L0 - L3) / ((abs(L0) + abs(L3)) + {eps}) AS laguerre_spread,
    abs(L1 - L2) / ((abs(L0 - L1) + abs(L2 - L3)) + {eps}) AS laguerre_mid_convergence,
    L0 - COALESCE(q_prev_L0, L0) AS q_l0d,
    (max_atr - min_atr) / (max_atr + {eps}) AS atr_range_width,
    abs(close - COALESCE(q_prev_close, close)) AS q_abs_ch,
    abs(close - COALESCE(q_close20, q_first_close)) AS q_direction,
    CASE WHEN regime = 0.0::DOUBLE THEN greatest({down} - rsi, 0.0::DOUBLE)
         WHEN regime = 2.0::DOUBLE THEN greatest(rsi - {up}, 0.0::DOUBLE)
         ELSE 0.0::DOUBLE END AS regime_strength,
    {_b("regime = 0.0::DOUBLE")} AS regime_bearish,
    {_b("regime = 1.0::DOUBLE")} AS regime_neutral,
    {_b("regime = 2.0::DOUBLE")} AS regime_bullish
  FROM {core} c
),
{x2} AS (
  SELECT c.*,
    lag(regime) OVER ({w}) AS q_prev_regime,
    lag(cycle_phase) OVER ({w}) AS q_prev_phase,
    list(rsi_volatility_20) OVER ({f99}) AS q_lstd,
    list(q_abs_ch) OVER ({f19}) AS q_labs,
    list(q_l0d) OVER ({f19}) AS q_ll0d,
    min(q_l0d) OVER ({f19}) AS q_l0dmin,
    max(q_l0d) OVER ({f19}) AS q_l0dmax,
    sum(CASE WHEN NOT q_is_os THEN 1 ELSE 0 END) OVER ({cum}) AS q_cum_not_os,
    sum(CASE WHEN NOT q_is_ob THEN 1 ELSE 0 END) OVER ({cum}) AS q_cum_not_ob
  FROM {x1} c
),
{x3} AS (
  SELECT c.*,
    {_b("regime <> COALESCE(q_prev_regime, regime)")} AS regime_changed,
    {_b("cycle_phase <> COALESCE(q_prev_phase, cycle_phase)")} AS cycle_phase_changed,
    {_revsum('q_lstd')} / q_n100 AS q_vmean,
    CASE WHEN {idx} = 0 THEN 0.0::DOUBLE
         WHEN list_min(q_lstd) = list_max(q_lstd) THEN 0.0::DOUBLE
         ELSE sqrt(list_reduce(list_transform(list_reverse(q_lstd),
                v -> (v - q_vmean) * (v - q_vmean)), (a, b) -> a + b)
              / greatest(q_n100 - 1.0::DOUBLE, 1.0::DOUBLE))
    END AS q_vstd,
    CASE WHEN {idx} + 1 >= 20
              AND rsi_volatility_20 > ((q_vstd * 2.0::DOUBLE) + q_vmean)
         THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rsi_volatility_spike,
    {_revsum('q_labs')} AS q_vol,
    least(greatest(q_direction / (CASE WHEN q_vol = 0.0::DOUBLE
                                       THEN 1.0::DOUBLE ELSE q_vol END),
                   0.0::DOUBLE), 1.0::DOUBLE) AS efficiency_ratio,
    {_b("efficiency_ratio > 0.5::DOUBLE")} AS efficiency_trend,
    {_revsum('q_ll0d')} / q_n20 AS q_l0dmean,
    CASE WHEN {idx} = 0 THEN 0.0::DOUBLE
         WHEN q_l0dmin = q_l0dmax THEN 0.0::DOUBLE
         ELSE sqrt(list_reduce(list_transform(list_reverse(q_ll0d),
                v -> (v - q_l0dmean) * (v - q_l0dmean)), (a, b) -> a + b)
              / greatest(q_n20 - 1.0::DOUBLE, 1.0::DOUBLE))
    END AS q_l0dstd,
    q_l0d / (CASE WHEN q_l0dstd = 0.0::DOUBLE THEN 1.0::DOUBLE
                  ELSE q_l0dstd END) AS laguerre_slope
  FROM {x2} c
),
{x4} AS (
  SELECT c.*,
    max(CASE WHEN regime_changed = 1.0::DOUBLE THEN {idx} ELSE 0 END)
        OVER ({cum}) AS q_lci,
    max(CASE WHEN q_is_os THEN q_cum_not_os ELSE 0 END) OVER ({cum}) AS q_reset_os,
    max(CASE WHEN q_is_ob THEN q_cum_not_ob ELSE 0 END) OVER ({cum}) AS q_reset_ob,
    (CAST({idx} AS DOUBLE) - CAST(q_lci AS DOUBLE)) + 1.0::DOUBLE AS bars_in_regime,
    CAST(q_cum_not_os - q_reset_os AS DOUBLE) AS bars_since_oversold,
    CAST(q_cum_not_ob - q_reset_ob AS DOUBLE) AS bars_since_overbought,
    least(bars_since_oversold, bars_since_overbought) AS bars_since_extreme,
    {_b("regime <> 1.0::DOUBLE AND bars_in_regime > 10.0::DOUBLE")} AS extreme_regime_persistence,
    least(greatest(((rsi_shock_1bar * {_d(0.4)})
                    + (extreme_regime_persistence * {_d(0.3)}))
                   + (rsi_volatility_spike * {_d(0.3)}),
                   0.0::DOUBLE), 1.0::DOUBLE) AS tail_risk_score
  FROM {x3} c
)"""
    return sql, x4


# ---------------------------------------------------------------------------
# multi-interval (121-column) pipeline
# ---------------------------------------------------------------------------

M1, M2 = 3, 12      # multipliers used by the flagship queries


def _resample_cte(name: str, m: int) -> str:
    """Positional tumbling resample of the base grid, complete windows
    only (``multi_interval_batched._resample_hlc``): high=max, low=min,
    close=last; trailing partials dropped via the count gate."""
    return f"""
{name} AS MATERIALIZED (
  SELECT doc_id, source, CAST(i // {m} AS INT) AS i,
         max(high) AS high, min(low) AS low, arg_max(close, i) AS close
  FROM core GROUP BY doc_id, source, i // {m} HAVING count(*) = {m}
)"""


def _aligned_cte(availability: bool, m1: int = M1, m2: int = M2) -> str:
    """Join the three grains onto the base grid.

    Positional (``_align_gather_idx``): base row i -> mult row
    least(i, n_m - 1).  Availability (``_align_gather_idx_avail``):
    resampled bar j becomes available at the availability of its last
    constituent base bar; base row i maps to the last mult bar with
    availability *strictly below* its own, clamped into range.  Docs with
    no complete window get NaN mult features (numpy comparison semantics
    downstream need real NaN, not NULL, hence the COALESCE)."""
    nm = {"gamma_value": "gamma", "rsi_velocity": "vel"}
    base_cols = ",\n    ".join(
        f"b.{nm.get(c, c)} AS {c}_base" for c in FEATURE_COLUMNS)
    m1_cols = ",\n    ".join(
        f"COALESCE(f1.{nm.get(c, c)}, 'NaN'::DOUBLE) AS {c}_mult1"
        for c in FEATURE_COLUMNS)
    m2_cols = ",\n    ".join(
        f"COALESCE(f2.{nm.get(c, c)}, 'NaN'::DOUBLE) AS {c}_mult2"
        for c in FEATURE_COLUMNS)
    pre = """
lens1 AS (SELECT doc_id, count(*) AS n FROM core_m1 GROUP BY doc_id),
lens2 AS (SELECT doc_id, count(*) AS n FROM core_m2 GROUP BY doc_id)"""
    if availability:
        pre += f""",
avm1 AS MATERIALIZED (
  SELECT c.doc_id, c.i AS j, b.avail AS avail_m
  FROM core_m1 c JOIN core b
    ON b.doc_id = c.doc_id AND b.i = (c.i + 1) * {m1} - 1
),
avm2 AS MATERIALIZED (
  SELECT c.doc_id, c.i AS j, b.avail AS avail_m
  FROM core_m2 c JOIN core b
    ON b.doc_id = c.doc_id AND b.i = (c.i + 1) * {m2} - 1
),
aidx1 AS MATERIALIZED (
  SELECT b.doc_id, b.i, count(a.avail_m) AS cnt
  FROM core b LEFT JOIN avm1 a
    ON a.doc_id = b.doc_id AND a.avail_m < b.avail
  GROUP BY b.doc_id, b.i
),
aidx2 AS MATERIALIZED (
  SELECT b.doc_id, b.i, count(a.avail_m) AS cnt
  FROM core b LEFT JOIN avm2 a
    ON a.doc_id = b.doc_id AND a.avail_m < b.avail
  GROUP BY b.doc_id, b.i
)"""
        j1 = ("JOIN aidx1 a1 ON a1.doc_id = b.doc_id AND a1.i = b.i\n"
              "  JOIN aidx2 a2 ON a2.doc_id = b.doc_id AND a2.i = b.i\n"
              "  LEFT JOIN fe1_x4 f1 ON f1.doc_id = b.doc_id "
              "AND f1.i = greatest(least(a1.cnt - 1, l1.n - 1), 0)\n"
              "  LEFT JOIN fe2_x4 f2 ON f2.doc_id = b.doc_id "
              "AND f2.i = greatest(least(a2.cnt - 1, l2.n - 1), 0)")
    else:
        j1 = ("LEFT JOIN fe1_x4 f1 ON f1.doc_id = b.doc_id "
              "AND f1.i = least(b.i, l1.n - 1)\n"
              "  LEFT JOIN fe2_x4 f2 ON f2.doc_id = b.doc_id "
              "AND f2.i = least(b.i, l2.n - 1)")
    return f"""{pre},
al AS (
  SELECT b.doc_id, b.source, b.i, b.token,
    {base_cols},
    {m1_cols},
    {m2_cols}
  FROM feb_x4 b
  LEFT JOIN lens1 l1 ON l1.doc_id = b.doc_id
  LEFT JOIN lens2 l2 ON l2.doc_id = b.doc_id
  {j1}
)"""


def _interaction_ctes() -> str:
    """The 40 cross-interval interactions over the aligned grid
    (``multi_interval_batched._interactions_2d``), with numpy NaN
    comparison semantics restored via the isnan-guard helpers."""
    w = "PARTITION BY doc_id ORDER BY i"
    cum = f"{w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    rb, r1, r2 = "regime_base", "regime_mult1", "regime_mult2"
    ib, i1, i2 = "rsi_base", "rsi_mult1", "rsi_mult2"
    chb, ch1, ch2 = "rsi_change_1_base", "rsi_change_1_mult1", "rsi_change_1_mult2"
    cob, co1, co2 = ("cross_below_overbought_base", "cross_below_overbought_mult1",
                     "cross_below_overbought_mult2")
    csb, cs1, cs2 = ("cross_above_oversold_base", "cross_above_oversold_mult1",
                     "cross_above_oversold_mult2")
    bib, bi2 = "bars_in_regime_base", "bars_in_regime_mult2"
    rcb, rc1, rc2 = ("regime_changed_base", "regime_changed_mult1",
                     "regime_changed_mult2")
    one = "1.0::DOUBLE"
    return f"""
it1 AS (
  SELECT c.*,
    COALESCE(lag({cs2}, 2) OVER ({w}), 0.0::DOUBLE) AS q_cs2s2,
    COALESCE(lag({cs1}, 1) OVER ({w}), 0.0::DOUBLE) AS q_cs1s1,
    COALESCE(lag({co2}, 2) OVER ({w}), 0.0::DOUBLE) AS q_co2s2,
    COALESCE(lag({co1}, 1) OVER ({w}), 0.0::DOUBLE) AS q_co1s1,
    COALESCE(sum({cs2}) OVER ({w} ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
             0.0::DOUBLE) AS q_rec10,
    COALESCE(sum({rc2}) OVER ({w} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
             0.0::DOUBLE) AS q_rec5,
    {rb} = {r1} AS q_bm1,
    {rb} = {r2} AS q_bm2,
    {_eqnan(r1, r2)} AS q_m1m2,
    q_bm1 AND q_m1m2 AS q_unan
  FROM al c
),
it2 AS (
  SELECT c.*,
    sum(CASE WHEN NOT q_unan THEN 1 ELSE 0 END) OVER ({cum}) AS q_cumnot_u,
    sum(CASE WHEN q_unan THEN 1 ELSE 0 END) OVER ({cum}) AS q_cum_u,
    {_b(f"{rb} = 2.0::DOUBLE AND {r1} = 2.0::DOUBLE AND {r2} = 2.0::DOUBLE")} AS all_intervals_bullish,
    {_b(f"{rb} = 0.0::DOUBLE AND {r1} = 0.0::DOUBLE AND {r2} = 0.0::DOUBLE")} AS all_intervals_bearish,
    {_b(f"{rb} = 1.0::DOUBLE AND {r1} = 1.0::DOUBLE AND {r2} = 1.0::DOUBLE")} AS all_intervals_neutral,
    CASE WHEN q_bm1 AND q_bm2 THEN 3.0::DOUBLE
         WHEN q_bm1 OR q_bm2 OR q_m1m2 THEN 2.0::DOUBLE
         ELSE {one} END AS regime_agreement_count,
    CASE WHEN q_bm1 THEN {rb} WHEN q_bm2 THEN {rb} WHEN q_m1m2 THEN {r1}
         ELSE {_nmin(_nmin(rb, r1), r2)} END AS regime_majority,
    {_b("q_bm1 AND q_bm2")} AS regime_unanimity,
    {_b(f"{rb} = 2.0::DOUBLE AND ({r1} = 0.0::DOUBLE OR {r2} = 0.0::DOUBLE)")} AS base_bull_higher_bear,
    {_b(f"{rb} = 0.0::DOUBLE AND ({r1} = 2.0::DOUBLE OR {r2} = 2.0::DOUBLE)")} AS base_bear_higher_bull,
    greatest(greatest({ib}, {i1}), {i2})
      - {_nmin(_nmin(ib, i1), i2)} AS divergence_strength,
    {_sgn(f"{ib} - {i2}")} AS divergence_direction,
    {_b(f"({rb} = 0.0::DOUBLE OR {rb} = 2.0::DOUBLE) AND {r2} = 1.0::DOUBLE")} AS base_extreme_higher_neutral,
    {_b(f"{rb} = 1.0::DOUBLE AND ({r2} = 0.0::DOUBLE OR {r2} = 2.0::DOUBLE)")} AS base_neutral_higher_extreme,
    {_b(_gt(ib, i1) + " AND " + _gt(i1, i2))} AS gradient_up,
    {_b(_lt(ib, i1) + " AND " + _lt(i1, i2))} AS gradient_down,
    {ib} - {i1} AS rsi_spread_base_mult1,
    {ib} - {i2} AS rsi_spread_base_mult2,
    {i1} - {i2} AS rsi_spread_mult1_mult2,
    {_sgn(f"{ib} - {i2}")} AS momentum_direction,
    abs({ib} - {i2}) AS momentum_magnitude,
    {_b(_eqnan(_sgn(chb), _sgn(ch2)))} AS momentum_consistency,
    {_b(f"{cob} = {one} OR {co1} = {one} OR {co2} = {one}")} AS any_interval_crossed_overbought,
    {_b(f"{cob} = {one} AND {co1} = {one} AND {co2} = {one}")} AS all_intervals_crossed_overbought,
    {_b(f"{csb} = {one} OR {cs1} = {one} OR {cs2} = {one}")} AS any_interval_crossed_oversold,
    {_b(f"{csb} = {one} AND {cs1} = {one} AND {cs2} = {one}")} AS all_intervals_crossed_oversold,
    {_b(f"{csb} = {one} AND ({r2} = 0.0::DOUBLE OR {r2} = 2.0::DOUBLE)")} AS base_crossed_while_higher_extreme,
    {_b(f"q_cs2s2 = {one} AND q_cs1s1 = {one} AND {csb} = {one}")} AS cascade_crossing_up,
    {_b(f"q_co2s2 = {one} AND q_co1s1 = {one} AND {cob} = {one}")} AS cascade_crossing_down,
    {_b(f"{csb} = {one} AND " + _gt("q_rec10", "0.0::DOUBLE"))} AS higher_crossed_first,
    {bib} / (CASE WHEN {bi2} = 0.0::DOUBLE THEN {one} ELSE {bi2} END) AS regime_persistence_ratio,
    {_b(f"{rcb} = {one} AND " + _gt("q_rec5", "0.0::DOUBLE"))} AS regime_change_cascade,
    {one} - (({rcb} + {rc1}) + {rc2}) / 3.0::DOUBLE AS regime_stability_score,
    {_b(f"{rcb} = {one} AND " + _gt("q_rec5", "0.0::DOUBLE"))} AS higher_interval_leads,
    (({rcb} * 4.0::DOUBLE) + ({rc1} * 2.0::DOUBLE)) + {rc2} AS regime_transition_pattern,
    (({ib} + {i1}) + {i2}) / 3.0::DOUBLE AS mean_rsi_across_intervals,
    sqrt(((({ib} - mean_rsi_across_intervals) * ({ib} - mean_rsi_across_intervals)
          + ({i1} - mean_rsi_across_intervals) * ({i1} - mean_rsi_across_intervals))
          + ({i2} - mean_rsi_across_intervals) * ({i2} - mean_rsi_across_intervals))
         / 2.0::DOUBLE) AS std_rsi_across_intervals,
    greatest(greatest({ib}, {i1}), {i2})
      - {_nmin(_nmin(ib, i1), i2)} AS rsi_range_across_intervals,
    ({ib} - mean_rsi_across_intervals)
      / (CASE WHEN std_rsi_across_intervals = 0.0::DOUBLE THEN {one}
              ELSE std_rsi_across_intervals END) AS rsi_skew_across_intervals,
    ({_b(_gt(chb, "0.0::DOUBLE"))} + {_b(_gt(ch1, "0.0::DOUBLE"))})
      + {_b(_gt(ch2, "0.0::DOUBLE"))} AS interval_momentum_agreement
  FROM it1 c
),
it3 AS (
  SELECT c.*,
    max(CASE WHEN q_unan THEN q_cumnot_u ELSE 0 END) OVER ({cum}) AS q_reset_u,
    max(CASE WHEN NOT q_unan THEN q_cum_u ELSE 0 END) OVER ({cum}) AS q_reset2_u,
    CAST(q_cumnot_u - q_reset_u AS DOUBLE) AS bars_since_alignment,
    CAST(q_cum_u - q_reset2_u AS DOUBLE) AS alignment_duration
  FROM it2 c
)"""


def _cfg_kw(cfg) -> dict:
    """Generator kwargs for a FeatureConfig (None -> flagship defaults)."""
    if cfg is None:
        return {"core": {}, "exp": {}, "m1": M1, "m2": M2}
    return {
        "core": {"atr_period": cfg.atr_period,
                 "adaptive_offset": cfg.adaptive_offset,
                 "velocity_span": cfg.velocity_span},
        "exp": {"level_up": cfg.level_up, "level_down": cfg.level_down,
                "stats_window": cfg.stats_window},
        "m1": cfg.multiplier_1 if cfg.multiplier_1 is not None else M1,
        "m2": cfg.multiplier_2 if cfg.multiplier_2 is not None else M2,
    }


def _multi_interval_ctes(availability: bool, cfg=None) -> str:
    """Shared CTE assembly for the 121-column pipeline (tokenize ->
    core recurrence x3 grains -> expanders -> alignment -> interactions),
    ending in ``it3``."""
    kw = _cfg_kw(cfg)
    exp_b, _ = expander_ctes("core", "feb", "i", **kw["exp"])
    exp_1, _ = expander_ctes("core_m1", "fe1", "i", **kw["exp"])
    exp_2, _ = expander_ctes("core_m2", "fe2", "i", **kw["exp"])
    return f"""{bars_cte()},
{core_cte('core_r', 'bars', **kw['core'])},
core AS MATERIALIZED (SELECT * FROM core_r),{exp_b},{_resample_cte('bars_m1', kw['m1'])},{_resample_cte('bars_m2', kw['m2'])},
{core_cte('core_m1_r', 'bars_m1', from_tokens=False, **kw['core'])},
core_m1 AS MATERIALIZED (SELECT * FROM core_m1_r),{exp_1},
{core_cte('core_m2_r', 'bars_m2', from_tokens=False, **kw['core'])},
core_m2 AS MATERIALIZED (SELECT * FROM core_m2_r),{exp_2},{_aligned_cte(availability, kw['m1'], kw['m2'])},{_interaction_ctes()}"""


def oracle_features_121(availability: bool = False, cfg=None) -> str:
    """Twin of ``queries.q_features_121`` / ``q_features_121_availability``
    (quantized to 1e-6).  ``cfg`` emits the SQL for a non-default
    FeatureConfig (second-config gate)."""
    # the aligned CTE already emits feature-named {col}_{grain} columns
    cols = ",\n       ".join(f"{_sql_r6(c)} AS {c}"
                             for c in multi_interval_columns(True))
    return f"""
WITH RECURSIVE {_multi_interval_ctes(availability, cfg)}
SELECT source, doc_id, i AS "offset", token,
       {cols}
FROM it3
ORDER BY doc_id, "offset"
"""


def oracle_features_43(cfg=None) -> str:
    """Twin of ``queries.q_features_43`` (quantized to 1e-6)."""
    kw = _cfg_kw(cfg)
    exp, final = expander_ctes("core", "e", "i", **kw["exp"])
    outs = []
    for c in FEATURE_COLUMNS:
        src = {"gamma_value": "gamma", "rsi_velocity": "vel"}.get(c, c)
        outs.append(f"{_sql_r6(src)} AS {c}")
    cols = ",\n       ".join(outs)
    return f"""
WITH RECURSIVE {bars_cte()},
{core_cte('core', 'bars', **kw['core'])},{exp}
SELECT source, doc_id, i AS "offset", token,
       {cols}
FROM {final}
ORDER BY doc_id, "offset"
"""


def oracle_core_rsi(cfg=None) -> str:
    """Twin of ``queries.q_core_rsi_features`` (quantized to 1e-6)."""
    kw = _cfg_kw(cfg)
    cols = ",\n       ".join(f"{_sql_r6(c)} AS {c}" for c in CORE_OUT_COLS)
    return f"""
WITH RECURSIVE {bars_cte()},
{core_cte('core', 'bars', **kw['core'])}
SELECT source, doc_id, i AS "offset", token,
       {cols}
FROM core
ORDER BY doc_id, "offset"
"""


def oracle_feature_ic_sweep(forward_k: int = 5, cfg=None) -> str:
    """Twin of ``queries.q_feature_ic_sweep``: per-feature Spearman IC of
    the 121-column matrix vs the ``forward_k``-step forward log return of
    the close proxy (the reference's actual IC use case,
    ``validation/information_coefficient.py:29-145``).

    Close comes from the recursive core CTE (sequential csum — bit-exact
    with the kernel); ranks are ``row_number`` over the deterministic
    (quantized value, doc_id, i) order, so the closed-form Spearman
    ``1 - 6*sum(d^2)/(n*(n^2-1))`` is EXACT integer arithmetic up to the
    final three float ops — engine-accumulation-order independent
    (``corr()`` partial sums would not be).  Exactness holds while
    sum(d^2) <= 2^53, i.e. n up to ~3M pairs per feature — far beyond
    the sf0.1 gate.

    ``cfg`` threads the SAME FeatureConfig the Spark query runs with
    into the CTE chain (ADVICE r3: the pair previously stayed in sync
    only because the Spark query's explicit config coincided with the
    module-default constants)."""
    cols = multi_interval_columns(True)
    qcols = ",\n       ".join(f"{_sql_r6(c)} AS {c}" for c in cols)
    in_list = ", ".join(cols)
    return f"""
WITH RECURSIVE {_multi_interval_ctes(False, cfg)},
feat AS (
  SELECT source, doc_id, i,
       {qcols}
  FROM it3
),
fw AS (
  SELECT source, doc_id, i,
         CASE WHEN close > 0.0::DOUBLE
                   AND LEAD(close, {forward_k}) OVER w > 0.0::DOUBLE
              THEN LN(LEAD(close, {forward_k}) OVER w / close) END AS fwd
  FROM core
  WINDOW w AS (PARTITION BY source, doc_id ORDER BY i)
),
base AS (
  SELECT f.*, {_sql_r6('fw.fwd')} AS fwd
  FROM feat f JOIN fw ON fw.source = f.source
   AND fw.doc_id = f.doc_id AND fw.i = f.i
  WHERE fw.fwd IS NOT NULL
),
melted AS (
  SELECT source, doc_id, i, fwd, feature, value
  FROM base UNPIVOT (value FOR feature IN ({in_list}))
),
nn AS (SELECT * FROM melted WHERE NOT isnan(value)),
ranked AS (
  SELECT feature,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY value ASC, source ASC, doc_id ASC,
                                     i ASC) AS rv,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY fwd ASC, source ASC, doc_id ASC,
                                     i ASC) AS rf
  FROM nn
)
SELECT feature,
       FLOOR((1.0::DOUBLE - (6.0::DOUBLE * SUM((rv - rf) * (rv - rf))::DOUBLE)
              / (COUNT(*)::DOUBLE
                 * (COUNT(*)::DOUBLE * COUNT(*)::DOUBLE - 1.0::DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS spearman_ic,
       COUNT(*) AS n_pairs
FROM ranked
GROUP BY feature
HAVING COUNT(*) >= 30
ORDER BY feature
"""


def oracle_rangebar_enrich() -> str:
    """Twin of ``queries.q_rangebar_enrich`` — the rangebar plugin's
    curated 6-column projection over the 43-feature expansion."""
    from atr_adaptive_laguerre_spark.adapters import RANGEBAR_FEATURE_MAP

    exp, final = expander_ctes("core", "e", "i")
    name_map = {"gamma_value": "gamma", "rsi_velocity": "vel"}
    cols = ",\n       ".join(
        f"{_sql_r6(name_map.get(src, src))} AS {dst}"
        for src, dst in RANGEBAR_FEATURE_MAP.items())
    return f"""
WITH RECURSIVE {bars_cte()},
{core_cte('core', 'bars')},{exp}
SELECT source, doc_id, i AS "offset", token,
       {cols}
FROM {final}
ORDER BY doc_id, "offset"
"""
