"""Training-data curation operators over the ``documents`` table.

Each stage has one private definition, shared by the catalog queries
and ``engine/corpus_job.py``.  The 15 queries (``QUERIES``; DuckDB
twins in ``ORACLES``) and the stages they call:

* ``corpus_curation``, ``corpus_curation_neardup``,
  ``corpus_curation_quantile`` — ``doc_scores`` → ``_keep_flags``
  (canonical content hash, token and quality floors, the optional
  ``_near_dup_drops`` left join) → ``_retention``; the quantile cut
  comes from ``_cum_hist``.
* ``train_val_split``, ``train_val_kl`` — ``_hash_split``.
* ``corpus_sample_stratified``, ``corpus_sample_weighted``
  (``priority_keys``), ``corpus_mix_sample`` — ``_md5_u32``; the mix
  sampler and ``corpus_domain_mix`` share ``_source_mass``.
* ``contamination_check``, ``decontaminate`` — ``_bench_hits``;
  ``_n_hits`` also feeds ``decontaminate_frame``.
* ``corpus_perplexity_buckets`` — both tercile cuts from one
  ``_cum_hist``.
* ``corpus_shuffle``, ``sequence_packing`` — ``_with_shuffle_pos`` and
  ``_with_tok_offset``, both the ``_exclusive_prefix_sum`` scan.
* ``dsir_select`` — ``dsir_scores`` (``_md5_u32`` gram buckets).

Every expression is JVM-side; every single-partition window runs over a
bounded frame (quantized values, buckets, sources or a top-N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6, _u6
from atr_adaptive_laguerre_spark.operators.dedup import (
    _jaccard_pairs_ctes, connected_components, shingles_col,
    verified_jaccard_pairs,
)
from atr_adaptive_laguerre_spark.operators.io import read_table
from atr_adaptive_laguerre_spark.operators.text import (
    SURPRISAL_CTE, _ngram_col, _surprisal_agg, _sw_sql, quality_cols,
    quality_sql, words_col,
)

MIN_TOKENS = 20
#: median-ish cut on the synthetic corpus (q50 ~0.38) — keeps the
#: decision non-degenerate in both directions at every sf
MIN_QUALITY = 0.38


def doc_scores(docs: DataFrame, *extra: str) -> DataFrame:
    """Per-doc curation scores ``(doc_id, source, *extra, token_count,
    quality_score, lang_guess, chash)``: token count, quality score and
    the heuristic language guess over the normalized words, and the md5
    content hash of the normalized text that the exact-dup keep groups
    on.  Callers select or cast what they need; unused columns are
    pruned from the plan."""
    w = words_col()
    stop_ratio, _ttr, quality = quality_cols(w)
    has_cjk = F.length(F.regexp_replace(F.col("text"),
                                        r"[^一-鿿]", "")) > 0
    guess = (F.when(has_cjk, "cjk")
             .when(stop_ratio >= 0.05, "en")
             .otherwise("other"))
    return docs.select(
        "doc_id", "source", *extra,
        F.size(w).alias("token_count"),
        quality.alias("quality_score"),
        guess.alias("lang_guess"),
        F.md5(F.concat_ws(" ", w)).alias("chash"))


def is_canonical():
    """Exact-dup keep over :func:`doc_scores` rows: true on the lowest
    doc_id of each content hash (one chash-keyed window)."""
    return (F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("chash")))


def _near_dup_drops(comp: DataFrame) -> DataFrame:
    """(doc_id): the non-canonical members of near-dup components
    ``(id, comp)`` — every doc whose component root is another doc."""
    return (comp.filter(F.col("id") != F.col("comp"))
            .select(F.col("id").alias("doc_id")))


def _keep_flags(scored: DataFrame, min_tokens: int, quality_ok,
                near_dup_drops: DataFrame | None = None) -> DataFrame:
    """Adds ``keep`` (int) to :func:`doc_scores` rows: 1 on a canonical
    doc with ``min_tokens`` tokens whose ``quality_ok`` Column holds and
    that is not in ``near_dup_drops`` (when given)."""
    keep = (F.col("token_count") >= min_tokens) & quality_ok
    if near_dup_drops is not None:
        # dedupe defensively: a drop set derived from a PAIR list holds
        # one row per pair, and a duplicated doc_id would multiply
        # scored rows through the join and inflate every report count.
        # No broadcast hint (VERDICT r3 #2): dup-heavy web corpora shed
        # 20-50% of docs as near-dups, so the drop set is
        # corpus-proportional and a forced broadcast OOMs at 100 TB;
        # the plain doc_id-keyed left join lets AQE pick broadcast at
        # runtime whenever the set happens to be small.  (A left_anti
        # can't be used here: dropped docs must still count in n_docs.)
        nd = (near_dup_drops.select("doc_id").distinct()
              .withColumn("nd_drop", F.lit(1)))
        scored = scored.join(nd, "doc_id", "left")
        keep = keep & F.col("nd_drop").isNull()
    return scored.withColumn("keep", (is_canonical() & keep).cast("int"))


def _retention(flagged: DataFrame, *keys: str) -> DataFrame:
    """Per-(source, lang_guess, *keys) retention report over
    :func:`_keep_flags` rows: doc counts, kept counts, kept token mass
    and the retention ratio."""
    n = F.count(F.lit(1))
    return (flagged.groupBy("source", "lang_guess", *keys)
            .agg(n.alias("n_docs"),
                 F.sum("keep").alias("n_kept"),
                 F.sum(F.col("keep") * F.col("token_count"))
                 .alias("tokens_kept"),
                 _r6(F.sum("keep").cast("double") / n).alias("kept_ratio"))
            .orderBy("source", "lang_guess"))


def _cum_hist(values: DataFrame, col: str,
              descending: bool = False) -> DataFrame:
    """(col, cum, n_total): each distinct value of ``col``, its
    cumulative row count in ascending (or descending) order, and the row
    total; the k-th value in that order is the first whose ``cum``
    reaches k.  ``col`` must be quantized: the single-partition window
    sees one row per distinct value, never the corpus."""
    hist = values.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    order = F.col(col).desc() if descending else F.col(col)
    upto = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        col, F.sum("cnt").over(upto).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_total"))


def curation_report(docs: DataFrame, min_tokens: int = MIN_TOKENS,
                    min_quality: float = MIN_QUALITY,
                    near_dup_drops: DataFrame | None = None) -> DataFrame:
    """Per-(source, lang_guess) retention report of the keep decision
    (canonical, ``token_count >= min_tokens``, ``quality_score >=
    min_quality``, not in ``near_dup_drops``).  The defaults are
    calibrated to the synthetic corpus (median-ish quality cut); a
    production pipeline passes its own thresholds."""
    return _retention(_keep_flags(
        doc_scores(docs), min_tokens,
        F.col("quality_score") >= min_quality, near_dup_drops))


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: :func:`curation_report` at the module defaults."""
    docs = read_table(spark, sf_dir, "documents")
    return curation_report(docs)


ORACLE_CORPUS_CURATION = f"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS has_cjk
  FROM documents
), scored AS (
  SELECT doc_id, source,
         length(words) AS token_count,
         {quality_sql()}
           AS quality_score,
         CASE WHEN has_cjk THEN 'cjk'
              WHEN length(list_filter(words,
                     x -> list_contains({_sw_sql()}, x)))::DOUBLE
                   / length(words) >= 0.05 THEN 'en'
              ELSE 'other' END AS lang_guess,
         md5(array_to_string(words, ' ')) AS chash
  FROM w
), flagged AS (
  SELECT source, lang_guess, token_count,
         CAST(doc_id = MIN(doc_id) OVER (PARTITION BY chash)
              AND token_count >= {MIN_TOKENS}
              AND quality_score >= {MIN_QUALITY} AS INT) AS keep
  FROM scored
)
SELECT source, lang_guess,
       COUNT(*) AS n_docs,
       SUM(keep)::BIGINT AS n_kept,
       SUM(keep * token_count)::BIGINT AS tokens_kept,
       FLOOR((SUM(keep)::DOUBLE / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS kept_ratio
FROM flagged
GROUP BY source, lang_guess
ORDER BY source, lang_guess
"""


def q_corpus_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_curation`` plus the near-dup gate: the non-canonical
    members of verified near-dup clusters (LSH pairs -> connected
    components, minimum doc_id canonical) are dropped too.  The near-dup
    arm runs over only the paired docs and joins back on doc_id with no
    mandatory broadcast (see :func:`_keep_flags`)."""
    docs = read_table(spark, sf_dir, "documents")
    comp = connected_components(verified_jaccard_pairs(docs))
    return curation_report(docs, near_dup_drops=_near_dup_drops(comp))


def _oracle_corpus_curation_neardup() -> str:
    return f"""
WITH RECURSIVE {_jaccard_pairs_ctes()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, reach.r AS r
  FROM edges e JOIN reach ON e.b = reach.id
),
nd AS (
  SELECT id AS doc_id FROM reach GROUP BY id HAVING id != MIN(r)
),
w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS has_cjk
  FROM documents
), scored AS (
  SELECT doc_id, source,
         length(words) AS token_count,
         {quality_sql()}
           AS quality_score,
         CASE WHEN has_cjk THEN 'cjk'
              WHEN length(list_filter(words,
                     x -> list_contains({_sw_sql()}, x)))::DOUBLE
                   / length(words) >= 0.05 THEN 'en'
              ELSE 'other' END AS lang_guess,
         md5(array_to_string(words, ' ')) AS chash
  FROM w
), flagged AS (
  SELECT s.source, s.lang_guess, s.token_count,
         CAST(s.doc_id = MIN(s.doc_id) OVER (PARTITION BY chash)
              AND nd.doc_id IS NULL
              AND s.token_count >= {MIN_TOKENS}
              AND s.quality_score >= {MIN_QUALITY} AS INT) AS keep
  FROM scored s LEFT JOIN nd ON nd.doc_id = s.doc_id
)
SELECT source, lang_guess,
       COUNT(*) AS n_docs,
       SUM(keep)::BIGINT AS n_kept,
       SUM(keep * token_count)::BIGINT AS tokens_kept,
       FLOOR((SUM(keep)::DOUBLE / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS kept_ratio
FROM flagged
GROUP BY source, lang_guess
ORDER BY source, lang_guess
"""


#: catalog query's quantile — deliberately NOT the median so the gate
#: proves the parameter is live, not coinciding with a default
QUALITY_QUANTILE = 0.6


def curation_report_quantile(docs: DataFrame,
                             quality_quantile: float = 0.5,
                             min_tokens: int = MIN_TOKENS) -> DataFrame:
    """Curation with a DATA-DRIVEN quality cut: the threshold is the
    corpus's own r6-quantized quality score at ascending rank
    ``ceil(quality_quantile * n)`` — the reference thresholds regimes
    by quantile (``validation/ood_robustness.py:79-86``), and a
    rank-defined ("type-1") quantile is exactly reproducible across
    engines, unlike interpolated or approximate ones.  The report
    carries the threshold used (``quality_thr``).

    Scale shape: no corpus-sized sort — the cut is read from the
    :func:`_cum_hist` of the quantized score (<= 10^6+1 rows for any
    corpus), and the one-row threshold is broadcast into the per-doc
    decision, keeping :func:`curation_report`'s two-shuffle plan."""
    scored = doc_scores(docs).withColumn("q6", _r6(F.col("quality_score")))
    k = F.ceil(F.lit(quality_quantile) * F.col("n_total")).cast("bigint")
    thr = (_cum_hist(scored, "q6")     # <= 10^6+1 rows by construction
           .filter(F.col("cum") >= k)
           .agg(F.min("q6").alias("quality_thr")))
    return _retention(_keep_flags(
        scored.crossJoin(F.broadcast(thr)), min_tokens,
        F.col("q6") >= F.col("quality_thr")), "quality_thr")


def q_corpus_curation_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: :func:`curation_report_quantile` at
    ``QUALITY_QUANTILE`` (non-default, so the gate exercises the
    parameter)."""
    docs = read_table(spark, sf_dir, "documents")
    return curation_report_quantile(docs, quality_quantile=QUALITY_QUANTILE)


ORACLE_CORPUS_CURATION_QUANTILE = f"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS has_cjk
  FROM documents
), scored AS (
  SELECT doc_id, source,
         length(words) AS token_count,
         FLOOR(({quality_sql()}) * 1000000 + 0.5) / 1000000 AS q6,
         CASE WHEN has_cjk THEN 'cjk'
              WHEN length(list_filter(words,
                     x -> list_contains({_sw_sql()}, x)))::DOUBLE
                   / length(words) >= 0.05 THEN 'en'
              ELSE 'other' END AS lang_guess,
         md5(array_to_string(words, ' ')) AS chash
  FROM w
), hist AS (
  SELECT q6, COUNT(*) AS cnt FROM scored GROUP BY q6
), cum AS (
  SELECT q6,
         SUM(cnt) OVER (ORDER BY q6
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER () AS n_total
  FROM hist
), thr AS (
  SELECT MIN(q6) AS quality_thr FROM cum
  WHERE cum >= CAST(CEIL({QUALITY_QUANTILE} * n_total) AS BIGINT)
), flagged AS (
  SELECT s.source, s.lang_guess, t.quality_thr, s.token_count,
         CAST(s.doc_id = MIN(s.doc_id) OVER (PARTITION BY s.chash)
              AND s.token_count >= {MIN_TOKENS}
              AND s.q6 >= t.quality_thr AS INT) AS keep
  FROM scored s CROSS JOIN thr t
)
SELECT source, lang_guess, quality_thr,
       COUNT(*) AS n_docs,
       SUM(keep)::BIGINT AS n_kept,
       SUM(keep * token_count)::BIGINT AS tokens_kept,
       FLOOR((SUM(keep)::DOUBLE / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS kept_ratio
FROM flagged
GROUP BY source, lang_guess, quality_thr
ORDER BY source, lang_guess
"""


TRAIN_FRACTION = 0.9


def _md5_u32(x):
    """The first 32 bits of md5(x) as an unsigned integer (a decimal
    string; callers cast) — the engine-portable hash behind every
    deterministic split, sample and bucket here (DuckDB spells it
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(x), 1, 8), 16, 10)


def _hash_split():
    """'train' / 'val' per doc: md5(doc_id) mapped to [0, 1) and cut at
    ``TRAIN_FRACTION``."""
    frac = (_md5_u32(F.col("doc_id").cast("string")).cast("double")
            / F.lit(float(16 ** 8)))
    return F.when(frac < TRAIN_FRACTION, "train").otherwise("val")


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val split — the assignment a
    training-data pipeline needs to be reproducible across runs and
    engines: split = md5(doc_id) mapped to [0,1) and thresholded, so a
    document's assignment never depends on corpus size, row order, or
    partitioning.  Reports per (source, split) document and character
    mass.  One shuffle (the report groupBy); the assignment itself is a
    stateless per-row expression."""
    docs = read_table(spark, sf_dir, "documents")
    return (docs.select("source", _hash_split().alias("split"),
                        F.col("n_chars"))
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("n_chars"))
            .orderBy("source", "split"))


ORACLE_TRAIN_VAL_SPLIT = f"""
WITH assigned AS (
  SELECT source, n_chars,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                   ::DOUBLE / {float(16 ** 8)} < {TRAIN_FRACTION}
              THEN 'train' ELSE 'val' END AS split
  FROM documents
)
SELECT source, split,
       COUNT(*) AS n_docs,
       SUM(n_chars)::BIGINT AS n_chars
FROM assigned
GROUP BY source, split
ORDER BY source, split
"""


def q_train_val_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-representativeness check: per-source KL divergence
    between the train and val token unigram distributions under the
    deterministic hash split — the standard "is my held-out set
    distributionally representative" validation a pipeline runs after
    splitting (a large KL flags leakage-safe but skewed splits).
    Add-one smoothing over the source's joint vocabulary makes both
    distributions proper (KL >= 0, finite).

    Scale shape: one (source, token) groupBy (vocab-linear, map-side
    combine), per-source totals via windows PARTITIONED by source over
    the vocab-sized frame, one tiny report groupBy.  Determinism:
    counts are exact ints; each per-token term is a short chain of
    correctly-rounded double ops quantized to pico-nats BEFORE the
    sum, so accumulation is exact integer arithmetic in both
    engines."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("source", _hash_split().alias("split"),
                      F.explode(words_col()).alias("t"))
    ct = (tok.groupBy("source", "t")
          .agg(F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
               .cast("bigint").alias("ctr"),
               F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
               .cast("bigint").alias("cva")))
    ws = Window.partitionBy("source")
    ct = (ct.withColumn("ntr", F.sum("ctr").over(ws))
          .withColumn("nva", F.sum("cva").over(ws))
          .withColumn("v", F.count(F.lit(1)).over(ws)))
    p = (F.col("ctr") + 1).cast("double") / (F.col("ntr")
                                             + F.col("v")).cast("double")
    q = (F.col("cva") + 1).cast("double") / (F.col("nva")
                                             + F.col("v")).cast("double")
    term = F.floor(p * F.log(p / q) * 1e12 + F.lit(0.5)).cast("bigint")
    return (ct.withColumn("term_pico", term)
            .groupBy("source")
            .agg(F.max("ntr").alias("n_train_tokens"),
                 F.max("nva").alias("n_val_tokens"),
                 F.max("v").alias("vocab"),
                 _r6((F.sum("term_pico").cast("double") / 1e12))
                 .alias("kl_nats"))
            .orderBy("source"))


ORACLE_TRAIN_VAL_KL = f"""
WITH tok AS (
  SELECT source,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                   ::DOUBLE / {float(16 ** 8)} < {TRAIN_FRACTION}
              THEN 'train' ELSE 'val' END AS split,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents
), ct AS (
  SELECT source, t,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS ctr,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS cva
  FROM tok GROUP BY source, t
), tot AS (
  SELECT *,
         SUM(ctr) OVER (PARTITION BY source) AS ntr,
         SUM(cva) OVER (PARTITION BY source) AS nva,
         COUNT(*) OVER (PARTITION BY source) AS v
  FROM ct
), terms AS (
  SELECT source, ntr, nva, v,
         FLOOR(((ctr + 1)::DOUBLE / (ntr + v)::DOUBLE)
               * ln(((ctr + 1)::DOUBLE / (ntr + v)::DOUBLE)
                    / ((cva + 1)::DOUBLE / (nva + v)::DOUBLE))
               * 1e12 + 0.5)::BIGINT AS term_pico
  FROM tot
)
SELECT source,
       MAX(ntr)::BIGINT AS n_train_tokens,
       MAX(nva)::BIGINT AS n_val_tokens,
       MAX(v)::BIGINT AS vocab,
       FLOOR((SUM(term_pico)::DOUBLE / 1e12) * 1000000 + 0.5) / 1000000
         AS kl_nats
FROM terms
GROUP BY source
ORDER BY source
"""


SAMPLE_RATE_BASE = 0.25
SAMPLE_RATE_SPAN = 0.5


def q_corpus_sample_stratified(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED corpus sampling — the per-source
    down-sampling step of a data-mixture pipeline (web gets 30 %, curated
    sources 70 %, ...): each source carries its own sampling rate, and a
    document's keep decision is a pure hash of its id, so the sample is
    reproducible across runs, engines, corpus sizes, and partitionings
    (the same properties as ``train_val_split``, per stratum).  Here the
    per-source rate is itself derived deterministically from the source
    name (md5 byte -> [0.25, 0.75]) so the query is self-contained; a
    production pipeline passes an explicit source->rate map.  Reports
    per-source doc counts, sampled counts, the rate applied, and the
    realized ratio.

    Scale shape: the assignment is a stateless per-row expression (no
    join — the rate derives from the row's own source column); the only
    shuffle is the report groupBy.  Nothing here depends on corpus
    size."""
    docs = read_table(spark, sf_dir, "documents")
    rate = (F.lit(SAMPLE_RATE_BASE)
            + F.lit(SAMPLE_RATE_SPAN)
            * (F.conv(F.substring(F.md5(F.col("source")), 1, 2), 16, 10)
               .cast("double") / F.lit(255.0)))
    frac = (_md5_u32(F.concat(F.col("doc_id").cast("string"),
                              F.lit("#sample"))).cast("double")
            / F.lit(float(16 ** 8)))
    keep = (frac < rate).cast("int")
    return (docs.select("source", rate.alias("rate"), keep.alias("keep"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("keep").alias("n_sampled"),
                 _r6(F.first("rate")).alias("sample_rate"),
                 _r6(F.sum("keep").cast("double") / F.count(F.lit(1)))
                 .alias("sampled_ratio"))
            .orderBy("source"))


ORACLE_CORPUS_SAMPLE_STRATIFIED = f"""
WITH assigned AS (
  SELECT source,
         {SAMPLE_RATE_BASE} + {SAMPLE_RATE_SPAN}
           * (('0x' || substr(md5(source), 1, 2))::BIGINT::DOUBLE / 255.0)
           AS rate,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '#sample'),
                    1, 8))::BIGINT::DOUBLE / {float(16 ** 8)}
                   < {SAMPLE_RATE_BASE} + {SAMPLE_RATE_SPAN}
                     * (('0x' || substr(md5(source), 1, 2))
                        ::BIGINT::DOUBLE / 255.0)
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(keep)::BIGINT AS n_sampled,
       FLOOR(ANY_VALUE(rate) * 1000000 + 0.5) / 1000000 AS sample_rate,
       FLOOR((SUM(keep)::DOUBLE / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS sampled_ratio
FROM assigned
GROUP BY source
ORDER BY source
"""


#: weighted-sample size and the key-quantization grid (see
#: :func:`q_corpus_sample_weighted`).
WEIGHTED_SAMPLE_N = 50
PRIO_GRID = 1e12


def priority_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_chars, key_q): the deterministic
    Efraimidis-Spirakis priority key of every doc (see
    :func:`q_corpus_sample_weighted` for semantics).  Stateless per-row
    expression — shared by the batch query and the streaming
    reservoir."""
    m = float(16 ** 8)
    u = ((_md5_u32(F.concat(F.col("doc_id").cast("string"),
                            F.lit("#prio"))).cast("double")
          + F.lit(1.0)) / F.lit(m + 1.0))
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key_q = F.floor(F.log(u) / w * F.lit(PRIO_GRID)).cast("bigint")
    return docs.select("doc_id", "source", "n_chars",
                       key_q.alias("key_q"))


def q_corpus_sample_weighted(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006 priority sampling): each doc draws a deterministic
    hash-uniform u ∈ (0, 1) and competes with key u^(1/w), w = its
    char length; the global top-``WEIGHTED_SAMPLE_N`` keys ARE a
    w-weighted sample without replacement.  The length-proportional
    draw a mixture pipeline uses when "sample 1 % of the TOKENS, not
    1 % of the docs" is the actual budget.

    Scale shape: key assignment is a stateless per-row expression
    (no join, no corpus shuffle) and the global top-N plans as
    ``TakeOrderedAndProject`` (per-partition heaps + driver merge,
    plan-asserted) — ONE pass, no sort, no self-join, nothing
    corpus-size-dependent on the driver.

    Determinism: u is a 32-bit md5 slice (engine-portable integer
    arithmetic) and the ranking key is ln(u)/w — monotone in
    u^(1/w) — quantized to an integer 1e-12 grid BEFORE ranking with
    doc_id tie-breaks, so sample membership is engine-identical (the
    same quantize-then-rank idiom as the cosine top-k family; docs
    whose key collapses onto the same grid cell resolve by id in both
    engines)."""
    docs = read_table(spark, sf_dir, "documents")
    ranked = (priority_keys(docs)
              .orderBy(F.col("key_q").desc(), F.col("doc_id").asc())
              .limit(WEIGHTED_SAMPLE_N))
    win = Window.orderBy(F.col("key_q").desc(), F.col("doc_id").asc())
    return (ranked.withColumn("rank", F.row_number().over(win))
            .select("rank", "doc_id", "source", "n_chars", "key_q")
            .orderBy("rank"))


ORACLE_CORPUS_SAMPLE_WEIGHTED = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         FLOOR(ln((('0x' || substr(md5(doc_id::VARCHAR || '#prio'), 1, 8))
                     ::BIGINT + 1.0) / {float(16 ** 8) + 1.0})
               / GREATEST(n_chars, 1)
               * {PRIO_GRID})::BIGINT AS key_q
  FROM documents
), ranked AS (
  SELECT doc_id, source, n_chars, key_q,
         ROW_NUMBER() OVER (ORDER BY key_q DESC, doc_id ASC) AS rank
  FROM keyed
)
SELECT rank, doc_id, source, n_chars, key_q
FROM ranked WHERE rank <= {WEIGHTED_SAMPLE_N}
ORDER BY rank
"""


CONTAM_NGRAM = 8
BENCHMARK_SOURCE = "src0"


def _bench_hits(train: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, s): each training doc's word ``CONTAM_NGRAM``-grams that
    some ``bench`` doc also has.  Scale shape: one linear explode of the
    training side, equi-joined on the shingle key to the benchmark's
    distinct-shingle set — eval-suite-sized, so hot-shingle fan-out is
    bounded by it; no corpus self-join, and no broadcast hint (AQE
    broadcasts the benchmark side when small)."""
    sh = shingles_col(CONTAM_NGRAM)
    bench_sh = bench.select(F.explode(sh).alias("s")).distinct()
    return (train.select("doc_id", F.explode(sh).alias("s"))
            .join(bench_sh, "s"))


def _n_hits(train: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, n_hits): distinct benchmark shingles per training doc
    that shares at least one."""
    return (_bench_hits(train, bench).groupBy("doc_id")
            .agg(F.count_distinct("s").alias("n_hits")))


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval CONTAMINATION check — the overlap audit every LLM
    training pipeline runs before shipping a data mix (the GPT-3/PaLM
    papers' n-gram collision methodology): treat one source as the
    held-out benchmark set, mark any training document that shares a
    word ``CONTAM_NGRAM``-gram with any benchmark document, and report
    per-source contamination counts and ratios: :func:`_bench_hits`
    plus one doc_id distinct."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != BENCHMARK_SOURCE)
    bench = docs.filter(F.col("source") == BENCHMARK_SOURCE)
    contam = (_bench_hits(train, bench).select("doc_id").distinct()
              .withColumn("c", F.lit(1)))
    return (train.select("doc_id", "source")
            .join(contam, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce(F.col("c"), F.lit(0)))
                 .alias("n_contaminated"),
                 _r6(F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("double")
                     / F.count(F.lit(1))).alias("contamination_ratio"))
            .orderBy("source"))


ORACLE_CONTAMINATION_CHECK = f"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), shl AS (
  SELECT doc_id, source,
         list_distinct([array_to_string(words[i:i+{CONTAM_NGRAM - 1}], ' ')
                        for i in range(1, length(words)
                                          - {CONTAM_NGRAM - 2})])
           AS sh
  FROM w
), bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM shl
  WHERE source = '{BENCHMARK_SOURCE}'
), tr AS (
  SELECT doc_id, unnest(sh) AS s FROM shl
  WHERE source != '{BENCHMARK_SOURCE}'
), contam AS (
  SELECT DISTINCT doc_id FROM tr JOIN bench USING (s)
), base AS (
  SELECT doc_id, source FROM documents
  WHERE source != '{BENCHMARK_SOURCE}'
)
SELECT b.source,
       COUNT(*) AS n_docs,
       COUNT(c.doc_id)::BIGINT AS n_contaminated,
       FLOOR((COUNT(c.doc_id)::DOUBLE / COUNT(*)) * 1000000 + 0.5)
         / 1000000 AS contamination_ratio
FROM base b LEFT JOIN contam c ON c.doc_id = b.doc_id
GROUP BY b.source
ORDER BY b.source
"""


#: drop a training doc at this many distinct benchmark-shingle hits
CONTAM_DROP_MIN = 1


def q_decontaminate(spark: SparkSession, sf_dir: str,
                    min_hits: int = CONTAM_DROP_MIN) -> DataFrame:
    """Train/eval DECONTAMINATION — the removal action paired with the
    `contamination_check` audit (the GPT-3 appendix methodology: docs
    sharing n-grams with an eval benchmark are dropped from training,
    not just counted).  Per training document: the number of DISTINCT
    benchmark ``CONTAM_NGRAM``-grams it collides with (``n_hits``) and
    the keep decision (``kept = n_hits < min_hits``) — the audit's
    plan with a doc_id groupBy.  ``n_hits`` is an exact integer, so the
    keep decision cannot drift between engines."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != BENCHMARK_SOURCE)
    bench = docs.filter(F.col("source") == BENCHMARK_SOURCE)
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
    return (train.select("doc_id", "source")
            .join(_n_hits(train, bench), "doc_id", "left")
            .select("doc_id", "source", n_hits.alias("n_hits"),
                    (n_hits < min_hits).cast("int").alias("kept"))
            .orderBy("doc_id"))


ORACLE_DECONTAMINATE = f"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), shl AS (
  SELECT doc_id, source,
         list_distinct([array_to_string(words[i:i+{CONTAM_NGRAM - 1}], ' ')
                        for i in range(1, length(words)
                                          - {CONTAM_NGRAM - 2})])
           AS sh
  FROM w
), bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM shl
  WHERE source = '{BENCHMARK_SOURCE}'
), tr AS (
  SELECT doc_id, unnest(sh) AS s FROM shl
  WHERE source != '{BENCHMARK_SOURCE}'
), hits AS (
  SELECT tr.doc_id, COUNT(DISTINCT tr.s)::BIGINT AS n_hits
  FROM tr JOIN bench USING (s)
  GROUP BY tr.doc_id
)
SELECT t.doc_id, t.source,
       COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       (CASE WHEN COALESCE(h.n_hits, 0) < {CONTAM_DROP_MIN}
             THEN 1 ELSE 0 END) AS kept
FROM (SELECT doc_id, source FROM documents
      WHERE source != '{BENCHMARK_SOURCE}') t
LEFT JOIN hits h ON t.doc_id = h.doc_id
ORDER BY t.doc_id
"""


def decontaminate_frame(train: DataFrame, bench: DataFrame,
                        min_hits: int = CONTAM_DROP_MIN) -> DataFrame:
    """Frame-level decontamination for pipeline composition (the
    removal twin of :func:`q_decontaminate`, which also reports the
    audit columns): drop from ``train`` every doc sharing >=
    ``min_hits`` distinct word ``CONTAM_NGRAM``-grams with any ``bench``
    doc.  Both frames need a ``text`` column; ``train`` needs
    ``doc_id``.  The catalog query's :func:`_n_hits`, then an id-keyed
    anti-join (no broadcast hint)."""
    contaminated = (_n_hits(train, bench)
                    .filter(F.col("n_hits") >= min_hits)
                    .select("doc_id"))
    return train.join(contaminated, "doc_id", "left_anti")


def _source_mass(docs: DataFrame) -> DataFrame:
    """(source, n_docs, tokens, sq6): per-source doc count and token
    mass, and the token mass's square root as an exact micro-unit
    integer — the T=2 mixture weight's numerator.  One groupBy on a
    tiny key (domains are O(100) at 100 TB; map-side partial
    aggregation sends one row per map partition, not per doc)."""
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words_col())).alias("tokens"))
    return per.withColumn("sq6",
                          _u6(F.sqrt(F.col("tokens").cast("double"))))


def q_corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture weights per source domain — the sampling-weight
    computation of a multi-domain training mix (the XLM/LLaMA idiom):
    the natural weight (a source's share of total token mass) and a
    temperature-scaled weight p_i^(1/T) / sum(p_j^(1/T)) at T=2 that
    up-samples small domains.  T=2 means the exponent is 0.5 — sqrt is
    IEEE-754 correctly-rounded on BOTH engines (unlike pow(x, 0.3),
    whose libm last-ulp differs between the JVM and DuckDB), and the
    scaled mass is fixed-point-quantized to an exact BIGINT before the
    cross-source sum, so every division here is a ratio of exact
    integers and the twins stay bit-equal.

    Scale shape: the :func:`_source_mass` groupBy, then a window over
    its O(#sources) rows; nothing after that groupBy scales with the
    corpus."""
    per = _source_mass(read_table(spark, sf_dir, "documents"))
    w = Window.partitionBy()       # O(#sources) rows by construction
    return (per.select(
        "source", "n_docs", "tokens",
        _r6(F.col("tokens").cast("double")
            / F.sum("tokens").over(w)).alias("natural_weight"),
        _r6(F.col("sq6").cast("double")
            / F.sum("sq6").over(w)).alias("mix_weight_t2"))
        .orderBy("source"))


ORACLE_CORPUS_DOMAIN_MIX = """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(length(regexp_split_to_array(trim(lower(text)),
             '\\s+')))::BIGINT AS tokens
  FROM documents GROUP BY source
), q AS (
  SELECT source, n_docs, tokens,
         CAST(FLOOR(sqrt(tokens::DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS sq6
  FROM per
)
SELECT source, n_docs, tokens,
       FLOOR(tokens::DOUBLE / (SUM(tokens) OVER ())::DOUBLE
             * 1000000 + 0.5) / 1000000 AS natural_weight,
       FLOOR(sq6::DOUBLE / (SUM(sq6) OVER ())::DOUBLE
             * 1000000 + 0.5) / 1000000 AS mix_weight_t2
FROM q
ORDER BY source
"""


#: mixture sampling: keep 1/MIX_BUDGET_DEN of the corpus token mass
MIX_BUDGET_DEN = 2


def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling — the step that turns the T=2
    domain-mix WEIGHTS (``corpus_domain_mix``) into an actual training
    subset: each source's token target is its mixture share of a global
    budget (here ``total_tokens / MIX_BUDGET_DEN``), its sampling rate
    is ``min(1, target/tokens)``, and each document keeps or drops by a
    pure salted hash of its id — reproducible across runs, engines,
    corpus sizes, and partitionings (the ``train_val_split`` property).
    Up-sampled-beyond-capacity domains cap at rate 1 (epoch repetition
    is a training-loader concern, not a corpus-sampling one).

    Scale shape: the :func:`_source_mass` groupBy + a window over its
    O(#sources) rows; the rate table joins back to doc grain on
    ``source`` (broadcast — plan-asserted); the keep decision is a
    stateless per-row expression.  Determinism: rates live in exact
    PPM integers; the only float steps (budget/Σsq6, target/tokens) are
    single correctly-rounded binary64 ops on identical inputs, so both
    engines floor the same values."""
    docs = read_table(spark, sf_dir, "documents")
    per = _source_mass(docs)
    w = Window.partitionBy()       # O(#sources) rows by construction
    budget = F.expr(f"sum(tokens) over () div {MIX_BUDGET_DEN}")
    rates = (per
             .withColumn("target_tokens",
                         F.floor(budget.cast("double")
                                 / F.sum("sq6").over(w).cast("double")
                                 * F.col("sq6").cast("double"))
                         .cast("bigint"))
             .withColumn("rate_ppm",
                         F.least(F.lit(1000000).cast("bigint"),
                                 F.floor(F.col("target_tokens")
                                         .cast("double")
                                         / F.col("tokens").cast("double")
                                         * 1000000.0).cast("bigint"))))
    ppm = (_md5_u32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
           .cast("bigint") % 1000000)
    kept = (docs.select("source", "doc_id",
                        F.size(words_col()).cast("bigint")
                        .alias("doc_tokens"),
                        ppm.alias("ppm"))
            .join(rates.select("source", "rate_ppm"), "source")
            .withColumn("keep", (F.col("ppm") < F.col("rate_ppm"))
                        .cast("bigint")))
    keptagg = kept.groupBy("source").agg(
        F.sum("keep").alias("n_kept"),
        F.sum(F.col("keep") * F.col("doc_tokens")).alias("tokens_kept"))
    return (rates.join(keptagg, "source")
            .select("source", "n_docs", "tokens", "target_tokens",
                    "rate_ppm", "n_kept", "tokens_kept")
            .orderBy("source"))


ORACLE_CORPUS_MIX_SAMPLE = f"""
WITH per AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs,
         SUM(length(regexp_split_to_array(trim(lower(text)),
             '\\s+')))::BIGINT AS tokens
  FROM documents GROUP BY source
), q AS (
  SELECT source, n_docs, tokens,
         CAST(FLOOR(sqrt(tokens::DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS sq6
  FROM per
), rates AS (
  SELECT source, n_docs, tokens,
         FLOOR(((SUM(tokens) OVER () // {MIX_BUDGET_DEN})::DOUBLE
                / (SUM(sq6) OVER ())::DOUBLE) * sq6::DOUBLE)::BIGINT
           AS target_tokens
  FROM q
), r2 AS (
  SELECT *,
         LEAST(1000000,
               FLOOR(target_tokens::DOUBLE / tokens::DOUBLE
                     * 1000000.0)::BIGINT) AS rate_ppm
  FROM rates
), kept AS (
  SELECT d.source,
         length(regexp_split_to_array(trim(lower(d.text)),
                '\\s+'))::BIGINT AS doc_tokens,
         (('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 8))
          ::BIGINT % 1000000 < r2.rate_ppm)::BIGINT AS keep
  FROM documents d JOIN r2 USING (source)
)
SELECT r2.source, r2.n_docs, r2.tokens, r2.target_tokens, r2.rate_ppm,
       SUM(kept.keep)::BIGINT AS n_kept,
       SUM(kept.keep * kept.doc_tokens)::BIGINT AS tokens_kept
FROM r2 JOIN kept ON r2.source = kept.source
GROUP BY r2.source, r2.n_docs, r2.tokens, r2.target_tokens, r2.rate_ppm
ORDER BY r2.source
"""


def q_corpus_perplexity_buckets(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3): score every document with the corpus-trained bigram LM
    (``lm_bigram_surprisal``'s model, shared plan), cut the corpus at
    the surprisal TERCILES, and report per (source, bucket) document
    counts and token mass — the standard "train on head+middle, drop
    tail" curation signal.

    Scale shape: both tercile thresholds are rank-defined (type-1)
    quantiles read from one :func:`_cum_hist` of the milli-nat-quantized
    scores (~20k rows for any corpus size); the 1-row threshold frame
    broadcasts back.  Bucket membership and thresholds are exact integer
    comparisons, so both engines agree on every tie."""
    docs = read_table(spark, sf_dir, "documents")
    sc = (docs.select("doc_id", "source",
                      F.size(words_col()).cast("bigint")
                      .alias("n_tokens"))
          .join(_surprisal_agg(docs), "doc_id", "left")
          .select("doc_id", "source", "n_tokens",
                  F.coalesce(
                      F.floor((F.col("s_micro").cast("double")
                               / F.col("n_bigrams") / 1000000.0)
                              * 1000.0 + 0.5).cast("bigint"),
                      F.lit(0).cast("bigint")).alias("sm")))
    # O(score-range/1e-3) rows, not O(N)
    thr = _cum_hist(sc, "sm").agg(
        F.min(F.when(F.col("cum") >= F.expr("(n_total + 2) div 3"),
                     F.col("sm"))).alias("t33"),
        F.min(F.when(F.col("cum") >= F.expr("(2 * n_total + 2) div 3"),
                     F.col("sm"))).alias("t66"))
    bucket = (F.when(F.col("sm") <= F.col("t33"), "head")
              .when(F.col("sm") <= F.col("t66"), "middle")
              .otherwise("tail"))
    return (sc.crossJoin(thr)
            .select("source", bucket.alias("bucket"), "n_tokens", "sm")
            .groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens"),
                 F.min("sm").alias("min_score_milli"),
                 F.max("sm").alias("max_score_milli"))
            .orderBy("source", "bucket"))


def _oracle_perplexity_buckets() -> str:
    return SURPRISAL_CTE + """
, sc AS (
  SELECT d.doc_id, d.source,
         length(regexp_split_to_array(trim(lower(d.text)),
                '\\s+'))::BIGINT AS n_tokens,
         COALESCE(FLOOR((agg.s_micro::DOUBLE / agg.n_bigrams
                         / 1000000.0) * 1000.0 + 0.5)::BIGINT,
                  0) AS sm
  FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
), hist AS (
  SELECT sm, COUNT(*)::BIGINT AS cnt FROM sc GROUP BY sm
), cum AS (
  SELECT sm,
         SUM(cnt) OVER (ORDER BY sm
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS tot
  FROM hist
), thr AS (
  SELECT MIN(CASE WHEN cum >= (tot + 2) // 3 THEN sm END) AS t33,
         MIN(CASE WHEN cum >= (2 * tot + 2) // 3 THEN sm END) AS t66
  FROM cum
), bk AS (
  SELECT sc.source,
         CASE WHEN sc.sm <= thr.t33 THEN 'head'
              WHEN sc.sm <= thr.t66 THEN 'middle'
              ELSE 'tail' END AS bucket,
         sc.n_tokens, sc.sm
  FROM sc, thr
)
SELECT source, bucket,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS tokens,
       MIN(sm)::BIGINT AS min_score_milli,
       MAX(sm)::BIGINT AS max_score_milli
FROM bk
GROUP BY source, bucket
ORDER BY source, bucket
"""


#: hex chars of the shuffle key that name a bucket: 3 → 4096 buckets;
#: the level-2 offset window sees 4096 rows for ANY corpus size, and
#: within-bucket ranking parallelizes over corpus/4096-sized chunks
SHUFFLE_BUCKET_HEX = 3
#: output shards for the shuffled write (round-robin by position)
SHUFFLE_SHARDS = 8


def _exclusive_prefix_sum(d: DataFrame, bucket, order: tuple[str, ...],
                          value, out: str) -> DataFrame:
    """Adds ``out``: the sum of ``value`` over every row before this one
    in ``order`` — a distributed two-level scan, never a global window.
    ``bucket`` must be monotone in ``order`` (bucket-major order equals
    global order): (1) the running sum over the earlier rows of the
    same bucket, a window partitioned by bucket and fully parallel;
    (2) per-bucket totals (linear groupBy) and their running sum over
    the earlier buckets, the only single-partition window, over one row
    per bucket; (3) the bucket offsets joined back on the bucket key
    (AQE broadcasts that small side on its own — no forced hint)."""
    d = d.withColumn("_bkt", bucket)
    d = d.withColumn("_local", F.coalesce(F.sum(value).over(
        Window.partitionBy("_bkt").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    offs = (d.groupBy("_bkt").agg(F.sum(value).alias("_tot"))
            .select("_bkt", F.coalesce(F.sum("_tot").over(
                Window.orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
                .alias("_boff")))
    return (d.join(offs, "_bkt")
            .withColumn(out, (F.col("_boff") + F.col("_local"))
                        .cast("bigint"))
            .drop("_bkt", "_local", "_boff"))


def _with_shuffle_pos(d: DataFrame) -> DataFrame:
    """Adds ``shuffle_pos`` (the doc's global rank by the salted md5 of
    its doc_id, doc_id breaking ties — an exclusive running count over
    the first ``SHUFFLE_BUCKET_HEX`` hex chars of the key as buckets)
    and its round-robin output ``shard``."""
    key = F.md5(F.concat(F.col("doc_id").cast("string"),
                         F.lit(":shuffle")))
    return (_exclusive_prefix_sum(
        d.withColumn("_k", key), F.substring("_k", 1, SHUFFLE_BUCKET_HEX),
        ("_k", "doc_id"), F.lit(1), "shuffle_pos")
        .withColumn("shard", F.col("shuffle_pos") % SHUFFLE_SHARDS)
        .drop("_k"))


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order
    randomization step that runs between curation and sequence
    packing: every doc gets a pseudo-random sort key (md5 of its id +
    salt), a GLOBAL position in that order, and a round-robin output
    shard.  The permutation is a pure function of doc_id, so it is
    reproducible across runs, engines, and partitionings, and any
    subset of the corpus keeps its relative order (the same property
    ``train_val_split`` pins).

    Scale shape — global ranking WITHOUT a global sort/window: the
    position is an exclusive running count by the
    :func:`_exclusive_prefix_sum` two-level scan, bucketed by the first
    ``SHUFFLE_BUCKET_HEX`` hex chars of the key — a PREFIX of the sort
    key, so bucket-major order equals global key order.  Nothing
    single-partition ever sees more than 4096 rows; ties are impossible
    (doc_id tiebreak)."""
    docs = read_table(spark, sf_dir, "documents")
    return (_with_shuffle_pos(docs.select("doc_id"))
            .select("doc_id", "shuffle_pos", "shard")
            .orderBy("doc_id"))


ORACLE_CORPUS_SHUFFLE = f"""
WITH k AS (
  SELECT doc_id, md5(doc_id::VARCHAR || ':shuffle') AS k
  FROM documents
)
SELECT doc_id,
       (ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1)::BIGINT
         AS shuffle_pos,
       ((ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1)
        % {SHUFFLE_SHARDS})::BIGINT AS shard
FROM k
ORDER BY doc_id
"""


#: training context length (tokens) for sequence packing
SEQ_LEN = 256
#: doc_ids per prefix-sum bucket: the level-2 window sees
#: corpus_size / PACK_BUCKET_W rows (244k rows at 10^9 docs — a few MB;
#: recurse the same two-level construction once more at 10^12+)
PACK_BUCKET_W = 4096


def _with_tok_offset(d: DataFrame, order: str) -> DataFrame:
    """Adds ``tok_offset``: the ``n_tokens`` of every doc before this
    one in the integer column ``order`` — the concat-and-chunk packing
    offset, over ``order div PACK_BUCKET_W`` buckets."""
    return _exclusive_prefix_sum(
        d, F.expr(f"{order} div {PACK_BUCKET_W}"), (order,),
        F.col("n_tokens"), "tok_offset")


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are
    concatenated in doc_id order and cut into fixed ``SEQ_LEN``-token
    training sequences; per doc, report its global token offset, the
    first/last sequence it lands in, and how many sequences it spans
    (spans > 1 mean the doc is split across context windows).

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global window: a
    naive ``sum() over (order by doc_id)`` moves the whole corpus to
    one partition; :func:`_exclusive_prefix_sum` scans
    ``doc_id div PACK_BUCKET_W`` buckets instead, so its
    single-partition window sees corpus/4096 rows.  All sequence
    indices are exact integer arithmetic (``div``, no double
    division), so the DuckDB twin is bit-equal at any corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    packed = _with_tok_offset(
        docs.select("doc_id",
                    F.size(words_col()).cast("bigint").alias("n_tokens")),
        "doc_id")
    first = F.expr(f"tok_offset div {SEQ_LEN}")
    last = F.expr(f"(tok_offset + n_tokens - 1) div {SEQ_LEN}")
    empty = F.col("n_tokens") == 0
    return (packed.select(
        "doc_id", "n_tokens", "tok_offset",
        first.cast("bigint").alias("first_seq"),
        F.when(empty, first).otherwise(last).cast("bigint")
        .alias("last_seq"),
        F.when(empty, F.lit(0)).otherwise(last - first + 1)
        .cast("bigint").alias("n_seqs_spanned"))
        .orderBy("doc_id"))


ORACLE_SEQUENCE_PACKING = f"""
WITH d AS (
  SELECT doc_id,
         length(regexp_split_to_array(trim(lower(text)),
                '\\s+'))::BIGINT AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0)::BIGINT AS tok_offset
  FROM d
)
SELECT doc_id, n_tokens, tok_offset,
       (tok_offset // {SEQ_LEN})::BIGINT AS first_seq,
       (CASE WHEN n_tokens = 0 THEN tok_offset // {SEQ_LEN}
             ELSE (tok_offset + n_tokens - 1) // {SEQ_LEN}
        END)::BIGINT AS last_seq,
       (CASE WHEN n_tokens = 0 THEN 0
             ELSE (tok_offset + n_tokens - 1) // {SEQ_LEN}
                  - tok_offset // {SEQ_LEN} + 1
        END)::BIGINT AS n_seqs_spanned
FROM o
ORDER BY doc_id
"""


#: hashed n-gram feature buckets for DSIR (the paper uses 10k; scaled to
#: the synthetic corpus so every bucket gets mass at sf0.001)
DSIR_BUCKETS = 256
#: the "target domain" sample the importance weights steer toward
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
DSIR_TOP_N = 60


def dsir_scores(docs: DataFrame, is_target,
                n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-document DSIR importance weights (Xie et al., NeurIPS 2023:
    Data Selection via Importance Resampling): hashed unigram+bigram
    bag-of-ngrams models of the TARGET sample and the RAW corpus, and
    per-doc log importance weight  log w(x) = Σ_b c_b·(ln p̂_b − ln q̂_b)
    with add-one smoothing over the ``n_buckets`` feature buckets.

    ``is_target`` is a boolean Column over the doc row (e.g. a source
    membership test) marking the target-domain sample.

    Scale shape: ONE explode feeds a (doc_id, bucket) groupBy (the only
    corpus-mass shuffle); both LMs come from a single conditional-sum
    aggregate of that table (≤ ``n_buckets`` rows — broadcast back);
    the per-doc sum is a second doc-keyed groupBy.  At 100 TB persist
    the (doc_id, bucket) counts between the two passes — they are
    ≤ n_buckets rows per doc, far smaller than the token mass.

    Determinism: each bucket's ln p̂ and ln q̂ are quantized ONCE to
    integer micro-nats, so per-doc sums are exact integer arithmetic
    and partial-aggregation order cannot flip low bits (CLAUDE.md
    accumulation-order invariant); ln() runs on ratios of exact
    integers, identical in both engines."""
    cdoc = _dsir_buckets(docs, is_target, n_buckets)
    return _dsir_doc_scores(cdoc, _dsir_ratio(cdoc, n_buckets))


def _dsir_buckets(docs: DataFrame, is_target, n_buckets: int) -> DataFrame:
    """(doc_id, tgt, bucket, c): hashed unigram+bigram counts per doc."""
    w = words_col()
    grams = F.concat(w, _ngram_col(w, 2))
    bucket = _md5_u32(F.col("gram")).cast("bigint") % n_buckets
    return (docs.select("doc_id", is_target.alias("tgt"),
                        F.explode(grams).alias("gram"))
            .select("doc_id", "tgt", bucket.alias("bucket"))
            .groupBy("doc_id", "tgt", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def _dsir_ratio(cdoc: DataFrame, n_buckets: int,
                dense: bool = False) -> DataFrame:
    """(bucket, lpq_micro): per-bucket micro-nat log importance ratio.
    ``dense=True`` emits ALL ``n_buckets`` rows (zero-count buckets get
    the smoothed default) — required when the table is persisted as a
    model and later batches may hash into buckets the training corpus
    never touched."""
    counts = (cdoc.groupBy("bucket")
              .agg(F.sum("c").alias("cr"),
                   F.sum(F.when(F.col("tgt"), F.col("c"))
                         .otherwise(F.lit(0))).alias("ct")))
    if dense:
        allb = (cdoc.sparkSession.range(n_buckets)
                .select(F.col("id").alias("bucket")))
        counts = (allb.join(counts, "bucket", "left")
                  .select("bucket",
                          F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
                          F.coalesce(F.col("ct"), F.lit(0)).alias("ct")))
    totals = counts.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    b = F.lit(float(n_buckets))
    lmicro = lambda c, t: F.floor(  # noqa: E731
        F.log((c + F.lit(1.0)) / (t + b)) * F.lit(1000000.0)
        + F.lit(0.5)).cast("bigint")
    return (counts.crossJoin(F.broadcast(totals))
            .select("bucket",
                    (lmicro(F.col("ct").cast("double"),
                            F.col("tt").cast("double"))
                     - lmicro(F.col("cr").cast("double"),
                              F.col("tr").cast("double")))
                    .alias("lpq_micro")))


def _dsir_doc_scores(cdoc: DataFrame, ratio: DataFrame) -> DataFrame:
    """(doc_id, s_micro, n_grams): exact-integer per-doc weight sums."""
    return (cdoc.join(F.broadcast(ratio), "bucket")
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.col("lpq_micro")).alias("s_micro"),
                 F.sum("c").alias("n_grams")))


def build_dsir_model(docs: DataFrame, is_target,
                     model_dir: str,
                     n_buckets: int = DSIR_BUCKETS) -> None:
    """Persist the DSIR importance model — the "train once, score every
    shard" production shape (the inline :func:`q_dsir_select` re-derives
    the two n-gram LMs per call; a real selection job fits them once on
    the target sample + a corpus sample, then streams the 100 TB corpus
    through the stored per-bucket ratio table).

    The model is the DENSE (bucket, lpq_micro) table — every one of the
    ``n_buckets`` rows present, zero-count buckets carrying the smoothed
    default — so scoring is always a complete broadcast join no matter
    what later batches hash into."""
    cdoc = _dsir_buckets(docs, is_target, n_buckets)
    (_dsir_ratio(cdoc, n_buckets, dense=True)
     .write.mode("overwrite").parquet(f"{model_dir}/ratio"))


def score_dsir_batch(spark: SparkSession, docs: DataFrame,
                     model_dir: str,
                     n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Score a document batch against a :func:`build_dsir_model` store:
    one explode + one (doc_id, bucket) groupBy over the BATCH only,
    then a broadcast join against the ≤ ``n_buckets``-row ratio table —
    per-batch cost never depends on the training corpus size.  On the
    training corpus itself this is bit-identical to the inline
    :func:`dsir_scores` (tested): training docs only occupy buckets the
    model saw, where dense and sparse ratios agree exactly."""
    ratio = spark.read.parquet(f"{model_dir}/ratio")
    cdoc = _dsir_buckets(docs, F.lit(False), n_buckets)
    return _dsir_doc_scores(cdoc, ratio)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: rank the corpus by hashed-ngram importance
    weight toward the ``DSIR_TARGET_SOURCES`` domain sample and return
    the global top-``DSIR_TOP_N`` — the domain-targeted pre-training
    data-selection operator (the paper selects The Pile → Wikipedia+
    books-like subsets this way; deterministic variant: plain top-k,
    ties on doc_id, no Gumbel noise so both engines agree).

    The final top-N is orderBy+limit on the exact integer score —
    Spark plans TakeOrderedAndProject (per-partition heaps + driver
    merge), never a global sort; the 60-row result then joins doc
    metadata back as a broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    scores = dsir_scores(
        docs, F.col("source").isin(*DSIR_TARGET_SOURCES))
    top = (scores.orderBy(F.desc("s_micro"), F.asc("doc_id"))
           .limit(DSIR_TOP_N))
    win = Window.orderBy(F.desc("s_micro"), F.asc("doc_id"))
    ranked = top.withColumn("rank", F.row_number().over(win))
    meta = docs.select("doc_id", "source")
    return (meta.join(F.broadcast(ranked), "doc_id")
            .select("rank", "doc_id", "source", "n_grams",
                    _r6(F.col("s_micro").cast("double") / 1000000.0)
                    .alias("logw"),
                    _r6(F.col("s_micro").cast("double")
                        / F.col("n_grams") / 1000000.0).alias("avg_logw"))
            .orderBy("rank"))


_DSIR_TGT_SQL = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

ORACLE_DSIR_SELECT = f"""
WITH w AS (
  SELECT doc_id, source IN ({_DSIR_TGT_SQL}) AS tgt,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), g AS (
  SELECT doc_id, tgt, unnest(words) AS gram FROM w
  UNION ALL
  SELECT doc_id, tgt,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in range(1, length(words))]) AS gram
  FROM w
), cdoc AS (
  SELECT doc_id, tgt,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % {DSIR_BUCKETS}
           AS bucket,
         COUNT(*)::BIGINT AS c
  FROM g GROUP BY ALL
), counts AS (
  SELECT bucket, SUM(c)::BIGINT AS cr,
         SUM(CASE WHEN tgt THEN c ELSE 0 END)::BIGINT AS ct
  FROM cdoc GROUP BY bucket
), totals AS (
  SELECT SUM(cr)::BIGINT AS tr, SUM(ct)::BIGINT AS tt FROM counts
), ratio AS (
  SELECT bucket,
         FLOOR(ln((ct + 1.0) / (tt + {DSIR_BUCKETS}.0))
               * 1000000.0 + 0.5)::BIGINT
         - FLOOR(ln((cr + 1.0) / (tr + {DSIR_BUCKETS}.0))
                 * 1000000.0 + 0.5)::BIGINT AS lpq_micro
  FROM counts, totals
), scored AS (
  SELECT cdoc.doc_id,
         SUM(cdoc.c * ratio.lpq_micro)::BIGINT AS s_micro,
         SUM(cdoc.c)::BIGINT AS n_grams
  FROM cdoc JOIN ratio USING (bucket)
  GROUP BY cdoc.doc_id
)
SELECT ROW_NUMBER() OVER (ORDER BY s.s_micro DESC, s.doc_id ASC) AS rank,
       s.doc_id, d.source, s.n_grams,
       FLOOR((s.s_micro::DOUBLE / 1000000.0) * 1000000 + 0.5)
         / 1000000 AS logw,
       FLOOR((s.s_micro::DOUBLE / s.n_grams / 1000000.0)
             * 1000000 + 0.5) / 1000000 AS avg_logw
FROM scored s JOIN documents d USING (doc_id)
ORDER BY s.s_micro DESC, s.doc_id ASC
LIMIT {DSIR_TOP_N}
"""


QUERIES = {
    "corpus_curation": q_corpus_curation,
    "corpus_domain_mix": q_corpus_domain_mix,
    "corpus_mix_sample": q_corpus_mix_sample,
    "corpus_perplexity_buckets": q_corpus_perplexity_buckets,
    "corpus_shuffle": q_corpus_shuffle,
    "train_val_kl": q_train_val_kl,
    "sequence_packing": q_sequence_packing,
    "corpus_curation_neardup": q_corpus_curation_neardup,
    "corpus_curation_quantile": q_corpus_curation_quantile,
    "corpus_sample_stratified": q_corpus_sample_stratified,
    "corpus_sample_weighted": q_corpus_sample_weighted,
    "contamination_check": q_contamination_check,
    "decontaminate": q_decontaminate,
    "train_val_split": q_train_val_split,
    "dsir_select": q_dsir_select,
}

ORACLES = {
    "corpus_curation": ORACLE_CORPUS_CURATION,
    "corpus_domain_mix": ORACLE_CORPUS_DOMAIN_MIX,
    "corpus_mix_sample": ORACLE_CORPUS_MIX_SAMPLE,
    "corpus_perplexity_buckets": _oracle_perplexity_buckets(),
    "corpus_shuffle": ORACLE_CORPUS_SHUFFLE,
    "train_val_kl": ORACLE_TRAIN_VAL_KL,
    "sequence_packing": ORACLE_SEQUENCE_PACKING,
    "corpus_curation_neardup": _oracle_corpus_curation_neardup(),
    "corpus_curation_quantile": ORACLE_CORPUS_CURATION_QUANTILE,
    "corpus_sample_stratified": ORACLE_CORPUS_SAMPLE_STRATIFIED,
    "corpus_sample_weighted": ORACLE_CORPUS_SAMPLE_WEIGHTED,
    "contamination_check": ORACLE_CONTAMINATION_CHECK,
    "decontaminate": ORACLE_DECONTAMINATE,
    "train_val_split": ORACLE_TRAIN_VAL_SPLIT,
    "dsir_select": ORACLE_DSIR_SELECT,
}
