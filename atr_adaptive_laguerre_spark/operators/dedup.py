"""Deduplication operators over the ``documents`` table, all Spark-native
(higher-order functions + joins; no Python UDFs).

Families, and the shared stages each one runs:

* exact            — hash-groupBy on the normalized-content md5;
* shingle Jaccard  — word 3-gram sets (:func:`_shingle_sets`) compared
  three ways: LSH-verified (:func:`_band_pairs` candidates, then
  :func:`_verify`), exhaustive (:func:`exact_jaccard_pairs`, the
  independent ground truth: its own shingle-equality join and
  groupBy-count) and hot-capped (:func:`_hot_capped_pairs` candidates,
  then :func:`_verify`);
* containment      — max(|A∩B|/|A|, |A∩B|/|B|), exhaustive below a
  hot-shingle cap (:func:`_hot_capped_pairs`) or from a bottom-k
  sketch; both run :func:`_verify` and :func:`_containment`;
* MinHash LSH      — K md5-derived minhashes, banded (:func:`_banded`),
  bucket self-join (:func:`_band_pairs`) for candidate pairs (the scale
  path: candidates without the quadratic join);
* edit distance    — Levenshtein over the MinHash LSH candidates;
* SimHash          — sign-aggregated fingerprints (:func:`_simhash`);
  the pairs query bands the 64-bit fingerprint through
  :func:`_banded` and :func:`_band_pairs`;
* chunks           — fixed-width (:func:`chunk_texts_col`) and
  content-defined chunk hashes, reported or cleaned keep-first;
* substring spans  — every repeated ``SPAN_N``-word gram
  (:func:`_grams`, :func:`_span_positions`), reported or cleaned;
* incremental      — a new batch's bands joined against a persisted
  band index, then :func:`_verify`;
* canonicalize     — verified Jaccard pairs -> connected components.

Determinism across engines: shingles are word 3-grams of the
whitespace-normalized lowercase text; hash_k(s) = the first 15 hex chars
of md5(s || '#' || k) read as a 60-bit integer (both engines compute md5
identically; Spark ``conv(hex,16,10)`` == DuckDB ``('0x'||hex)::BIGINT``).

At 100 TB: exact dedup is one shuffle on the content hash; LSH is
explode (K rows/doc) + one shuffle on (band, bucket) — both linear, no
cross join.  The quadratic Jaccard join exists as the verification path
applied *after* LSH candidate generation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6
from atr_adaptive_laguerre_spark.operators.text import words_col

NGRAM = 3
MINHASH_K = 12
LSH_BANDS = 4          # 4 bands x 3 rows
JACCARD_THRESHOLD = 0.2
#: Carter-Wegman modulus for deriving the K minhash streams from TWO
#: md5-derived base hashes (h1 + k*h2 mod P) instead of K md5s per
#: shingle — md5 is the dominant LSH cost, so this cuts the hashing
#: ~6x.  P = 2^59 - 55 (prime) keeps the worst case
#: h1 + (K-1)*h2 < 2^59 + 11*2^59 < 2^63 inside signed-64 arithmetic
#: on BOTH engines (exact integer math, so the twins stay bit-equal).
MINHASH_P = (1 << 59) - 55


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atr_adaptive_laguerre_spark.operators.io import read_table

    return read_table(spark, sf_dir, "documents")


def shingles_col(n: int = NGRAM):
    """Word n-gram shingles as space-joined strings (distinct).  Docs with
    fewer than n words yield an empty array (F.sequence would descend for
    a negative stop, so gate it)."""
    w = words_col()
    idx = F.sequence(F.lit(0), F.size(w) - n)
    sh = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]))
    return F.when(F.size(w) >= n, F.array_distinct(sh)) \
        .otherwise(F.array().cast("array<string>"))


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each doc's distinct shingle array."""
    return docs.select("doc_id", shingles_col().alias("sh"))


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, s): one row per distinct shingle of each doc.  This
    explodes :func:`shingles_col` itself, not :func:`_shingle_sets`'
    column: Spark infers a non-empty filter on an exploded column and
    pushes it below the projection, which computes every shingle array
    twice."""
    return docs.select("doc_id", F.explode(shingles_col()).alias("s"))


def _hot_capped_pairs(rows: DataFrame, cap: int) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the doc pairs of the shingle rows
    ``rows`` that share at least one shingle held by at most ``cap``
    docs.  Hotter shingles are dropped from the self-join only, which
    bounds its Σcount² term at O(N·cap)."""
    cold = (rows.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= cap)
            .select("s"))
    rc = rows.join(cold, "s")
    return (rc.alias("a")
            .join(rc.alias("b"), (F.col("a.s") == F.col("b.s"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def _verify(cand: DataFrame, sh_a: DataFrame,
            sh_b: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b): the exact shingle overlap of
    each candidate pair.  ``sh_a``/``sh_b`` are (doc_id, sh) frames
    joined on doc_a/doc_b; \\|A∩B\\| is ``array_intersect`` of the two
    distinct-shingle arrays, so the candidate source affects recall
    only, never values."""
    return (cand
            .join(sh_a.select(F.col("doc_id").alias("doc_a"),
                              F.col("sh").alias("sh_a")), "doc_a")
            .join(sh_b.select(F.col("doc_id").alias("doc_b"),
                              F.col("sh").alias("sh_b")), "doc_b")
            .select("doc_a", "doc_b",
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    .alias("n_inter"),
                    F.size("sh_a").alias("n_a"), F.size("sh_b").alias("n_b")))


def _jaccard():
    """\\|A∩B\\|/\\|A∪B\\| over :func:`_verify`'s columns."""
    return F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))


def _jaccard_pairs(j: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter, jaccard): the verified pairs of ``j`` at
    Jaccard >= ``threshold``."""
    return (j.filter(_jaccard() >= threshold)
            .select("doc_a", "doc_b", "n_inter",
                    _r6(_jaccard()).alias("jaccard")))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-content hash; emit each doc with
    its canonical (minimum) doc_id and the duplicate-group size."""
    docs = _docs(spark, sf_dir)
    norm = F.concat_ws(" ", words_col())
    h = docs.select("doc_id", F.md5(norm).alias("chash"))
    w = Window.partitionBy("chash")
    return (h.select("doc_id", "chash",
                     F.min("doc_id").over(w).alias("canonical_id"),
                     F.count(F.lit(1)).over(w).alias("group_size"))
            .withColumn("is_duplicate",
                        (F.col("doc_id") != F.col("canonical_id"))
                        .cast("int"))
            .orderBy("doc_id"))


ORACLE_DEDUP_EXACT = """
WITH h AS (
  SELECT doc_id,
         md5(array_to_string(regexp_split_to_array(trim(lower(text)),
             '\\s+'), ' ')) AS chash
  FROM documents
)
SELECT doc_id, chash,
       MIN(doc_id) OVER (PARTITION BY chash) AS canonical_id,
       COUNT(*) OVER (PARTITION BY chash) AS group_size,
       CAST(doc_id != MIN(doc_id) OVER (PARTITION BY chash) AS INT)
         AS is_duplicate
FROM h
ORDER BY doc_id
"""


def verified_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """LSH-verified near-dup pairs (doc_a < doc_b, jaccard >=
    threshold): exact |inter|/|union| computed only over the MinHash-LSH
    candidate pairs (VERDICT r1 item 4 — the corpus-wide shingle
    self-join is quadratic in docs per hot shingle; candidates are
    linear).  Per pair, the intersection comes from array_intersect of
    the two distinct-shingle sets — two doc_id-keyed joins, no all-pairs
    blow-up."""
    sh = _shingle_sets(docs)
    return _jaccard_pairs(_verify(_lsh_candidate_pairs(docs), sh, sh),
                          JACCARD_THRESHOLD)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing verified near-dup pair list (see
    :func:`verified_jaccard_pairs`)."""
    return (verified_jaccard_pairs(_docs(spark, sf_dir))
            .orderBy("doc_a", "doc_b"))


def exact_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """GROUND-TRUTH near-dup pairs: exact Jaccard over every doc pair
    sharing at least one shingle (pairs sharing none have J = 0 and can
    never reach the threshold), computed WITHOUT a corpus cross join —
    one shingle-equality self-join plus a (doc_a, doc_b) groupBy.

    This is the exhaustive baseline the LSH candidate generator is
    measured against (``tools/bench_lsh_tuning.py``): recall of
    :func:`_lsh_candidate_pairs` at each (K, bands) operating point is
    \\|candidates ∩ these pairs\\| / \\|these pairs\\|.  Cost is
    Σ_shingle count(shingle)² — quadratic per hot shingle — so this is
    the small-scale adjudication harness; the production path at scale
    stays LSH candidates + verify (:func:`verified_jaccard_pairs`)."""
    sh = _shingle_rows(docs)
    inter = (sh.alias("a")
             .join(sh.alias("b"), (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sz = docs.select("doc_id", F.size(shingles_col()).alias("n"))
    jac = (inter
           .join(sz.select(F.col("doc_id").alias("doc_a"),
                           F.col("n").alias("n_a")), "doc_a")
           .join(sz.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("n_b")), "doc_b")
           .withColumn("jaccard", F.col("n_inter")
                       / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))))
    return (jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", "n_inter",
                    _r6(F.col("jaccard")).alias("jaccard")))


#: containment threshold: max(|A∩B|/|A|, |A∩B|/|B|) — the asymmetric
#: near-dup signal Jaccard misses (a short doc quoted whole inside a
#: long one has high containment but low Jaccard).
CONTAINMENT_THRESHOLD = 0.5

#: hot-shingle df cap for containment CANDIDATE GENERATION (r6 default;
#: VERDICT r5 item 2).  A shingle shared by c docs contributes c²/2
#: candidate pairs and zero discriminative signal once c is boilerplate-
#: scale; capping bounds the self-join at O(N·cap).  Values stay exact
#: for every pair with at least one sub-cap shared shingle (the
#: intersection is recomputed per candidate from the full arrays); the
#: gated corpora max out at df = 4, so 1024 is value-invisible there
#: and ~6 orders of magnitude of worst-case headroom at scale.
CONTAINMENT_HOT_CAP = 1024


def q_dedup_containment_pairs(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup pairs: shingle-sharing doc pairs where
    max(|A∩B|/|A|, |A∩B|/|B|) >= ``CONTAINMENT_THRESHOLD`` — the
    quote/subsumption detector (Broder's containment): a short doc
    embedded whole in a long one scores containment ~1 while its
    Jaccard \\|A∩B\\|/\\|A∪B\\| stays tiny, so the symmetric threshold
    never fires.  Emitted with both directional containments AND the
    Jaccard so downstream policy can distinguish "same doc" from "doc
    A lives inside doc B".

    Scale note (honest): MinHash-LSH candidates approximate JACCARD —
    a contained short doc often shares no band bucket with its
    container — so this query generates candidates from the
    shingle-equality join below the hot-shingle cap
    (:func:`_hot_capped_pairs` at :data:`CONTAINMENT_HOT_CAP`, r6
    default, VERDICT r5 item 2) and verifies each one exactly
    (:func:`_verify`): only pairs whose entire overlap is boilerplate
    (df > cap on every shared shingle) are ignored.  Max observed
    shingle df on every correctness-gated corpus is 4
    (sf0.001/0.01/0.1), so the cap is value-invisible there — verified
    hash-identical vs the unchanged exhaustive DuckDB oracle at all
    three SFs."""
    return containment_pairs(_docs(spark, sf_dir)).orderBy("doc_a",
                                                           "doc_b")


def containment_pairs(docs: DataFrame,
                      hot_cap: int | None = None) -> DataFrame:
    """Containment pair engine behind :func:`q_dedup_containment_pairs`
    (split out so the planted-worst-case test can drive it directly).
    Candidates from the hot-capped shingle join; values exact per
    candidate via ``array_intersect`` over the full arrays."""
    cap = CONTAINMENT_HOT_CAP if hot_cap is None else hot_cap
    sh = _shingle_sets(docs)
    cand = _hot_capped_pairs(_shingle_rows(docs), cap)
    return _containment(_verify(cand, sh, sh))


def _containment(j: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, cont_a, cont_b, jaccard): the verified
    pairs of ``j`` whose larger directional containment reaches
    ``CONTAINMENT_THRESHOLD`` (the two containment queries' shared
    tail; a pair sharing no shingle scores 0 and never passes)."""
    cont_a = F.col("n_inter") / F.col("n_a")
    cont_b = F.col("n_inter") / F.col("n_b")
    return (j.filter(F.greatest(cont_a, cont_b) >= CONTAINMENT_THRESHOLD)
            .select("doc_a", "doc_b",
                    F.col("n_inter").cast("bigint").alias("n_inter"),
                    _r6(cont_a).alias("cont_a"),
                    _r6(cont_b).alias("cont_b"),
                    _r6(_jaccard()).alias("jaccard")))


ORACLE_DEDUP_CONTAINMENT_PAIRS = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), shl AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                        for i in range(1, length(words) - {NGRAM - 2})])
           AS shingles
  FROM w
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM shl
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(shingles) AS n FROM shl
)
SELECT doc_a, doc_b, n_inter,
       FLOOR((n_inter::DOUBLE / sa.n) * 1000000 + 0.5) / 1000000 AS cont_a,
       FLOOR((n_inter::DOUBLE / sb.n) * 1000000 + 0.5) / 1000000 AS cont_b,
       FLOOR((n_inter::DOUBLE / (sa.n + sb.n - n_inter))
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE GREATEST(n_inter::DOUBLE / sa.n, n_inter::DOUBLE / sb.n)
      >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


#: bottom-k sketch width for containment candidate generation: a pair
#: with containment >= CONTAINMENT_THRESHOLD misses ALL k of the
#: contained side's smallest shingle hashes with probability
#: <= (1 - threshold)^k = 2^-8 ~ 0.4% under min-wise hashing — and on
#: the deterministic test corpora the measured recall vs the
#: exhaustive query is exactly 1.0 (tested at sf0.001; hash-identical
#: twins at sf0.01/sf0.1).
CONTAINMENT_BOTTOM_K = 8


def q_dedup_containment_lsh(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The PRODUCTION path for containment near-dup pairs: bottom-k
    sketch candidates + exact verify — same output contract as
    :func:`q_dedup_containment_pairs` without its corpus-wide
    shingle-equality join.

    Candidate generation: every doc keeps only its
    ``CONTAINMENT_BOTTOM_K`` smallest shingle hashes (a min-wise
    bottom-k sketch).  If containment(A in B) >= t, each of A's
    min-hashes lands in B's shingle set with probability >= t, so a
    true pair shares at least one (sketch-hash, full-set) collision
    with probability >= 1 - (1-t)^k.  Candidates are pairs where one
    side's SKETCH hash matches the other side's FULL shingle stream —
    k rows/doc join against the linear shingle stream, one hash-keyed
    shuffle, never shingles x shingles.

    Exact verify: :func:`_verify` and :func:`_containment`, the
    exhaustive query's tail, so the sketch affects recall only, never
    values: on corpora where it catches every true pair the two queries
    are row-identical (tested).

    MEASURED adjudication (min-of-3 noop, local[32]): on the synthetic
    corpus the EXHAUSTIVE join wins at both scales — 2.6 s vs 8.9 s at
    sf0.1 and 38.3 s vs 96.5 s at sf1 — because the corpus's pair mass
    IS true duplicates: the sketch's candidate set nearly equals the
    exhaustive pair set, so bounding candidates buys nothing while the
    bottom-k window adds a doc-keyed sort.  (Both grow superlinearly
    at 10x: 14.7x exhaustive, 10.9x sketch — the dup-pair verify
    dominates both.)  Where the sketch shape pays: probe-style
    workloads (small contained side vs a huge corpus — k rows/doc
    probes instead of the full shingle stream) and corpora whose hot
    shingles are shared-but-not-duplicative; note a hot shingle INSIDE
    the sketch still explodes either path — the standard mitigation is
    a shingle-frequency cap on the join key, orthogonal to both."""
    docs = _docs(spark, sf_dir)
    sh = _shingle_sets(docs)
    hs = _shingle_rows(docs).select("doc_id",
                                    _hash60(F.col("s"), 2).alias("h"))
    wk = Window.partitionBy("doc_id").orderBy(F.col("h").asc())
    sketch = (hs.withColumn("rk", F.row_number().over(wk))
              .filter(F.col("rk") <= CONTAINMENT_BOTTOM_K)
              .select(F.col("doc_id").alias("sk_id"), "h"))
    cand = (sketch.join(hs, "h")
            .filter(F.col("sk_id") != F.col("doc_id"))
            .select(F.least("sk_id", "doc_id").alias("doc_a"),
                    F.greatest("sk_id", "doc_id").alias("doc_b"))
            .distinct())
    return _containment(_verify(cand, sh, sh)).orderBy("doc_a", "doc_b")


ORACLE_DEDUP_CONTAINMENT_LSH = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), shl AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                        for i in range(1, length(words) - {NGRAM - 2})])
           AS shingles
  FROM w
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM shl
), hs AS (
  SELECT doc_id,
         (('0x' || substr(md5(s || '#2'), 1, 15))::BIGINT) AS h
  FROM sh
), sketch AS (
  SELECT doc_id AS sk_id, h FROM (
    SELECT doc_id, h,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h ASC) AS rk
    FROM hs
  ) WHERE rk <= {CONTAINMENT_BOTTOM_K}
), cand AS (
  SELECT DISTINCT LEAST(sk.sk_id, hs.doc_id) AS doc_a,
                  GREATEST(sk.sk_id, hs.doc_id) AS doc_b
  FROM sketch sk JOIN hs ON sk.h = hs.h
  WHERE sk.sk_id != hs.doc_id
), j AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS n_inter,
         len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
  FROM cand
  JOIN shl sa ON sa.doc_id = doc_a
  JOIN shl sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, n_inter,
       FLOOR((n_inter::DOUBLE / n_a) * 1000000 + 0.5) / 1000000 AS cont_a,
       FLOOR((n_inter::DOUBLE / n_b) * 1000000 + 0.5) / 1000000 AS cont_b,
       FLOOR((n_inter::DOUBLE / (n_a + n_b - n_inter))
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM j
WHERE n_inter > 0
  AND GREATEST(n_inter::DOUBLE / n_a, n_inter::DOUBLE / n_b)
      >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def q_dedup_jaccard_groundtruth(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Driver-facing exhaustive near-dup pair list (see
    :func:`exact_jaccard_pairs`)."""
    return exact_jaccard_pairs(_docs(spark, sf_dir)).orderBy("doc_a",
                                                             "doc_b")


def capped_jaccard_pairs(docs: DataFrame, hot_cap: int,
                         threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """The hot-shingle MITIGATION for pair-explosion (the open caveat
    in both containment docstrings): shingles appearing in more than
    ``hot_cap`` docs are dropped from CANDIDATE GENERATION ONLY — a
    boilerplate sentence shared by a million docs contributes
    count²/2 candidate pairs and zero discriminative signal, and this
    one filter converts that Σcount² term from O(N²) to
    O(N·hot_cap).

    Values stay EXACT (:func:`_verify`): the cap affects recall only,
    and only for pairs whose entire overlap is hot shingles (which is
    precisely the boilerplate-match class the cap exists to ignore; a
    pair with any sub-cap shared shingle is still found).  The planted-boilerplate test pins both sides:
    candidate mass collapses, true unique-content dup pairs survive
    with exact values."""
    sh = _shingle_sets(docs)
    j = _verify(_hot_capped_pairs(_shingle_rows(docs), hot_cap), sh, sh)
    return (_jaccard_pairs(j, threshold)
            .withColumn("n_inter", F.col("n_inter").cast("bigint")))


ORACLE_DEDUP_JACCARD_GROUNDTRUTH = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), shl AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                        for i in range(1, length(words) - {NGRAM - 2})])
           AS shingles
  FROM w
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM shl
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(shingles) AS n FROM shl
)
SELECT doc_a, doc_b, n_inter,
       FLOOR((n_inter::DOUBLE / (sa.n + sb.n - n_inter))
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_inter::DOUBLE / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def _hash60(col, k: int):
    """60-bit integer from md5(col || '#' || k) — engine-portable."""
    return F.conv(F.substring(F.md5(F.concat(col, F.lit(f"#{k}"))), 1, 15),
                  16, 10).cast("bigint")


def band_signatures(docs: DataFrame, n_hashes: "int | None" = None,
                    n_bands: "int | None" = None) -> DataFrame:
    """(doc_id, band, bucket) MinHash-LSH band signatures: K=12
    minhashes per doc, 4 bands x 3 rows, bucket = md5 of the band's
    minhashes.  Linear cost (explode K rows/doc + one doc_id groupBy).
    The K hash streams are Carter-Wegman combinations h1 + k*h2 mod
    MINHASH_P of TWO md5-derived base hashes — two md5s per shingle
    instead of twelve.  This is the persistable LSH index: at 100 TB
    the corpus's signatures are written once (bucketed on ``bucket``,
    see ``engine/bucketing.py``) and each new-data increment joins
    against them without recomputing the corpus (``dedup_incremental``).
    Docs whose shingle set is empty (< NGRAM words) produce no rows.

    ``n_hashes``/``n_bands`` select the (K, b) operating point — the
    defaults are the catalog's pinned production point; the measured
    recall/precision trade-off across the grid lives in
    ``BENCH/lsh_tuning.json`` (``tools/bench_lsh_tuning.py``)."""
    n_hashes = n_hashes if n_hashes is not None else MINHASH_K
    n_bands = n_bands if n_bands is not None else LSH_BANDS
    # caller-input validation on a production path: raise (never assert,
    # which python -O strips — a K > 16 would then silently wrap
    # h1 + k*h2 and corrupt every signature; ADVICE r5)
    if n_hashes % n_bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by n_bands "
            f"({n_bands})")
    # h1 + (K-1)*h2 must stay inside signed-64: K * 2^59 < 2^63 + slack
    # holds exactly up to K = 16 for MINHASH_P = 2^59 - 55.
    if n_hashes > 16:
        raise ValueError(
            f"n_hashes ({n_hashes}) > 16 would overflow the signed-64 "
            f"Carter-Wegman stream (K * 2^59 must stay < 2^63)")
    hh = _shingle_rows(docs).select(
        "doc_id",
        (_hash60(F.col("s"), 0) % MINHASH_P).alias("h1"),
        (_hash60(F.col("s"), 1) % MINHASH_P).alias("h2"))
    mh = hh.groupBy("doc_id").agg(
        *[F.min((F.col("h1") + F.lit(k) * F.col("h2")) % MINHASH_P)
          .alias(f"mh{k}")
          for k in range(n_hashes)])
    rows_per_band = n_hashes // n_bands
    return _banded(mh, [
        F.md5(F.concat_ws("_", *[
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)]))
        for b in range(n_bands)])


def _banded(fps: DataFrame, buckets: list, *carry: str) -> DataFrame:
    """(doc_id, *carry, band, bucket): one row per doc and band of the
    fingerprint frame ``fps``; band b's bucket is ``buckets[b]``."""
    return reduce(DataFrame.unionByName, [
        fps.select("doc_id", *carry, F.lit(b).alias("band"),
                   bucket.alias("bucket"))
        for b, bucket in enumerate(buckets)])


def _band_pairs(bb: DataFrame, *carry: str) -> DataFrame:
    """Distinct (doc_a, doc_b, <c>_a..., <c>_b...), doc_a < doc_b: the
    doc pairs of the :func:`_banded` frame ``bb`` that share a band
    bucket — one shuffle on (band, bucket), no corpus self-join.  Each
    ``carry`` column comes along from both sides."""
    return (bb.alias("a")
            .join(bb.alias("b"), (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    *[F.col(f"{side}.{c}").alias(f"{c}_{side}")
                      for side in ("a", "b") for c in carry])
            .distinct())


def _lsh_candidate_pairs(docs: DataFrame, n_hashes: "int | None" = None,
                         n_bands: "int | None" = None) -> DataFrame:
    """MinHash+LSH candidate pairs (doc_a < doc_b): docs sharing any
    band bucket (see :func:`band_signatures`) are candidates — one
    shuffle on (band, bucket), no corpus self-join."""
    return _band_pairs(band_signatures(docs, n_hashes=n_hashes,
                                       n_bands=n_bands))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing MinHash+LSH candidate-pair query."""
    return _lsh_candidate_pairs(_docs(spark, sf_dir)).orderBy("doc_a",
                                                              "doc_b")


def _mh_sql_cols() -> str:
    """Minhash aggregate columns over a CTE exposing (doc_id, h1, h2)."""
    return ",\n         ".join(
        f"MIN((h1 + {k} * h2) % {MINHASH_P}) AS mh{k}"
        for k in range(MINHASH_K))


def _hh_sql(src: str) -> str:
    """SELECT body computing the two base hashes from a shingle column
    ``s`` (twin of the Spark ``hh`` projection)."""
    return (f"SELECT doc_id,\n"
            f"         (('0x' || substr(md5(s || '#0'), 1, 15))::BIGINT)"
            f" % {MINHASH_P} AS h1,\n"
            f"         (('0x' || substr(md5(s || '#1'), 1, 15))::BIGINT)"
            f" % {MINHASH_P} AS h2\n"
            f"  FROM {src}")


def _band_selects() -> str:
    rows_per_band = MINHASH_K // LSH_BANDS
    parts = []
    for b in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"mh{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band))
        parts.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket "
                     f"FROM mh")
    return "\nUNION ALL\n".join(parts)


def _jaccard_pairs_ctes() -> str:
    """CTE chain ending in ``jpairs`` — the verified near-dup pairs —
    shared by the pair-list oracle and the connected-components /
    curation oracles (namespaced ``j*`` to avoid collisions when
    embedded next to other chains)."""
    return f"""jw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), jshl AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                        for i in range(1, length(words) - {NGRAM - 2})])
           AS shingles
  FROM jw
), jsh AS (
  SELECT doc_id, unnest(shingles) AS s FROM jshl
), jhh AS (
  {_hh_sql("jsh")}
), jmh AS (
  SELECT doc_id,
         {_mh_sql_cols()}
  FROM jhh
  GROUP BY doc_id
), jbb AS (
{_band_selects().replace("FROM mh", "FROM jmh")}
), jcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM jbb a JOIN jbb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), jj AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS n_inter,
         len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
  FROM jcand
  JOIN jshl sa ON sa.doc_id = doc_a
  JOIN jshl sb ON sb.doc_id = doc_b
), jpairs AS (
  SELECT doc_a, doc_b, n_inter,
         FLOOR((n_inter::DOUBLE / (n_a + n_b - n_inter))
               * 1000000 + 0.5) / 1000000 AS jaccard
  FROM jj
  WHERE n_inter::DOUBLE / (n_a + n_b - n_inter) >= {JACCARD_THRESHOLD}
)"""


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_jaccard_pairs_ctes()}
SELECT doc_a, doc_b, n_inter, jaccard
FROM jpairs
ORDER BY doc_a, doc_b
"""

# ---------------------------------------------------------------------------
# near-dup canonicalization: pairs -> connected components -> canonical
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b",
                         max_iter: int = 50,
                         on_round=None) -> DataFrame:
    """Connected components over an undirected pair list via min-label
    propagation WITH pointer doubling: every node starts labelled with
    its own id; each round replaces the label with
    min(own, neighbours' labels, label-of-label) until a fixpoint.  The
    fixpoint label IS the component minimum, i.e. the canonical id.

    Scale shape: all joins/aggregations key on the node id (two hash
    exchanges per round); the node set is only the docs that appear in
    a near-dup pair — a small fraction of the corpus.  The
    label-of-label jump halves the remaining path every round, so
    convergence is O(log diameter) — a 10^6-long version-drift chain
    needs ~20 rounds, not 10^6 (plain neighbour-min would need
    diameter rounds).  ``localCheckpoint`` truncates the iterative plan
    so Catalyst never sees an N-round join tower.

    Observability: ``on_round`` (optional) is called once per
    propagation round with ``{"round", "changed", "wall_sec"}`` — plus
    ``{"n_nodes", "n_edges"}`` on the first call — so a 100 TB
    canonicalization run can emit per-round convergence lineage to a
    manifest (see ``engine.manifest.canonicalize_with_manifest``)
    instead of running as an opaque multi-job loop.  The extra counts
    run only when a callback is installed.

    Returns (id, comp) — one row per node, comp = min id of its
    component.
    """
    import time as _time

    e = pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
    # materialize the edge list ONCE: sym is re-joined every round, and
    # without the checkpoint each round would recompute the entire
    # upstream pair pipeline (LSH candidate generation + verification —
    # the expensive part); the edge list itself is small (only docs
    # that appear in a near-dup pair)
    sym = (e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
        .localCheckpoint(eager=True))
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("comp", F.col("id"))
              .localCheckpoint(eager=True))
    graph_stats = None
    if on_round is not None:
        # sym holds both directions of every undirected pair, no
        # self-loops (pairs have a < b), so undirected edges = |sym|/2
        graph_stats = {"n_nodes": labels.count(),
                       "n_edges": sym.count() // 2}
    for _round in range(max_iter):
        t0 = _time.time()
        nbr = (sym.join(labels, sym["b"] == labels["id"])
               .groupBy("a").agg(F.min("comp").alias("nbr_min")))
        # pointer doubling: my label's label (labels is a function of id,
        # so comp-of-comp is one more id-keyed join)
        jump = labels.select(F.col("id").alias("jid"),
                             F.col("comp").alias("jcomp"))
        stepped = (labels
                   .join(nbr, labels["id"] == nbr["a"], "left")
                   .join(jump, labels["comp"] == jump["jid"], "left")
                   .select(labels["id"],
                           F.col("comp").alias("old"),
                           F.least(F.col("comp"),
                                   F.coalesce("nbr_min", F.col("comp")),
                                   F.coalesce("jcomp", F.col("comp")))
                           .alias("comp"))
                   .localCheckpoint(eager=True))
        changed = stepped.filter(F.col("comp") != F.col("old")).count()
        labels = stepped.select("id", "comp")
        if on_round is not None:
            info = {"round": _round + 1, "changed": changed,
                    "wall_sec": _time.time() - t0}
            if graph_stats is not None:
                info.update(graph_stats)
                graph_stats = None
            on_round(info)
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected components did not converge in {max_iter} rounds")


def q_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization (VERDICT r2 item 1): verified LSH
    Jaccard pairs -> connected components -> one canonical (minimum
    doc_id) per cluster.  Emits every clustered doc with its canonical
    and the cluster size — the keep/drop groups a curation run needs
    beyond exact dedup.  DuckDB twin: recursive-CTE transitive closure
    over the same pair list."""
    docs = _docs(spark, sf_dir)
    pairs = verified_jaccard_pairs(docs)
    comp = connected_components(pairs)
    w = Window.partitionBy("comp")
    return (comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"))
        .orderBy("doc_id"))


ORACLE_DEDUP_CANONICALIZE = f"""
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
comp AS (
  SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id
),
sizes AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp
  GROUP BY canonical_id
)
SELECT id AS doc_id, canonical_id, cluster_size,
       CAST(id = canonical_id AS INT) AS is_canonical
FROM comp JOIN sizes USING (canonical_id)
ORDER BY doc_id
"""


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                               for i in range(1, length(words) - {NGRAM - 2})]))
           AS s
  FROM w
), hh AS (
  {_hh_sql("sh")}
), mh AS (
  SELECT doc_id,
         {_mh_sql_cols()}
  FROM hh
  GROUP BY doc_id
), bb AS (
{_band_selects()}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bb a JOIN bb b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""

#: normalized edit-similarity keep threshold for the character-level
#: verify stage
EDIT_SIM_TAU = 0.8


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: exact Levenshtein distance
    over the MinHash-LSH candidate pairs — the edit-distance flavor of
    the verify stage (catches small in-word edits that token-level
    Jaccard treats as whole-token changes; the complement of the
    3-gram/simhash/embedding flavors).  Per candidate pair: the raw
    distance, the normalized similarity 1 − dist/max(len), and the
    dup decision at ``EDIT_SIM_TAU``.

    Scale shape: the O(len²) dynamic program runs ONLY on LSH
    candidates (linear candidate generation, same as the Jaccard
    verify), never corpus×corpus; text fetch is two id-keyed joins.
    Both engines compute the same integer distance (Spark
    ``levenshtein`` == DuckDB ``levenshtein``), so the r6-quantized
    similarity and the keep decision cannot drift."""
    docs = _docs(spark, sf_dir)
    nt = docs.select("doc_id", F.concat_ws(" ", words_col()).alias("t"))
    pairs = _lsh_candidate_pairs(docs)
    a = nt.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = nt.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    dist = F.levenshtein(F.col("ta"), F.col("tb")).cast("bigint")
    sim = _r6(F.lit(1.0) - dist.cast("double")
              / F.greatest(F.length("ta"), F.length("tb")))
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", dist.alias("edit_dist"),
                    sim.alias("edit_sim"),
                    (sim >= EDIT_SIM_TAU).cast("int").alias("is_dup"))
            .orderBy("doc_a", "doc_b"))


ORACLE_DEDUP_EDIT_DISTANCE = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                               for i in range(1, length(words) - {NGRAM - 2})]))
           AS s
  FROM w
), hh AS (
  {_hh_sql("sh")}
), mh AS (
  SELECT doc_id,
         {_mh_sql_cols()}
  FROM hh
  GROUP BY doc_id
), bb AS (
{_band_selects()}
), p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), nt AS (
  SELECT doc_id, array_to_string(words, ' ') AS t FROM w
)
SELECT p.doc_a, p.doc_b,
       levenshtein(a.t, b.t)::BIGINT AS edit_dist,
       FLOOR((1.0 - levenshtein(a.t, b.t)::DOUBLE
              / greatest(length(a.t), length(b.t)))
             * 1000000.0 + 0.5) / 1000000.0 AS edit_sim,
       (CASE WHEN FLOOR((1.0 - levenshtein(a.t, b.t)::DOUBLE
                         / greatest(length(a.t), length(b.t)))
                        * 1000000.0 + 0.5) / 1000000.0 >= {EDIT_SIM_TAU}
             THEN 1 ELSE 0 END) AS is_dup
FROM p JOIN nt a ON p.doc_a = a.doc_id
       JOIN nt b ON p.doc_b = b.doc_id
ORDER BY p.doc_a, p.doc_b
"""

SIMHASH_BITS = 16


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per doc: each distinct word votes +-1 per bit of
    its 60-bit hash; fingerprint bit = 1 iff the vote sum is positive
    (see :func:`_simhash_fps`)."""
    return _simhash_fps(_docs(spark, sf_dir)).orderBy("doc_id")


def _simhash_sql(bits: int = SIMHASH_BITS, col: str = "h") -> str:
    votes = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN ({col} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(bits))
    return votes


ORACLE_DEDUP_SIMHASH = f"""
WITH w AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(lower(text)),
                '\\s+'))) AS word
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(word || '#0'), 1, 15))::BIGINT AS h
  FROM w
)
SELECT doc_id, CAST({_simhash_sql()} AS BIGINT) AS simhash
FROM h
GROUP BY doc_id
ORDER BY doc_id
"""


HAMMING_MAX = 3
SIMHASH_PAIR_BITS = 64     # pairs use a WIDER fingerprint than the
#                            16-bit legacy surface, for two reasons:
#                            (a) discrimination — a 16-bit code is so
#                            coarse on a template-heavy corpus that a
#                            <=3 radius marks a quarter of all pairs;
#                            (b) BUCKET SPACE — the band bucket count is
#                            2^(bits/bands), and the (band, bucket)
#                            self-join is quadratic WITHIN a bucket, so
#                            the r3 32-bit/8-bit-band variant capped the
#                            space at 256 buckets/band (~N^2/256
#                            candidates at any corpus size — VERDICT r3
#                            finding #1).  64 bits / 16-bit bands give
#                            65,536 buckets per band; candidate density
#                            falls with fingerprint entropy, not corpus
#                            size.
SIMHASH_BANDS = 4          # 4 bands x 16 bits: any pair with Hamming <= 3
#                            shares at least one untouched band
#                            (pigeonhole — band recall is exact)
SIMHASH_HALF = 32          # the fingerprint is carried as two 32-bit
#                            halves (sh_lo from hash stream #0, sh_hi
#                            from #1) so no 2^63 term ever enters a
#                            signed-bigint sum on either engine


def _word_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h0, h1): md5-streams #0 and #1 of each distinct word of
    each doc."""
    wd = docs.select(
        "doc_id", F.explode(F.array_distinct(words_col())).alias("w"))
    return wd.select("doc_id", _hash60(F.col("w"), 0).alias("h0"),
                     _hash60(F.col("w"), 1).alias("h1"))


def _simhash(h, bits: int):
    """Aggregate: the ``bits``-bit SimHash of a doc's hash column ``h`` —
    bit b is 1 iff the +-1 votes of bit b of its hashes sum positive."""
    return sum(
        (F.when(F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                             1).otherwise(-1)) > 0, 1).otherwise(0)
         * F.lit(2 ** b)).cast("bigint")
        for b in range(bits))


def _simhash_fps(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) fingerprints — the aggregation behind
    q_dedup_simhash (16-bit legacy surface).  Single 60-bit hash stream,
    so bits must be <= 60."""
    return (_word_hashes(docs).groupBy("doc_id")
            .agg(_simhash(F.col("h0"), bits).alias("simhash")))


def _simhash_fps64(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_lo, sh_hi) — the 64-bit fingerprint behind the
    Hamming-pair stage, carried as two 32-bit halves: sh_lo votes over
    bits 0..31 of md5-stream #0, sh_hi over bits 0..31 of the
    independent stream #1.  Two halves (a) keep every vote sum and every
    power-of-two term far inside signed-bigint range on both engines and
    (b) make the 16-bit band extraction a shift on a small value."""
    return (_word_hashes(docs).groupBy("doc_id")
            .agg(_simhash(F.col("h0"), SIMHASH_HALF).alias("sh_lo"),
                 _simhash(F.col("h1"), SIMHASH_HALF).alias("sh_hi")))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: candidates from 16-bit band buckets over
    a 64-bit fingerprint (VERDICT r3 #1: the former 8-bit bands gave only
    256 buckets/band, so the bucket self-join degenerated to ~N^2/256
    pairs at ANY corpus size; 16-bit bands give 65,536 buckets/band and
    candidate density that tracks fingerprint entropy, not N).
    Pigeonhole: with SIMHASH_BANDS=4 bands, any pair within Hamming
    distance HAMMING_MAX=3 (<= bands-1 in general) leaves at least one
    band untouched, so band recall is exact, not probabilistic
    (brute-force-verified in tests); verification is
    popcount(xor_lo) + popcount(xor_hi) <= HAMMING_MAX.  Candidate
    generation is explode SIMHASH_BANDS rows/doc + one shuffle on
    (band, bucket) — quadratic only within a bucket, and the bucket
    space is fixed-entropy-wide."""
    fps = _simhash_fps64(_docs(spark, sf_dir))
    width = SIMHASH_PAIR_BITS // SIMHASH_BANDS        # 16
    per_half = SIMHASH_HALF // width                  # 2 bands per half
    bb = _banded(fps, [
        F.shiftright(F.col("sh_lo" if band < per_half else "sh_hi"),
                     (band % per_half) * width).bitwiseAND(2 ** width - 1)
        for band in range(SIMHASH_BANDS)], "sh_lo", "sh_hi")
    cand = _band_pairs(bb, "sh_lo", "sh_hi")
    ham = (F.bit_count(F.col("sh_lo_a").bitwiseXOR(F.col("sh_lo_b")))
           + F.bit_count(F.col("sh_hi_a").bitwiseXOR(F.col("sh_hi_b"))))
    return (cand.select("doc_a", "doc_b",
                        ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= HAMMING_MAX)
            .orderBy("doc_a", "doc_b"))


def _simhash_band_selects() -> str:
    width = SIMHASH_PAIR_BITS // SIMHASH_BANDS
    per_half = SIMHASH_HALF // width
    parts = []
    for band in range(SIMHASH_BANDS):
        src = "sh_lo" if band < per_half else "sh_hi"
        shift = (band % per_half) * width
        parts.append(
            f"SELECT doc_id, sh_lo, sh_hi, {band} AS band, "
            f"({src} >> {shift}) & {2 ** width - 1} AS bucket "
            f"FROM fps")
    return "\nUNION ALL\n".join(parts)


ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH w AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(lower(text)),
                '\\s+'))) AS word
  FROM documents
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(word || '#0'), 1, 15))::BIGINT AS h0,
         ('0x' || substr(md5(word || '#1'), 1, 15))::BIGINT AS h1
  FROM w
), fps AS (
  SELECT doc_id,
         CAST({_simhash_sql(SIMHASH_HALF, col="h0")} AS BIGINT) AS sh_lo,
         CAST({_simhash_sql(SIMHASH_HALF, col="h1")} AS BIGINT) AS sh_hi
  FROM h
  GROUP BY doc_id
), bb AS (
{_simhash_band_selects()}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_lo AS lo_a, a.sh_hi AS hi_a,
         b.sh_lo AS lo_b, b.sh_hi AS hi_b
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
            AS INT) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
      <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


#: sub-document dedup chunk width (tokens).  Real pipelines split on
#: paragraph boundaries ('\n\n'); the synthetic corpus has no newlines,
#: so fixed-width token chunks stand in — the Spark plumbing (explode,
#: hash-keyed shuffles, per-doc report) is identical either way.
CHUNK_W = 16


def chunks_col(width: int = CHUNK_W):
    """md5 hashes of consecutive non-overlapping ``width``-token chunks
    (full chunks only — a trailing remainder is not a comparable unit):
    :func:`chunk_texts_col`, hashed.  Docs with < width words yield an
    empty array."""
    return F.transform(chunk_texts_col(width), F.md5)


def q_dedup_chunk_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) dedup — the CCNet/RefinedWeb-style
    pass that removes boilerplate shared ACROSS documents even when the
    whole documents differ: hash each doc's consecutive ``CHUNK_W``-token
    chunks, mark a chunk shared when the same hash occurs in >= 2
    distinct documents, and report per-doc chunk counts and the shared
    fraction.

    Scale shape: one explode (linear), one groupBy on (chash, doc_id)
    (linear, collapses within-doc repeats), one window over chash whose
    partition size is the chunk's distinct-DOC count (bounded by corpus
    duplication, never quadratic — no self-join), one groupBy on doc_id.
    All md5/array expressions JVM-side."""
    docs = _docs(spark, sf_dir)
    ch = docs.select("doc_id", F.explode(chunks_col()).alias("chash"))
    per = ch.groupBy("chash", "doc_id").agg(
        F.count(F.lit(1)).alias("reps"))
    cw = Window.partitionBy("chash")
    shared = per.withColumn("ndocs", F.count(F.lit(1)).over(cw))
    agg = shared.groupBy("doc_id").agg(
        F.sum("reps").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum((F.col("ndocs") >= 2).cast("int")).alias("n_shared_chunks"))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_chunks", F.lit(0)).cast("bigint")
                .alias("n_chunks"),
                F.coalesce("n_distinct_chunks", F.lit(0)).cast("bigint")
                .alias("n_distinct_chunks"),
                F.coalesce("n_shared_chunks", F.lit(0)).cast("bigint")
                .alias("n_shared_chunks"),
                F.coalesce(
                    _r6(F.col("n_shared_chunks").cast("double")
                        / F.col("n_distinct_chunks")),
                    F.lit(0.0)).alias("shared_chunk_frac"))
            .orderBy("doc_id"))


ORACLE_DEDUP_CHUNK_CROSSDOC = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), ch AS (
  SELECT doc_id,
         unnest([md5(array_to_string(
                  words[(c*{CHUNK_W}+1):(c*{CHUNK_W}+{CHUNK_W})], ' '))
                 for c in range(0, length(words) // {CHUNK_W})]) AS chash
  FROM w
), per AS (
  SELECT chash, doc_id, COUNT(*) AS reps FROM ch GROUP BY chash, doc_id
), sh AS (
  SELECT doc_id, reps,
         COUNT(*) OVER (PARTITION BY chash) AS ndocs
  FROM per
), agg AS (
  SELECT doc_id,
         SUM(reps)::BIGINT AS n_chunks,
         COUNT(*)::BIGINT AS n_distinct_chunks,
         SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT
           AS n_shared_chunks
  FROM sh GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_chunks, 0)::BIGINT AS n_chunks,
       COALESCE(a.n_distinct_chunks, 0)::BIGINT AS n_distinct_chunks,
       COALESCE(a.n_shared_chunks, 0)::BIGINT AS n_shared_chunks,
       COALESCE(FLOOR(a.n_shared_chunks::DOUBLE / a.n_distinct_chunks
                      * 1000000 + 0.5) / 1000000, 0.0)
         AS shared_chunk_frac
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


def chunk_texts_col(width: int = CHUNK_W):
    """Consecutive non-overlapping ``width``-token chunks as space-joined
    strings (what :func:`chunks_col` hashes), so the kept chunks can be
    re-assembled into cleaned text."""
    w = words_col()
    n_full = F.floor(F.size(w) / width).cast("int")
    idx = F.sequence(F.lit(0), n_full - 1)
    ch = F.transform(
        idx, lambda c: F.concat_ws(" ", F.slice(w, c * width + 1, width)))
    return F.when(n_full >= 1, ch).otherwise(
        F.array().cast("array<string>"))


def chunk_clean_frame(docs: DataFrame, width: int = CHUNK_W,
                      seen: "DataFrame | None" = None) -> DataFrame:
    """The TRANSFORMATION half of cross-document chunk dedup: emit each
    document with duplicated chunks physically removed, not just
    counted.  An instance (doc, position) of a chunk survives iff it is
    the globally FIRST instance of that chunk hash (order: doc_id, then
    position) — the CCNet-style keep-first rule, which also collapses
    within-doc repeats.  The trailing ``len % width`` words are not a
    comparable unit and are always kept.

    ``seen`` (optional, a ``chash`` column of already-indexed chunk
    hashes) is the streaming hook: an instance whose hash is in
    ``seen`` is removed regardless of position — the persisted index
    plays the role of the global window's earlier rows, which is what
    makes the streamed micro-batches' union column-identical to one
    batch call over the concatenated corpus
    (:func:`atr_adaptive_laguerre_spark.streaming.dedup.stream_chunk_clean`,
    parity-tested).  The join is chash-keyed (one shuffle) — never a
    broadcast mandate; the index is corpus-scale.

    Returns ``(doc_id, n_chunks, n_kept, clean_text)`` — the full
    cleaned text, for the corpus pipeline; :func:`chunk_clean` narrows
    it to an md5 report for the driver gate.

    Scale shape: one posexplode (linear), one window over chash whose
    partition is that chunk's instance list (bounded by duplication —
    never a self-join), one doc_id groupBy to re-assemble kept chunks in
    position order.  All string/array work is JVM-side."""
    base = docs.select("doc_id", words_col().alias("wrds"),
                       chunk_texts_col(width).alias("chs"))
    inst = (base.select("doc_id", F.posexplode("chs").alias("p", "chunk"))
            .withColumn("chash", F.md5("chunk")))
    if seen is not None:
        seen_m = (seen.select("chash").distinct()
                  .withColumn("_idx", F.lit(1)))
        inst = inst.join(seen_m, "chash", "left")
    else:
        inst = inst.withColumn("_idx", F.lit(None).cast("int"))
    wk = Window.partitionBy("chash").orderBy("doc_id", "p")
    marked = inst.withColumn("rn", F.row_number().over(wk))
    keep = (F.col("rn") == 1) & F.col("_idx").isNull()
    # ONE doc_id groupBy carries counts AND the kept-chunk body (nulls
    # from the `when` drop out of collect_list), so the explode+window
    # pipeline — the dominant cost — executes once, not per branch
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(keep.cast("int")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(keep, F.struct("p", "chunk")))),
                lambda s: s.chunk)).alias("body"))
    n_full = F.floor(F.size("wrds") / width).cast("int")
    tail = F.concat_ws(
        " ", F.slice(F.col("wrds"), n_full * width + 1,
                     F.size("wrds") - n_full * width))
    out = (base.select("doc_id", tail.alias("tail"))
           .join(per_doc, "doc_id", "left"))
    clean = F.concat_ws(" ", F.nullif(F.coalesce("body", F.lit("")),
                                      F.lit("")),
                        F.nullif(F.col("tail"), F.lit("")))
    return out.select(
        "doc_id",
        F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        clean.alias("clean_text"))


def chunk_new_hashes(docs: DataFrame, width: int = CHUNK_W,
                     seen: "DataFrame | None" = None) -> DataFrame:
    """DISTINCT chunk hashes newly introduced by ``docs`` — hashes of
    this frame's chunks minus what the ``seen`` index already carries:
    the index INCREMENT a streaming chunk-dedup batch commits after it
    cleans (every batch chash is either already indexed or represented
    by its kept first instance, so recording these is sufficient for
    later batches to suppress any re-appearance).  One linear explode +
    one distinct + one chash-keyed anti-join."""
    inst = docs.select(F.explode(chunks_col(width)).alias("chash")).distinct()
    if seen is not None:
        inst = inst.join(seen.select("chash").distinct(),
                         "chash", "left_anti")
    return inst


def chunk_clean(docs: DataFrame, width: int = CHUNK_W) -> DataFrame:
    """Driver-gate report over :func:`chunk_clean_frame`: cleaned text
    narrowed to md5 + word count so the output stays narrow at any
    corpus size."""
    f = chunk_clean_frame(docs, width)
    clean = F.col("clean_text")
    return (f.select(
        "doc_id", "n_chunks", "n_kept",
        _r6(F.col("n_kept").cast("double")
            / F.nullif(F.col("n_chunks"), F.lit(0)).cast("double"))
        .alias("kept_frac"),
        F.when(clean == "", F.lit(0)).otherwise(
            F.size(F.split(clean, r"\s+"))).cast("bigint")
        .alias("n_clean_words"),
        F.md5(clean).alias("clean_md5"))
        .orderBy("doc_id"))


def q_dedup_chunk_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing cleaned-corpus chunk dedup (see :func:`chunk_clean`)."""
    return chunk_clean(_docs(spark, sf_dir))


ORACLE_DEDUP_CHUNK_CLEAN = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), ins AS (
  SELECT doc_id, u.p, u.chunk
  FROM (
    SELECT doc_id,
           unnest([{{'p': c, 'chunk': array_to_string(
                      words[(c*{CHUNK_W}+1):(c*{CHUNK_W}+{CHUNK_W})], ' ')}}
                   for c in range(0, length(words) // {CHUNK_W})]) AS u
    FROM w
  )
), mk AS (
  SELECT doc_id, p, chunk,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, p) AS rn
  FROM ins
), agg AS (
  SELECT doc_id, COUNT(*) AS n_chunks,
         SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept
  FROM mk GROUP BY doc_id
), body AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY p) AS body
  FROM mk WHERE rn = 1 GROUP BY doc_id
), base AS (
  SELECT w.doc_id,
         concat_ws(' ',
           nullif(COALESCE(b.body, ''), ''),
           nullif(array_to_string(
             words[(length(words) // {CHUNK_W}) * {CHUNK_W} + 1
                   : length(words)], ' '), '')) AS clean
  FROM w LEFT JOIN body b USING (doc_id)
)
SELECT base.doc_id,
       COALESCE(a.n_chunks, 0)::BIGINT AS n_chunks,
       COALESCE(a.n_kept, 0)::BIGINT AS n_kept,
       FLOOR(a.n_kept::DOUBLE / nullif(a.n_chunks, 0)
             * 1000000 + 0.5) / 1000000 AS kept_frac,
       (CASE WHEN clean = '' THEN 0
             ELSE length(regexp_split_to_array(clean, '\\s+')) END)::BIGINT
         AS n_clean_words,
       md5(clean) AS clean_md5
FROM base LEFT JOIN agg a USING (doc_id)
ORDER BY base.doc_id
"""


# ---------------------------------------------------------------------------
# incremental dedup: a new batch vs the existing corpus's LSH index
# ---------------------------------------------------------------------------

#: Deterministic batch split for the catalog query: doc_id % INCR_MOD == 0
#: is "today's crawl increment" (~20 % of docs); the rest are the
#: already-indexed corpus.
INCR_MOD = 5


def incremental_dedup_report(new_docs: DataFrame, index_bands: DataFrame,
                             index_shingles: DataFrame) -> DataFrame:
    """Match a NEW document batch against an EXISTING corpus's MinHash
    band index — the daily-increment shape of web-scale dedup: the
    indexed corpus is never re-shingled or re-deduplicated; only the
    increment is hashed, and candidates come from joining the batch's
    band signatures against the persisted index.

    Inputs: ``new_docs`` (doc_id, text), ``index_bands`` —
    :func:`band_signatures` of the indexed corpus (at 100 TB a table
    written once, bucketed on ``bucket`` via ``engine/bucketing.py`` so
    this join shuffles ONLY the batch side), ``index_shingles``
    (doc_id, sh array) for exact verification — in production a
    doc_id-keyed shingle store (or the raw docs re-shingled on the
    candidate subset only; candidates are a tiny fraction of the index).

    Per new doc: candidate count, count of verified near-dups
    (Jaccard >= JACCARD_THRESHOLD), and the best match (max Jaccard,
    ties broken by smallest index doc_id).  New docs with no collisions
    appear with zero counts — the caller's keep set.

    Scale shape: batch shingling is linear in the batch; the
    (band, bucket) join's output is bounded by bucket occupancy (md5
    bucket space — no coarse-bucket quadratic blow-up); the two
    verification joins are doc_id-keyed.  Nothing touches the index's
    text.  New-vs-new dups INSIDE the batch are the standard full-LSH
    pass over the (small) batch, not this operator."""
    nb = band_signatures(new_docs)
    cand = (nb.alias("n")
            .join(index_bands.alias("i"),
                  (F.col("n.band") == F.col("i.band"))
                  & (F.col("n.bucket") == F.col("i.bucket")))
            .select(F.col("n.doc_id").alias("doc_a"),
                    F.col("i.doc_id").alias("doc_b"))
            .distinct())
    jac = (_verify(cand, _shingle_sets(new_docs), index_shingles)
           .select(F.col("doc_a").alias("doc_id"),
                   F.col("doc_b").alias("old_id"),
                   _jaccard().alias("j")))
    agg = jac.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_candidates"))
    dups = jac.filter(F.col("j") >= JACCARD_THRESHOLD)
    dagg = dups.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dups"))
    w = Window.partitionBy("doc_id").orderBy(F.col("j").desc(),
                                             F.col("old_id"))
    best = (dups.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("old_id").alias("best_match_id"),
                    _r6(F.col("j")).alias("best_jaccard")))
    return (new_docs.select("doc_id")
            .join(agg, "doc_id", "left")
            .join(dagg, "doc_id", "left")
            .join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_candidates", F.lit(0)).cast("bigint")
                    .alias("n_candidates"),
                    F.coalesce("n_dups", F.lit(0)).cast("bigint")
                    .alias("n_dups"),
                    F.col("best_match_id").cast("bigint")
                    .alias("best_match_id"),
                    F.col("best_jaccard")))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing incremental dedup: docs with doc_id % INCR_MOD == 0
    play the new batch; the rest play the indexed corpus (both derived
    from the same table here so the DuckDB twin is self-contained)."""
    docs = _docs(spark, sf_dir)
    is_new = (F.col("doc_id") % INCR_MOD) == 0
    new_docs = docs.filter(is_new)
    old_docs = docs.filter(~is_new)
    report = incremental_dedup_report(new_docs, band_signatures(old_docs),
                                      _shingle_sets(old_docs))
    return report.orderBy("doc_id")


ORACLE_DEDUP_INCREMENTAL = f"""
WITH iw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), ishl AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+{NGRAM - 1}], ' ')
                        for i in range(1, length(words) - {NGRAM - 2})])
           AS shingles
  FROM iw
), ish AS (
  SELECT doc_id, unnest(shingles) AS s FROM ishl
), ihh AS (
  {_hh_sql("ish")}
), imh AS (
  SELECT doc_id,
         {_mh_sql_cols()}
  FROM ihh
  GROUP BY doc_id
), ibb AS (
{_band_selects().replace("FROM mh", "FROM imh")}
), icand AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS old_id
  FROM (SELECT * FROM ibb WHERE doc_id % {INCR_MOD} = 0) n
  JOIN (SELECT * FROM ibb WHERE doc_id % {INCR_MOD} <> 0) i
    ON n.band = i.band AND n.bucket = i.bucket
), ijac AS (
  SELECT new_id, old_id,
         len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
           / (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) AS j
  FROM icand
  JOIN ishl sa ON sa.doc_id = new_id
  JOIN ishl sb ON sb.doc_id = old_id
), iagg AS (
  SELECT new_id, COUNT(*) AS n_candidates FROM ijac GROUP BY new_id
), idups AS (
  SELECT new_id, old_id, j,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY j DESC, old_id) AS rn
  FROM ijac WHERE j >= {JACCARD_THRESHOLD}
), idagg AS (
  SELECT new_id, COUNT(*) AS n_dups FROM idups GROUP BY new_id
), ibest AS (
  SELECT new_id, old_id, j FROM idups WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(a.n_candidates, 0)::BIGINT AS n_candidates,
       COALESCE(g.n_dups, 0)::BIGINT AS n_dups,
       b.old_id AS best_match_id,
       FLOOR(b.j * 1000000 + 0.5) / 1000000 AS best_jaccard
FROM documents d
LEFT JOIN iagg a ON a.new_id = d.doc_id
LEFT JOIN idagg g ON g.new_id = d.doc_id
LEFT JOIN ibest b ON b.new_id = d.doc_id
WHERE d.doc_id % {INCR_MOD} = 0
ORDER BY d.doc_id
"""


CDC_P = 8            # expected chunk width in words (boundary prob 1/P)
CDC_SALT = "#cdc"


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str,
                       p: int = CDC_P) -> DataFrame:
    """CONTENT-DEFINED chunking dedup (the rsync/FastCDC idea at word
    grain): a chunk boundary falls after word w wherever an
    md5-derived hash of w is ``0 mod p`` — so boundaries move WITH the
    content, and inserting or deleting a word near the front of a
    document shifts only the chunk it lands in, not every fixed-width
    chunk after it (the failure mode of ``dedup_chunk_crossdoc``'s
    fixed grid, demonstrated in the invariant test).  Chunks are
    rebuilt per boundary run, hashed, and an instance is a duplicate
    iff it is not the globally FIRST instance of its hash (order:
    doc_id, then chunk index — the same keep-first rule as
    ``chunk_clean``).  Report per doc: chunk count, duplicated-instance
    count, duplicated fraction.

    Scale shape: one posexplode (linear); one per-DOC prefix-sum window
    (partition = one document's words — bounded by doc length, never
    corpus-wide); one (doc, chunk) groupBy to assemble chunk text; one
    window over chash (partition = that chunk's instance list, bounded
    by duplication); one doc groupBy.  The boundary hash is the
    engine-portable md5 idiom (Spark ``conv(hex,16,10)`` == DuckDB
    ``('0x'||hex)::BIGINT``) — no Python anywhere."""
    return cdc_chunk_report(_docs(spark, sf_dir), p=p)


def cdc_chunk_report(docs: DataFrame, p: int = CDC_P) -> DataFrame:
    """Frame-level CDC chunk dedup report (see
    :func:`q_dedup_cdc_chunks`; split out so pipelines and the
    shift-robustness invariant test can run it on arbitrary frames)."""
    pos = (docs.select("doc_id", F.posexplode(words_col())
                       .alias("p", "word")))
    h = F.conv(F.substring(F.md5(F.concat(F.col("word"),
                                          F.lit(CDC_SALT))), 1, 15),
               16, 10).cast("bigint")
    pos = pos.withColumn("bnd", (h % p == 0).cast("int"))
    wd = (Window.partitionBy("doc_id").orderBy("p")
          .rowsBetween(Window.unboundedPreceding, -1))
    idx = pos.withColumn("chunk_idx",
                         F.coalesce(F.sum("bnd").over(wd), F.lit(0))
                         .cast("bigint"))
    chunks = (idx.groupBy("doc_id", "chunk_idx")
              .agg(F.md5(F.concat_ws(
                  " ",
                  F.transform(
                      F.array_sort(F.collect_list(F.struct("p", "word"))),
                      lambda s: s.word))).alias("chash")))
    wk = Window.partitionBy("chash").orderBy("doc_id", "chunk_idx")
    marked = chunks.withColumn("rn", F.row_number().over(wk))
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum((F.col("rn") > 1).cast("int")).cast("bigint")
                 .alias("n_dup_chunks"))
            .select("doc_id", F.col("n_chunks").cast("bigint")
                    .alias("n_chunks"), "n_dup_chunks",
                    _r6(F.col("n_dup_chunks").cast("double")
                        / F.col("n_chunks")).alias("dup_frac"))
            .orderBy("doc_id"))


ORACLE_DEDUP_CDC_CHUNKS = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), pos AS (
  -- parallel unnests zip in DuckDB: (position, word) pairs
  SELECT doc_id, unnest(range(1, len(words) + 1)) AS p,
         unnest(words) AS word
  FROM w
), bnd AS (
  SELECT doc_id, p, word,
         CASE WHEN (('0x' || substr(md5(word || '{CDC_SALT}'), 1, 15))
                    ::BIGINT) % {CDC_P} = 0 THEN 1 ELSE 0 END AS b
  FROM pos
), idx AS (
  SELECT doc_id, p, word,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0)::BIGINT
           AS chunk_idx
  FROM bnd
), chunks AS (
  SELECT doc_id, chunk_idx,
         md5(string_agg(word, ' ' ORDER BY p)) AS chash
  FROM idx GROUP BY doc_id, chunk_idx
), marked AS (
  SELECT doc_id, chunk_idx, chash,
         ROW_NUMBER() OVER (PARTITION BY chash
                            ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_chunks,
       SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       FLOOR((SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*))
             * 1000000 + 0.5) / 1000000 AS dup_frac
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


SPAN_N = 12          # exact-substring span width in words


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str,
                            n: int = SPAN_N) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") at word grain: every
    length-``n`` word window whose exact text occurs MORE THAN ONCE in
    the corpus (across docs or repeated within one doc) is a duplicated
    span; report per doc how many of its word positions are covered by
    at least one duplicated span.  Unlike shingle-Jaccard (whole-doc
    similarity) or chunk dedup (fixed/content-defined block grid), this
    is the positional variant: it localizes WHICH words are duplicated,
    the signal used to cut boilerplate out of otherwise-unique pages.

    Scale shape (all linear in corpus words): each word starts at most
    one gram, so the gram stream is ~1 row per word; the global
    occurrence count is one window over gram-hash (partition = that
    gram's instance list, bounded by its duplication frequency — the
    boilerplate-skew hot spot is inherent to the problem); coverage is
    an explode of DUPLICATED spans only (bounded by dup mass, not
    corpus mass) + a distinct on (doc, position).  No joins between
    corpus-sized frames; the only join is the per-doc report back to
    the doc spine.  Engine-portable md5 gram hashing; zero Python."""
    return substring_span_report(_docs(spark, sf_dir), n=n)


def _grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, s, gh): one row per ``n``-word window of each doc — its
    1-based start ``s`` and the md5 ``gh`` of its text.  Docs shorter
    than ``n`` words yield no rows."""
    w = words_col()
    starts = F.when(
        F.size(w) >= n,
        F.sequence(F.lit(1), F.size(w) - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    return (docs.select(
        "doc_id",
        F.explode(F.transform(
            starts,
            lambda s: F.struct(
                s.cast("bigint").alias("s"),
                F.md5(F.concat_ws(" ", F.slice(w, s, n))).alias("gh"))))
        .alias("g"))
        .select("doc_id", "g.s", "g.gh"))


def _span_positions(grams: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, pos): the word positions the ``n``-word grams
    of ``grams`` cover."""
    return (grams.select("doc_id",
                         F.explode(F.sequence(F.col("s"),
                                              F.col("s") + n - 1))
                         .alias("pos"))
            .distinct())


def substring_span_report(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Frame-level substring-span dedup report (see
    :func:`q_dedup_substring_spans`; split out so the planted-passage
    invariant test can run it on arbitrary frames)."""
    w = words_col()
    base = docs.select("doc_id", F.size(w).cast("bigint").alias("n_words"))
    grams = _grams(docs, n)
    wc = Window.partitionBy("gh")
    dup = (grams.withColumn("cnt", F.count(F.lit(1)).over(wc))
           .filter(F.col("cnt") > 1))
    covered = (_span_positions(dup, n)
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("covered_words")))
    n_dup = (dup.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_dup_grams")))
    return (base.join(covered, "doc_id", "left")
            .join(n_dup, "doc_id", "left")
            .select(
                "doc_id", "n_words",
                F.coalesce(F.col("n_dup_grams"), F.lit(0))
                .cast("bigint").alias("n_dup_grams"),
                F.coalesce(F.col("covered_words"), F.lit(0))
                .cast("bigint").alias("covered_words"))
            .withColumn("dup_frac",
                        _r6(F.col("covered_words").cast("double")
                            / F.col("n_words")))
            .orderBy("doc_id"))


ORACLE_DEDUP_SUBSTRING_SPANS = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(words) - {SPAN_N} + 2, 1)))::BIGINT
           AS s,
         unnest(list_transform(
             range(1, greatest(len(words) - {SPAN_N} + 2, 1)),
             i -> md5(array_to_string(words[i : i + {SPAN_N} - 1], ' '))))
           AS gh
  FROM w
), dup AS (
  SELECT doc_id, s, gh,
         COUNT(*) OVER (PARTITION BY gh) AS cnt
  FROM grams
  QUALIFY cnt > 1
), covered AS (
  SELECT doc_id, COUNT(*) AS covered_words FROM (
    SELECT DISTINCT doc_id, unnest(range(s, s + {SPAN_N})) AS pos
    FROM dup
  ) GROUP BY doc_id
), ndup AS (
  SELECT doc_id, COUNT(*) AS n_dup_grams FROM dup GROUP BY doc_id
)
SELECT w.doc_id,
       len(w.words)::BIGINT AS n_words,
       COALESCE(ndup.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       COALESCE(covered.covered_words, 0)::BIGINT AS covered_words,
       FLOOR((COALESCE(covered.covered_words, 0)::DOUBLE / len(w.words))
             * 1000000 + 0.5) / 1000000 AS dup_frac
FROM w
LEFT JOIN covered ON covered.doc_id = w.doc_id
LEFT JOIN ndup ON ndup.doc_id = w.doc_id
ORDER BY w.doc_id
"""


def q_dedup_substring_clean(spark: SparkSession, sf_dir: str,
                            n: int = SPAN_N) -> DataFrame:
    """The TRANSFORMATION half of substring-span dedup (Lee et al.
    2022 actually CUT the duplicated substrings): every width-``n``
    word span whose text occurs more than once in the corpus keeps its
    globally FIRST instance (order: doc_id, then start) and removes
    the word positions covered by every other instance; each document
    is re-emitted with the surviving words re-joined in position
    order.  Output stays narrow at any corpus size (md5 of the cleaned
    text + kept/total word counts), the same contract as
    ``dedup_chunk_clean``.

    Scale shape: the span pipeline of :func:`q_dedup_substring_spans`
    plus one per-gram-hash window (keep-first rank — partition = that
    gram's instance list, bounded by duplication), one distinct over
    REMOVED positions (bounded by dup mass), one left-anti join of the
    corpus word stream against the removed set on (doc, position), and
    one doc-keyed re-assembly groupBy.  Zero Python; no corpus
    self-join."""
    return substring_clean(_docs(spark, sf_dir), n=n)


def substring_clean(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Frame-level substring-span removal (see
    :func:`q_dedup_substring_clean`)."""
    w = words_col()
    base = docs.select("doc_id", F.size(w).cast("bigint").alias("n_words"))
    grams = _grams(docs, n)
    wcnt = Window.partitionBy("gh")
    wfirst = Window.partitionBy("gh").orderBy("doc_id", "s")
    marked = (grams
              .withColumn("cnt", F.count(F.lit(1)).over(wcnt))
              .withColumn("rn", F.row_number().over(wfirst)))
    removed = _span_positions(
        marked.filter((F.col("cnt") > 1) & (F.col("rn") > 1)), n)
    words = (docs.select("doc_id", F.posexplode(w).alias("p0", "word"))
             .select("doc_id", (F.col("p0") + 1).cast("bigint")
                     .alias("pos"), "word"))
    kept = words.join(removed, ["doc_id", "pos"], "left_anti")
    clean = (kept.groupBy("doc_id")
             .agg(F.md5(F.concat_ws(
                 " ",
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "word"))),
                     lambda s: s.word))).alias("clean_hash"),
                 F.count(F.lit(1)).alias("n_kept")))
    return (base.join(clean, "doc_id", "left")
            .select("doc_id", "n_words",
                    F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint")
                    .alias("n_kept"),
                    F.coalesce(F.col("clean_hash"), F.md5(F.lit("")))
                    .alias("clean_hash"))
            .orderBy("doc_id"))


ORACLE_DEDUP_SUBSTRING_CLEAN = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(words) - {SPAN_N} + 2, 1)))::BIGINT
           AS s,
         unnest(list_transform(
             range(1, greatest(len(words) - {SPAN_N} + 2, 1)),
             i -> md5(array_to_string(words[i : i + {SPAN_N} - 1], ' '))))
           AS gh
  FROM w
), marked AS (
  SELECT doc_id, s, gh,
         COUNT(*) OVER (PARTITION BY gh) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, s) AS rn
  FROM grams
), removed AS (
  SELECT DISTINCT doc_id, unnest(range(s, s + {SPAN_N})) AS pos
  FROM marked WHERE cnt > 1 AND rn > 1
), wrd AS (
  SELECT doc_id, unnest(range(1, len(words) + 1))::BIGINT AS pos,
         unnest(words) AS word
  FROM w
), kept AS (
  SELECT wrd.doc_id, wrd.pos, wrd.word
  FROM wrd LEFT JOIN removed r
    ON r.doc_id = wrd.doc_id AND r.pos = wrd.pos
  WHERE r.pos IS NULL
), clean AS (
  SELECT doc_id, md5(string_agg(word, ' ' ORDER BY pos)) AS clean_hash,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       len(w.words)::BIGINT AS n_words,
       COALESCE(clean.n_kept, 0)::BIGINT AS n_kept,
       COALESCE(clean.clean_hash, md5('')) AS clean_hash
FROM w
LEFT JOIN clean ON clean.doc_id = w.doc_id
ORDER BY w.doc_id
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_cdc_chunks": q_dedup_cdc_chunks,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_substring_clean": q_dedup_substring_clean,
    "dedup_chunk_crossdoc": q_dedup_chunk_crossdoc,
    "dedup_chunk_clean": q_dedup_chunk_clean,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_jaccard_groundtruth": q_dedup_jaccard_groundtruth,
    "dedup_containment_pairs": q_dedup_containment_pairs,
    "dedup_containment_lsh": q_dedup_containment_lsh,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_edit_distance": q_dedup_edit_distance,
    "dedup_incremental": q_dedup_incremental,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_canonicalize": q_dedup_canonicalize,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_cdc_chunks": ORACLE_DEDUP_CDC_CHUNKS,
    "dedup_substring_spans": ORACLE_DEDUP_SUBSTRING_SPANS,
    "dedup_substring_clean": ORACLE_DEDUP_SUBSTRING_CLEAN,
    "dedup_chunk_crossdoc": ORACLE_DEDUP_CHUNK_CROSSDOC,
    "dedup_chunk_clean": ORACLE_DEDUP_CHUNK_CLEAN,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_jaccard_groundtruth": ORACLE_DEDUP_JACCARD_GROUNDTRUTH,
    "dedup_containment_pairs": ORACLE_DEDUP_CONTAINMENT_PAIRS,
    "dedup_containment_lsh": ORACLE_DEDUP_CONTAINMENT_LSH,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_edit_distance": ORACLE_DEDUP_EDIT_DISTANCE,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_simhash_pairs": ORACLE_DEDUP_SIMHASH_PAIRS,
    "dedup_canonicalize": ORACLE_DEDUP_CANONICALIZE,
}
