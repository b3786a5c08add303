"""Text-analysis operators over the ``documents`` table.

Each stage has one definition, and one DuckDB twin where an oracle
needs it.  The 16 queries (``QUERIES``; twins in ``ORACLES``) and the
stages they call (twins in brackets):

* ``text_stats`` — ``quality_cols`` [``quality_sql``]; ``lang_id`` —
  its stop ratio → ``lang_guess`` [``_lang_guess_sql``].  Curation's
  scores and their twin use all four.
* ``doc_fingerprint``, ``token_counts``, ``tfidf_topk``,
  ``doc_chunk_overlap`` — ``words_col`` [``_WORDS_CTE``];
  ``text_repetition``, ``corpus_ngram_topk`` — ``_ngram_col``.
* ``lm_bigram_surprisal`` — ``_surprisal_agg`` [``SURPRISAL_CTE``];
  ``quality_classifier`` — ``nb_classifier_scores``; ``pii_scrub`` —
  ``pii_scrub_cols`` [``_pii_oracle_exprs``].
* ``bpe_pair_stats`` — ``_vocab`` [``_wc_sql``]; ``bpe_train_merges``
  — ``_bpe_rounds`` [``_bpe_train_ctes``], which ``bpe_train`` also
  collects; ``bpe_encode``, ``bpe_train_encode`` — ``_bpe_report``
  [``_bpe_report_sql``] under ``BPE_MERGES`` or ``bpe_train``'s merges.
* ``bm25_search`` — ``bm25_scored`` [``BM25_CTE``], also the sparse
  side of ``hybrid``.

All JVM-side expressions (split / transform / filter / aggregate higher-
order functions) — no Python in the hot path.  Cross-engine determinism:
words come from ``\\s+`` splitting of trimmed text, hashes are md5 (both
engines agree bit-for-bit on md5 of the same UTF-8 string).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6, _u6
from atr_adaptive_laguerre_spark.operators.io import read_table

#: tiny English stopword list (top function words; includes the synthetic
#: corpus's fillers) — heuristic lang/quality scoring only
EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def words_col():
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


#: the per-doc ``w (doc_id, words)`` CTE: SQL twin of :func:`words_col`
_WORDS_CTE = """w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
)"""


def quality_cols(w=None):
    """Shared quality expressions over a words array: (stop_ratio, ttr,
    quality_score).  One definition feeds both q_text_stats and the
    curation pipeline — MIN_QUALITY thresholds are calibrated against
    THIS formula, so the two must never diverge."""
    w = words_col() if w is None else w
    n = F.size(w)
    sw_list = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    stop_ratio = (F.size(F.filter(w, lambda x: F.array_contains(sw_list, x)))
                  .cast("double") / n)
    ttr = F.size(F.array_distinct(w)).cast("double") / n
    quality = (F.least(n.cast("double") / 100.0, F.lit(1.0)) * 0.4
               + stop_ratio * 0.3 + ttr * 0.3)
    return stop_ratio, ttr, quality


def lang_guess(stop_ratio):
    """Heuristic language guess 'cjk' / 'en' / 'other': any CJK
    character in ``text``, else an English stopword ratio of at least
    0.05 (``stop_ratio``, from :func:`quality_cols`).  Shared by
    q_lang_id and the curation scores."""
    has_cjk = F.length(F.regexp_replace(F.col("text"),
                                        r"[^一-鿿]", "")) > 0
    return (F.when(has_cjk, "cjk")
            .when(stop_ratio >= 0.05, "en")
            .otherwise("other"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring: whitespace token count, mean word
    length, stopword ratio, type-token ratio, and a composite quality
    score — the text-quality operator family of a training-data pipeline."""
    docs = _docs(spark, sf_dir)
    w = words_col()
    n = F.size(w)
    total_chars = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x))
    n_distinct = F.size(F.array_distinct(w))
    mean_wl = total_chars.cast("double") / n
    stop_ratio, ttr, quality = quality_cols(w)
    return (docs.select(
        "doc_id",
        n.alias("token_count"),
        n_distinct.alias("distinct_tokens"),
        _r6(mean_wl).alias("mean_word_len"),
        _r6(stop_ratio).alias("stopword_ratio"),
        _r6(ttr).alias("type_token_ratio"),
        _r6(quality).alias("quality_score"))
        .orderBy("doc_id"))


def _sw_sql() -> str:
    return "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"


def _lang_guess_sql(sr: str, pad: str) -> str:
    """DuckDB twin of :func:`lang_guess` as a ``lang_guess`` column over
    a ``has_cjk`` flag and the stop-ratio expression ``sr``; ``pad``
    indents the continuation lines."""
    return (f"CASE WHEN has_cjk THEN 'cjk'\n"
            f"{pad}WHEN {sr} >= 0.05 THEN 'en'\n"
            f"{pad}ELSE 'other' END AS lang_guess")


def quality_sql() -> str:
    """DuckDB twin of :func:`quality_cols`'s quality score over a
    ``words`` list column — the ONE definition both the text_stats and
    corpus_curation oracles embed (mirrors the Spark expression
    term-for-term so cross-engine comparisons stay bit-stable)."""
    return (f"(LEAST(length(words)::DOUBLE / 100.0, 1.0) * 0.4 "
            f"+ (length(list_filter(words, "
            f"x -> list_contains({_sw_sql()}, x)))::DOUBLE "
            f"/ length(words)) * 0.3 "
            f"+ (length(list_distinct(words))::DOUBLE / length(words)) "
            f"* 0.3)")


ORACLE_TEXT_STATS = f"""
WITH {_WORDS_CTE}
SELECT doc_id,
       length(words) AS token_count,
       length(list_distinct(words)) AS distinct_tokens,
       FLOOR((list_sum(list_transform(words, x -> length(x)))::DOUBLE
              / length(words)) * 1000000 + 0.5) / 1000000 AS mean_word_len,
       FLOOR((length(list_filter(words,
              x -> list_contains({_sw_sql()}, x)))::DOUBLE
              / length(words)) * 1000000 + 0.5) / 1000000 AS stopword_ratio,
       FLOOR((length(list_distinct(words))::DOUBLE / length(words))
             * 1000000 + 0.5) / 1000000 AS type_token_ratio,
       FLOOR({quality_sql()}
             * 1000000 + 0.5) / 1000000 AS quality_score
FROM w
ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English function-word ratio with a CJK
    charset check — classify 'en' / 'cjk' / 'other'.  (The synthetic corpus
    shares one vocabulary across langs, so this validates the computation,
    not real-world accuracy.)"""
    docs = _docs(spark, sf_dir)
    stop_ratio = quality_cols()[0]
    return (docs.select("doc_id", "lang",
                        _r6(stop_ratio).alias("en_stopword_ratio"),
                        lang_guess(stop_ratio).alias("lang_guess"))
            .orderBy("doc_id"))


ORACLE_LANG_ID = f"""
WITH w AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), r AS (
  SELECT doc_id, lang,
         length(list_filter(words, x -> list_contains({_sw_sql()}, x)))::DOUBLE
           / length(words) AS sr,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0
           AS has_cjk
  FROM w
)
SELECT doc_id, lang,
       FLOOR(sr * 1000000 + 0.5) / 1000000 AS en_stopword_ratio,
       {_lang_guess_sql("sr", " " * 12)}
FROM r
ORDER BY doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized lowercase
    text (the canonical content hash used by exact dedup)."""
    docs = _docs(spark, sf_dir)
    norm = F.concat_ws(" ", words_col())
    return (docs.select("doc_id",
                        F.md5(norm).alias("fingerprint"),
                        F.length(norm).alias("norm_len"))
            .orderBy("doc_id"))


ORACLE_DOC_FINGERPRINT = """
WITH n AS (
  SELECT doc_id,
         array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         ' ') AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS fingerprint, length(norm) AS norm_len
FROM n
ORDER BY doc_id
"""


#: BPE-ish pre-tokenizer: letter runs, single digits, or single
#: non-alnum marks — the GPT-2-style pre-split shape (letters cluster,
#: digits split, punctuation isolates).  Identical regex semantics in
#: Java (Spark) and RE2-ish (DuckDB) for this alternation.
BPE_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace tokens and a BPE-ish regex
    pre-tokenization (letter runs / single digits / punctuation marks) —
    plus the chars-per-token compression ratio an LLM-data pipeline uses
    for quality filtering and cost estimates.  All JVM-side regex; no
    Python."""
    docs = _docs(spark, sf_dir)
    ws_n = F.size(words_col())
    # F.lit pattern (not F.expr) — a SQL string literal would eat the \s
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), F.lit(0))
    bpe_n = F.size(bpe)
    n_chars = F.length(F.col("text"))
    return (docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        ws_n.alias("ws_tokens"),
        bpe_n.alias("bpe_tokens"),
        _r6(n_chars.cast("double") / bpe_n).alias("chars_per_bpe_token"),
        _r6(bpe_n.cast("double") / ws_n).alias("bpe_per_ws_token"))
        .orderBy("doc_id"))


ORACLE_TOKEN_COUNTS = f"""
WITH t AS (
  SELECT doc_id, text,
         length(regexp_split_to_array(trim(lower(text)), '\\s+'))
           AS ws_tokens,
         length(regexp_extract_all(lower(text), '{BPE_PATTERN}'))
           AS bpe_tokens
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       ws_tokens,
       bpe_tokens,
       FLOOR((length(text)::DOUBLE / bpe_tokens) * 1000000 + 0.5) / 1000000
         AS chars_per_bpe_token,
       FLOOR((bpe_tokens::DOUBLE / ws_tokens) * 1000000 + 0.5) / 1000000
         AS bpe_per_ws_token
FROM t
ORDER BY doc_id
"""


def _ngram_col(w, n: int):
    """Non-distinct word n-grams (repetition metrics need multiplicity,
    unlike dedup's distinct shingles).  Docs with < n words yield an
    empty array (guard the descending F.sequence)."""
    idx = F.sequence(F.lit(0), F.size(w) - n)
    g = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int"))
                   for j in range(n)]))
    return F.when(F.size(w) >= n, g).otherwise(
        F.array().cast("array<string>"))


def _run_stats(arr):
    """``struct(top, dup)`` of an array: the count of its most frequent
    element and the total mass of elements occurring more than once —
    computed by sorting the array and scanning adjacent equal-element
    runs with one ``F.aggregate`` pass.  Entirely doc-local Catalyst
    expressions: the gram multiset never leaves its row, so the metric
    costs ZERO shuffle (the first explode-and-groupBy version of this
    operator shuffled ~3x the corpus's token mass in gram strings and
    was the slowest operator in the suite by 3x)."""
    s = F.array_sort(arr)
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"), zero.alias("best"), zero.alias("dup"))

    def step(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        # closing a run: fold it into best/dup before starting the new one
        best_flushed = F.greatest(acc["best"], acc["run"])
        dup_flushed = acc["dup"] + F.when(acc["run"] > 1,
                                          acc["run"]).otherwise(zero)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.when(same, acc["best"]).otherwise(best_flushed).alias("best"),
            F.when(same, acc["dup"]).otherwise(dup_flushed).alias("dup"))

    def fin(acc):
        return F.struct(
            F.greatest(acc["best"], acc["run"]).alias("top"),
            (acc["dup"] + F.when(acc["run"] > 1, acc["run"]).otherwise(zero))
            .alias("dup"))

    return F.aggregate(s, init, step, fin)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION filters (Rae et al. 2021 §A1.1): fraction
    of tokens claimed by the single most frequent unigram / bigram, and
    the fraction of trigrams that occur more than once — the signals a
    web-curation pipeline uses to drop boilerplate and degenerate
    machine-generated text.  (The reference corpus has no newlines, so
    the duplicate-LINE variants degenerate; the n-gram family is the
    meaningful subset here.)

    Scale shape: a pure MAP — per-doc gram frequencies come from a
    doc-local sorted-run scan (``_run_stats``), so no gram ever crosses
    a partition boundary; the only exchanges in the plan are the
    scan-parallelism repartition from ``read_table`` and the
    presentation orderBy (plan-verified: 20.1 s -> 2.5 s at sf0.1 vs
    the explode-and-groupBy formulation).  Per-doc cost is O(n log n)
    in the doc's token count, JVM-side."""
    docs = _docs(spark, sf_dir)
    w = words_col()
    base = docs.select("doc_id", w.alias("w1"),
                       _ngram_col(w, 2).alias("w2"),
                       _ngram_col(w, 3).alias("w3"))
    st = base.select(
        "doc_id",
        F.size("w1").cast("bigint").alias("n1"),
        F.size("w2").cast("bigint").alias("n2"),
        F.size("w3").cast("bigint").alias("n3"),
        _run_stats(F.col("w1")).alias("r1"),
        _run_stats(F.col("w2")).alias("r2"),
        _run_stats(F.col("w3")).alias("r3"))

    def frac(num, den):
        return F.when(den > 0, _r6(num.cast("double") / den)) \
            .otherwise(F.lit(0.0))

    return (st.select(
        "doc_id",
        F.col("n1").alias("n_tokens"),
        frac(F.col("r1.top"), F.col("n1")).alias("top_unigram_frac"),
        frac(F.col("r2.top"), F.col("n2")).alias("top_bigram_frac"),
        frac(F.col("r3.dup"), F.col("n3")).alias("dup_trigram_frac"))
        .orderBy("doc_id"))


ORACLE_TEXT_REPETITION = f"""
WITH {_WORDS_CTE}, g AS (
  SELECT doc_id, 1 AS k, unnest(words) AS g FROM w
  UNION ALL
  SELECT doc_id, 2 AS k,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in range(1, length(words))]) AS g
  FROM w
  UNION ALL
  SELECT doc_id, 3 AS k,
         unnest([array_to_string(words[i:i+2], ' ')
                 for i in range(1, length(words) - 1)]) AS g
  FROM w
), c AS (
  SELECT doc_id, k, g, COUNT(*) AS c FROM g GROUP BY doc_id, k, g
), p AS (
  SELECT doc_id, k, MAX(c) AS top, SUM(c) AS tot,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM c GROUP BY doc_id, k
)
SELECT doc_id,
       MAX(CASE WHEN k = 1 THEN tot END)::BIGINT AS n_tokens,
       FLOOR(MAX(CASE WHEN k = 1 THEN top END)::DOUBLE
             / MAX(CASE WHEN k = 1 THEN tot END) * 1000000 + 0.5) / 1000000
         AS top_unigram_frac,
       COALESCE(FLOOR(MAX(CASE WHEN k = 2 THEN top END)::DOUBLE
             / MAX(CASE WHEN k = 2 THEN tot END) * 1000000 + 0.5) / 1000000,
             0.0) AS top_bigram_frac,
       COALESCE(FLOOR(MAX(CASE WHEN k = 3 THEN dup END)::DOUBLE
             / MAX(CASE WHEN k = 3 THEN tot END) * 1000000 + 0.5) / 1000000,
             0.0) AS dup_trigram_frac
FROM p
GROUP BY doc_id
ORDER BY doc_id
"""


#: corpus-wide frequent-n-gram report size
NGRAM_TOPN = 50


def q_corpus_ngram_topk(spark: SparkSession, sf_dir: str,
                        n: int = 3, topn: int = NGRAM_TOPN) -> DataFrame:
    """Corpus-wide frequent n-gram mining: the top-``topn`` word
    trigrams by total occurrences, with document frequency — the
    boilerplate/template detector of a web-curation pipeline (CCNet
    and Gopher both cut pages dominated by corpus-frequent phrases;
    the same table seeds contamination blocklists and dedup
    stop-grams).

    Scale shape: one explode feeds one gram-keyed groupBy with
    map-side partial aggregation, then the global top-N is a
    TakeOrderedAndProject (O(topn) per partition, never a full sort);
    the distinct-doc frequency rides the same shuffle via a
    (gram, doc) pre-aggregate.  Deterministic at the cut: ties broken
    by the gram itself (binary UTF-8 ordering in both engines).

    Fully integer (counts only) — no float quantization needed."""
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id", F.explode(_ngram_col(words_col(), n)).alias("ngram"))
    per_doc = (grams.groupBy("ngram", "doc_id")
               .agg(F.count(F.lit(1)).alias("c")))
    counts = (per_doc.groupBy("ngram")
              .agg(F.sum("c").alias("cnt"),
                   F.count(F.lit(1)).alias("df")))
    return (counts.orderBy(F.desc("cnt"), "ngram").limit(topn)
            .select("ngram", "cnt", "df"))


ORACLE_CORPUS_NGRAM_TOPK = f"""
WITH {_WORDS_CTE}, g AS (
  SELECT doc_id,
         words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] AS ngram
  FROM w, UNNEST(range(0, len(words) - 2)) AS t(i)
  WHERE len(words) >= 3
)
SELECT ngram, COUNT(*)::BIGINT AS cnt, COUNT(DISTINCT doc_id)::BIGINT AS df
FROM g GROUP BY ngram
ORDER BY cnt DESC, ngram LIMIT {NGRAM_TOPN}
"""


#: keywords reported per document by tf-idf extraction
TFIDF_K = 5


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-``TFIDF_K`` keywords by tf·idf — the classic
    corpus-statistics keyword extractor of a training-data pipeline
    (topic tagging, cluster labeling, index keys).

    Scale shape: term frequencies are a (doc_id, term)-keyed groupBy
    (composite key — no term hot-spot); document frequencies aggregate
    THAT table by term (map-side partial aggregation absorbs the
    per-doc fan-in, so the term-keyed shuffle carries at most
    |vocab| × shuffle_partitions rows); the corpus doc count rides in
    as a 1-row aggregate cross join and the vocabulary-sized idf table
    joins back by term (both broadcast — plan-asserted, the scored
    side is never sort-merged).  The top-k window partitions by doc_id.
    Determinism: idf is ``_r6``-quantized before the tf×idf product
    (int × quantized-double is exact in binary64), and rank ties break
    on the term string, so both engines produce identical orderings."""
    docs = _docs(spark, sf_dir)
    terms = docs.select("doc_id", F.explode(words_col()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = dfreq.crossJoin(ndocs).select(
        "term",
        _r6(F.log(F.col("n_docs").cast("double") / F.col("df")))
        .alias("idf"))
    scored = tf.join(idf, "term").select(
        "doc_id", "term", "tf",
        _r6(F.col("tf") * F.col("idf")).alias("score"))
    win = (Window.partitionBy("doc_id")
           .orderBy(F.desc("score"), F.asc("term")))
    return (scored.withColumn("rnk", F.row_number().over(win))
            .filter(F.col("rnk") <= TFIDF_K)
            .select("doc_id", "rnk", "term", "tf", "score")
            .orderBy("doc_id", "rnk"))


ORACLE_TFIDF_TOPK = f"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
                        '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM w GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(*)::BIGINT AS n_docs FROM documents
), idf AS (
  SELECT term,
         FLOOR(ln(n_docs::DOUBLE / df) * 1000000 + 0.5) / 1000000 AS idf
  FROM dfq, nd
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         FLOOR((tf.tf * idf.idf) * 1000000 + 0.5) / 1000000 AS score
  FROM tf JOIN idf USING (term)
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rnk
  FROM s
)
SELECT doc_id, rnk::INTEGER AS rnk, term, tf, score
FROM r WHERE rnk <= {TFIDF_K}
ORDER BY doc_id, rnk
"""


def _surprisal_agg(docs: DataFrame) -> DataFrame:
    """Per-doc bigram-LM aggregate (doc_id, s_micro, n_bigrams,
    mx_micro) — train + score in one plan, shared by the surprisal
    report and the perplexity-bucket curation query.  Docs with < 2
    tokens produce no row (the callers left-join and coalesce)."""
    w = words_col()
    b = docs.select("doc_id", F.explode(_ngram_col(w, 2)).alias("bg"))
    cdoc = b.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    c12 = cdoc.groupBy("bg").agg(F.sum("c").alias("c12"))
    ctx = c12.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "),
                                            F.lit(1)))
    c1 = ctx.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (docs.select(F.explode(w).alias("t"))
             .agg(F.count_distinct("t").alias("v")))
    model = (ctx.join(c1, "w1").crossJoin(vocab)
             .select("bg", _u6(
                 F.log((F.col("c12") + 1).cast("double")
                       / (F.col("c1") + F.col("v")))).alias("lp_micro")))
    return (cdoc.join(model, "bg")
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * -F.col("lp_micro")).alias("s_micro"),
                 F.sum("c").alias("n_bigrams"),
                 F.max(-F.col("lp_micro")).alias("mx_micro")))


def q_lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style perplexity quality scoring (CCNet / Wenzek et al.
    2020 idiom): train an add-one-smoothed bigram language model on the
    corpus itself, then score every document's mean surprisal
    −(1/n)·Σ ln P(wᵢ|wᵢ₋₁) — low-surprisal docs read like the corpus,
    high-surprisal docs are outliers (the usual keep/drop signal).

    Scale shape — train-then-score in ONE job, no driver round-trip:
    per-doc bigram counts are (doc_id, bigram)-keyed; the MODEL
    (bigram counts, context totals, vocab size) aggregates that table
    — the model-sized frames join among themselves and back to the
    doc-grain counts by bigram key (vocab²-bounded side → broadcast at
    sane vocabularies, key-partitioned hash join otherwise — AQE's
    call, nothing forced).  Determinism: each distinct bigram's
    log-probability is quantized ONCE to integer micro-nats
    (``floor(ln(p)·1e6+0.5)``), so per-doc sums are exact integer
    arithmetic and the engines cannot drift on accumulation order —
    the same fixed-point-before-sum trick as the domain-mix weights."""
    docs = _docs(spark, sf_dir)
    agg = _surprisal_agg(docs)
    return (docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
        .alias("n_bigrams"),
        F.coalesce(
            _r6(F.col("s_micro").cast("double") / F.col("n_bigrams")
                / 1000000.0),
            F.lit(0.0)).alias("mean_surprisal"),
        F.coalesce(_r6(F.col("mx_micro").cast("double") / 1000000.0),
                   F.lit(0.0)).alias("max_surprisal"))
        .orderBy("doc_id"))


#: shared bigram-LM CTE chain through the per-doc ``agg`` frame — the
#: SQL twin of :func:`_surprisal_agg`
SURPRISAL_CTE = f"""
WITH {_WORDS_CTE}, b AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in range(1, length(words))]) AS bg
  FROM w
), cdoc AS (
  SELECT doc_id, bg, COUNT(*)::BIGINT AS c FROM b GROUP BY doc_id, bg
), c12 AS (
  SELECT bg, SUM(c)::BIGINT AS c12 FROM cdoc GROUP BY bg
), ctx AS (
  SELECT bg, c12, split_part(bg, ' ', 1) AS w1 FROM c12
), c1 AS (
  SELECT w1, SUM(c12)::BIGINT AS c1 FROM ctx GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT t)::BIGINT AS v
  FROM (SELECT unnest(words) AS t FROM w)
), model AS (
  SELECT ctx.bg,
         FLOOR(ln((ctx.c12 + 1)::DOUBLE / (c1.c1 + vocab.v))
               * 1000000.0 + 0.5)::BIGINT AS lp_micro
  FROM ctx JOIN c1 USING (w1), vocab
), agg AS (
  SELECT cdoc.doc_id,
         SUM(cdoc.c * -model.lp_micro)::BIGINT AS s_micro,
         SUM(cdoc.c)::BIGINT AS n_bigrams,
         MAX(-model.lp_micro)::BIGINT AS mx_micro
  FROM cdoc JOIN model USING (bg)
  GROUP BY cdoc.doc_id
)"""

ORACLE_LM_BIGRAM_SURPRISAL = SURPRISAL_CTE + """
SELECT d.doc_id,
       COALESCE(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
       COALESCE(FLOOR((agg.s_micro::DOUBLE / agg.n_bigrams / 1000000.0)
                      * 1000000 + 0.5) / 1000000, 0.0) AS mean_surprisal,
       COALESCE(FLOOR((agg.mx_micro::DOUBLE / 1000000.0)
                      * 1000000 + 0.5) / 1000000, 0.0) AS max_surprisal
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
ORDER BY d.doc_id
"""


#: merge candidates reported by the BPE pair-statistics operator
BPE_TOP_K = 20


def _vocab(docs: DataFrame, min_len: int) -> DataFrame:
    """(w, c): every distinct word of at least ``min_len`` characters
    and its corpus count — the one corpus-scale shuffle of the BPE
    stages (a token-keyed groupBy; map-side combine does the heavy
    lifting, so it is vocab-linear)."""
    return (docs.select(F.explode(words_col()).alias("w"))
            .filter(F.length("w") >= min_len)
            .groupBy("w").agg(F.count(F.lit(1)).alias("c")))


def _wc_sql(min_len: int) -> str:
    """The ``wc`` CTE: SQL twin of :func:`_vocab`."""
    return f"""wc AS (
  SELECT w, COUNT(*)::BIGINT AS c FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE length(w) >= {min_len}
  GROUP BY w
)"""


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training statistics — the first iteration of BPE
    (Sennrich et al. 2016): count every adjacent character pair inside
    every word, weighted by word frequency; the top pair is the first
    merge a BPE trainer would learn.  Reports the ``BPE_TOP_K`` most
    frequent pairs (ties broken by pair string, so the ranking is
    total and engine-independent).

    Scale shape: the corpus collapses to DISTINCT words first
    (:func:`_vocab`), char-pair expansion runs over the vocabulary only
    (JVM ``transform`` over ``sequence``, no Python), and the final
    pair space is bounded by charset² (corpus-size-independent), so
    the top-k window is O(|charset|²) rows on one partition — a
    constant.  The later merge iterations, where the tokenization
    changes per merge, are the rounds of :func:`q_bpe_train_merges`."""
    wc = _vocab(_docs(spark, sf_dir), 2)
    pairs = wc.select(
        "c", F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> substring(w, i, 2))")).alias("pair"))
    agg = pairs.groupBy("pair").agg(F.sum("c").alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), "pair")  # O(charset²) rows
    return (agg.withColumn("rank", F.row_number().over(wr)
                           .cast("bigint"))
            .filter(F.col("rank") <= BPE_TOP_K)
            .select("rank", "pair", "cnt")
            .orderBy("rank"))


ORACLE_BPE_PAIR_STATS = f"""
WITH {_wc_sql(2)}, pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, i::INT, 2))) AS pair,
         c
  FROM wc
), agg AS (
  SELECT pair, SUM(c)::BIGINT AS cnt FROM pairs GROUP BY pair
)
SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, pair)::BIGINT AS rank,
       pair, cnt
FROM agg
QUALIFY rank <= {BPE_TOP_K}
ORDER BY rank
"""


def _bpe_rounds(docs: DataFrame, n: int) -> DataFrame:
    """(rank, pair, merged, cnt), unordered: ``n`` rounds of the
    iterative BPE loop (Sennrich et al. 2016, alg. 1) over the
    ``<sym>``-wrapped STRING representation, so DuckDB can replay it
    exactly.  Per round, count adjacent-symbol pairs over the
    (distinct-word, frequency) vocabulary, pick the most frequent (ties
    by the wrapped pair string — a total order even when two different
    splits concatenate to the same text, e.g. ``<ab><c>`` vs
    ``<a><bc>``), fuse it everywhere with ONE leftmost-nonoverlapping
    ``replace`` (BPE's merge-apply semantics in both engines — the
    :func:`bpe_encode_col` contract), and repeat on the rewritten
    vocabulary.  A row holds the learned pair (wrapped), the fused
    symbol and its count at selection time; once no word has two
    symbols left the later rounds are empty.

    Collect-free: each round's argmax is a 1-row broadcast frame feeding
    the next round's ``replace`` (same driver-holds-nothing shape as the
    IVF Lloyd loop); ``localCheckpoint`` truncates the per-round plan.
    Scale shape: after :func:`_vocab`, each round is a vocab-linear pair
    explode + one pair-keyed aggregate over an O(symbols²)-bounded key
    space + a vocab-linear codegen rewrite."""
    sym = (_vocab(docs, 1)
           .select("c", F.regexp_replace("w", "(.)", "<$1>").alias("s"))
           .localCheckpoint(eager=True))
    rounds = []
    for r in range(1, n + 1):
        sy = sym.select(
            "c", F.expr("regexp_extract_all(s, '<[^>]*>', 0)").alias("sy"))
        prs = sy.select("c", F.explode(F.expr(
            # sequence(1, 0) DESCENDS in Spark — guard 1-symbol words
            "IF(size(sy) < 2, cast(array() as array<string>), "
            "transform(sequence(1, size(sy) - 1), "
            "i -> concat(sy[i - 1], sy[i])))")).alias("pair"))
        best = (prs.groupBy("pair").agg(F.sum("c").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pair").asc())
                .limit(1)
                .select(F.lit(r).cast("bigint").alias("rank"), "pair",
                        F.replace(F.col("pair"), F.lit("><"), F.lit(""))
                        .alias("merged"),
                        F.col("cnt").cast("bigint").alias("cnt"))
                .localCheckpoint(eager=True))
        rounds.append(best)
        sym = (sym.crossJoin(F.broadcast(best.select("pair", "merged")))
               .select("c", F.replace(F.col("s"), F.col("pair"),
                                      F.col("merged")).alias("s"))
               .localCheckpoint(eager=True))
    return reduce(DataFrame.unionByName, rounds)


def bpe_train(docs: DataFrame,
              n_merges: int = 8) -> "list[tuple[str, str]]":
    """Train ``n_merges`` BPE merges on the corpus (Sennrich et al.
    2016, algorithm 1): the :func:`_bpe_rounds`, each learned pair
    split back into its ``(a, b)`` symbols, directly consumable by
    :func:`bpe_encode_col` — train once, encode everywhere.  Fewer than
    ``n_merges`` come back once no word has two symbols left.

    The corpus must contain no literal ``<`` or ``>``: both the trainer
    and :func:`bpe_encode_col` delimit symbols with them.  (True for
    the tokenized-word corpus; a production encoder escapes them
    first.)"""
    if n_merges < 1:
        return []
    rows = _bpe_rounds(docs, n_merges).orderBy("rank").collect()
    return [tuple(r["pair"][1:-1].split("><")) for r in rows]


#: Canonical ordered merge list for the catalog ``bpe_encode`` query —
#: a fixed, self-contained vocabulary (the oracle must be standalone
#: SQL) that fully reassembles the corpus words "table" and "value".
#: Production encodes with merges from :func:`bpe_train` instead; the
#: replace machinery is identical (tested against a pure-Python BPE).
BPE_MERGES: "list[tuple[str, str]]" = [
    ("l", "e"), ("a", "b"), ("t", "ab"), ("tab", "le"),
    ("v", "a"), ("va", "l"), ("u", "e"), ("val", "ue"),
]


def bpe_encode_col(col, merges: "list[tuple[str, str]]" = BPE_MERGES):
    """Apply an ordered BPE merge list to a text column in pure
    Catalyst expressions: every non-space char is wrapped as ``<c>``
    (symbol boundaries are then unambiguous — ``<a><b>`` can never
    match across two multi-char symbols), and each merge ``(a, b)`` is
    ONE literal ``replace('<a><b>' -> '<ab>')``.  ``replace`` scans
    left-to-right over non-overlapping occurrences, which is exactly
    BPE's leftmost-first merge application — and DuckDB's ``replace``
    has the same semantics, so the twin is bit-identical.  Merges never
    cross whitespace (spaces are not wrapped, breaking ``><``
    adjacency).  Same no-``<``/``>`` corpus contract as
    :func:`bpe_train`.

    Scale shape: a chain of ``len(merges)`` whole-stage-codegen string
    replaces — one corpus scan, zero shuffles, no Python."""
    enc = F.regexp_replace(F.trim(F.lower(col)), r"(\S)", "<$1>")
    for a, b in merges:
        enc = F.replace(enc, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return enc


def _bpe_report(docs: DataFrame,
                merges: "list[tuple[str, str]]") -> DataFrame:
    """Per-doc encode report under ``merges``: the non-space character
    count, the token count, the compression between them, and an md5
    fingerprint of the full encoded symbol stream (pins every token
    boundary, not just counts)."""
    enc = bpe_encode_col(F.col("text"), merges)
    n_chars = F.length(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s", ""))
    n_tokens = F.length(enc) - F.length(F.replace(enc, F.lit("<")))
    return (docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        _r6(n_chars.cast("double")
            / F.nullif(n_tokens.cast("double"), F.lit(0.0)))
        .alias("compression"),
        F.md5(enc).alias("tokens_md5"))
        .orderBy("doc_id"))


def _bpe_replace_sql(pairs) -> str:
    """DuckDB twin of :func:`bpe_encode_col`: the ``<c>``-wrapped text
    under one ``replace`` per ``(pair, merged)`` SQL expression pair."""
    expr = "regexp_replace(trim(lower(text)), '(\\S)', '<\\1>', 'g')"
    for pair, merged in pairs:
        expr = f"replace({expr}, {pair}, {merged})"
    return expr


def _bpe_report_sql(replace: str, ctes: str = "") -> str:
    """SQL twin of :func:`_bpe_report` for the encoded-text expression
    ``replace``, after the CTE list ``ctes`` (with its trailing
    separator) when it needs one."""
    return f"""
WITH {ctes}enc AS (
  SELECT doc_id,
         length(regexp_replace(trim(lower(text)), '\\s', '', 'g'))
           AS n_chars,
         {replace} AS e
  FROM documents
)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       (length(e) - length(replace(e, '<', '')))::BIGINT AS n_tokens,
       FLOOR(n_chars::DOUBLE
             / nullif(length(e) - length(replace(e, '<', '')), 0)
             * 1000000 + 0.5) / 1000000 AS compression,
       md5(e) AS tokens_md5
FROM enc
ORDER BY doc_id
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE over the corpus (the apply side of :func:`bpe_train`):
    the :func:`_bpe_report` under the fixed ``BPE_MERGES``."""
    return _bpe_report(_docs(spark, sf_dir), BPE_MERGES)


ORACLE_BPE_ENCODE = _bpe_report_sql(_bpe_replace_sql(
    (f"'<{a}><{b}>'", f"'<{a}{b}>'") for a, b in BPE_MERGES))


#: merge rounds pinned for the oracle-gated trainer catalog query
BPE_TRAIN_ROUNDS = 6


def q_bpe_train_merges(spark: SparkSession, sf_dir: str,
                       n_merges: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """BPE TRAINING as an oracle-gated catalog query: the
    :func:`_bpe_rounds` table in rank order, one row per merge round.
    Same no-``<``/``>`` corpus contract as :func:`bpe_train`."""
    return _bpe_rounds(_docs(spark, sf_dir), n_merges).orderBy("rank")


def _bpe_train_ctes(n: int = BPE_TRAIN_ROUNDS) -> str:
    """Unrolled merge rounds (twin of :func:`_bpe_rounds`): round r
    counts wrapped adjacent pairs over s{r-1}, b{r} is the argmax (ties
    by pair string), s{r} applies it with DuckDB's
    leftmost-nonoverlapping ``replace`` — the same semantics Spark's
    ``replace`` has, which is what makes the learned sequence
    bit-identical."""
    parts = [f"""{_wc_sql(1)}, s0 AS (
  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, c FROM wc
)"""]
    for r in range(1, n + 1):
        parts.append(f"""p{r} AS (
  SELECT pr AS pair, SUM(c)::BIGINT AS cnt FROM (
    SELECT c, unnest(list_transform(range(1, len(sy)),
                                    i -> sy[i] || sy[i + 1])) AS pr
    FROM (SELECT c, regexp_extract_all(s, '<[^>]*>') AS sy FROM s{r - 1})
  ) GROUP BY pr
), b{r} AS (
  SELECT {r}::BIGINT AS rank, pair, replace(pair, '><', '') AS merged, cnt
  FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1
), s{r} AS (
  SELECT replace(s, (SELECT pair FROM b{r}), (SELECT merged FROM b{r})) AS s,
         c
  FROM s{r - 1}
)""")
    return ",\n".join(parts)


ORACLE_BPE_TRAIN_MERGES = f"""
WITH {_bpe_train_ctes()}
SELECT rank, pair, merged, cnt FROM (
  {" UNION ALL ".join(f"SELECT * FROM b{r}"
                      for r in range(1, BPE_TRAIN_ROUNDS + 1))}
)
ORDER BY rank
"""


def q_bpe_train_encode(spark: SparkSession, sf_dir: str,
                       n_merges: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """The COMPOSED trained-tokenizer pipeline as one oracle-gated
    query: learn ``n_merges`` BPE merges on the corpus
    (:func:`bpe_train` — vocabulary-grain pair counting, the only
    corpus-scale shuffle) and report the corpus encoded with the
    LEARNED table (:func:`_bpe_report` — a whole-stage-codegen replace
    chain, zero shuffles).  Same output contract as ``bpe_encode`` but
    under merges the corpus itself chose — train once, encode
    everywhere, end to end.

    Driver state: the learned table itself (n_merges rows — the same
    bounded-bookkeeping adjudication as the IVF Lloyd loop).  The
    DuckDB twin replays the identical rounds via the trainer's
    unrolled CTEs and applies them with nested scalar-subquery
    replaces, so every learned boundary is hash-pinned cross-engine."""
    docs = _docs(spark, sf_dir)
    return _bpe_report(docs, bpe_train(docs, n_merges))


ORACLE_BPE_TRAIN_ENCODE = _bpe_report_sql(
    _bpe_replace_sql((f"(SELECT pair FROM b{r})",
                      f"(SELECT merged FROM b{r})")
                     for r in range(1, BPE_TRAIN_ROUNDS + 1)),
    _bpe_train_ctes() + ",\n")


#: PII patterns — written to behave identically under Java regex
#: (Spark) and RE2 (DuckDB): no ambiguous alternations/quantifiers
#: where backtracking (leftmost-greedy) and leftmost-longest could
#: pick different matches
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
     "<EMAIL>"),
    ("phone", r"\d{3}[-.]\d{3}[-.]\d{4}", "<PHONE>"),
    ("ip", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
)


def pii_scrub_cols(docs: DataFrame) -> DataFrame:
    """Per-doc PII detection + redaction (the C4 / RefinedWeb scrub
    step): counts per pattern class, a redacted text column (every
    match replaced by its class token, applied email → phone → ip so
    the output is order-deterministic), and the char-length delta.

    Stateless per-row Catalyst expressions — no shuffle, no Python;
    at 100 TB this pipelines inside the scan stage.  The synthetic
    catalog tables contain no PII (counts are all zero there); the
    cross-engine regex semantics are pinned by
    ``tests/test_operators.py::test_pii_scrub_planted`` on a planted
    frame run through BOTH engines."""
    red = F.col("text")
    for _, pat, tok in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tok)
    cols = [docs["*"]]
    for name, pat, _ in PII_PATTERNS:
        cols.append(F.regexp_count(F.col("text"), F.lit(pat))
                    .cast("bigint").alias(f"n_{name}"))
    return (docs.select(*cols)
            .withColumn("redacted", red)
            .withColumn("chars_delta",
                        (F.length("text") - F.length("redacted"))
                        .cast("bigint")))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII audit: per-source match counts, docs touched,
    and total char delta from redaction."""
    d = pii_scrub_cols(_docs(spark, sf_dir))
    any_pii = sum(F.col(f"n_{n}") for n, _, _ in PII_PATTERNS)
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_email").alias("n_email"),
                 F.sum("n_phone").alias("n_phone"),
                 F.sum("n_ip").alias("n_ip"),
                 F.sum((any_pii > 0).cast("bigint"))
                 .alias("docs_with_pii"),
                 F.sum("chars_delta").alias("chars_delta"))
            .orderBy("source"))


def _pii_oracle_exprs(text: str = "text") -> tuple[str, str, str, str]:
    """DuckDB twins of the per-doc scrub expressions (count per class
    + fully-redacted text), shared by the catalog oracle and the
    planted-frame test."""
    counts = [
        f"len(regexp_extract_all({text}, '{pat}'))::BIGINT"
        for _, pat, _ in PII_PATTERNS
    ]
    red = text
    for _, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return counts[0], counts[1], counts[2], red


ORACLE_PII_SCRUB = """
WITH d AS (
  SELECT source,
         {0} AS n_email, {1} AS n_phone, {2} AS n_ip,
         (length(text) - length({3}))::BIGINT AS chars_delta
  FROM documents
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(n_email)::BIGINT AS n_email,
       SUM(n_phone)::BIGINT AS n_phone,
       SUM(n_ip)::BIGINT AS n_ip,
       SUM((n_email + n_phone + n_ip > 0)::INT)::BIGINT
         AS docs_with_pii,
       SUM(chars_delta)::BIGINT AS chars_delta
FROM d
GROUP BY source
ORDER BY source
""".format(*_pii_oracle_exprs())


#: the trusted source: positive ("high-quality reference") class of the
#: NB quality classifier, and the benchmark set of curation's
#: contamination check (``curation.BENCHMARK_SOURCE``)
QUALITY_POS_SOURCE = "src0"


def nb_classifier_scores(docs: DataFrame) -> DataFrame:
    """Train + apply a naive-Bayes 'quality' classifier in one plan —
    the GPT-3 / PaLM quality-filter idiom (classifier trained with a
    trusted corpus as the positive class, scores gate the crawl; GPT-3
    paper appendix A): positive class = ``QUALITY_POS_SOURCE`` docs,
    negative = everything else; per-token add-one-smoothed
    log-likelihood ratios; per-doc score = class prior + Σ c(t)·llr(t).

    Determinism: each llr is quantized to micro-nats (``floor(x*1e6
    +0.5)``) BEFORE the per-doc sum, so accumulation is exact integer
    arithmetic — the fixed-point-before-sum trick every cross-engine
    float surface in this repo uses.

    Scale shape: the model is one token-keyed groupBy (vocab-linear,
    map-side partial agg); scoring joins doc-token counts to the model
    on ``token`` — a plain linear shuffled join, never a corpus
    self-join; the 1-row totals frame rides a broadcast-NL crossJoin
    (same plan shape as the bigram LM, plan-asserted there)."""
    w = words_col()
    lab = docs.select(
        "doc_id", (F.col("source") == QUALITY_POS_SOURCE)
        .cast("int").alias("pos"))
    tok = docs.select("doc_id", F.explode(w).alias("t"))
    cdoc = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    cls = (cdoc.join(lab, "doc_id")
           .groupBy("t")
           .agg(F.sum(F.col("c") * F.col("pos")).alias("cpos"),
                F.sum(F.col("c") * (1 - F.col("pos"))).alias("cneg")))
    totals = cls.agg(F.sum("cpos").alias("npos"),
                     F.sum("cneg").alias("nneg"),
                     F.count(F.lit(1)).alias("v"))
    model = (cls.crossJoin(totals)
             .select("t", _u6(
                 F.log((F.col("cpos") + 1).cast("double")
                       / (F.col("npos") + F.col("v")).cast("double"))
                 - F.log((F.col("cneg") + 1).cast("double")
                         / (F.col("nneg") + F.col("v")).cast("double")))
                 .alias("llr_micro")))
    prior = lab.agg(_u6(
        F.log(F.sum("pos").cast("double"))
        - F.log((F.count(F.lit(1)) - F.sum("pos")).cast("double")))
        .alias("prior_micro"))
    sc = (cdoc.join(model, "t")
          .groupBy("doc_id")
          .agg(F.sum(F.col("c") * F.col("llr_micro")).alias("s_micro"),
               F.sum("c").alias("n_tokens")))
    return (docs.select("doc_id").join(sc, "doc_id", "left")
            .crossJoin(prior)
            .select(
                "doc_id",
                F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
                .alias("n_tokens"),
                F.coalesce(
                    F.floor(F.col("s_micro").cast("double")
                            / F.col("n_tokens").cast("double") / 1000.0
                            + F.lit(0.5)).cast("bigint"),
                    F.lit(0).cast("bigint")).alias("score_milli"),
                (F.coalesce(F.col("s_micro"), F.lit(0))
                 + F.col("prior_micro") > 0).cast("bigint")
                .alias("pred_pos")))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the classifier analog of
    ``lm_bigram_surprisal``): per-doc NB log-odds of membership in the
    trusted source, milli-nats/token, plus the hard prediction."""
    docs = _docs(spark, sf_dir)
    lab = docs.select("doc_id", (F.col("source") == QUALITY_POS_SOURCE)
                      .cast("bigint").alias("label_pos"))
    return (nb_classifier_scores(docs).join(lab, "doc_id")
            .select("doc_id", "n_tokens", "score_milli", "pred_pos",
                    "label_pos")
            .orderBy("doc_id"))


ORACLE_QUALITY_CLASSIFIER = f"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), lab AS (
  SELECT doc_id, (source = '{QUALITY_POS_SOURCE}')::INT AS pos FROM w
), tok AS (
  SELECT doc_id, unnest(words) AS t FROM w
), cdoc AS (
  SELECT doc_id, t, COUNT(*)::BIGINT AS c FROM tok GROUP BY doc_id, t
), cls AS (
  SELECT t, SUM(c * pos)::BIGINT AS cpos,
         SUM(c * (1 - pos))::BIGINT AS cneg
  FROM cdoc JOIN lab USING (doc_id) GROUP BY t
), totals AS (
  SELECT SUM(cpos)::BIGINT AS npos, SUM(cneg)::BIGINT AS nneg,
         COUNT(*)::BIGINT AS v
  FROM cls
), model AS (
  SELECT t, FLOOR((ln((cpos + 1)::DOUBLE / (npos + v)::DOUBLE)
                   - ln((cneg + 1)::DOUBLE / (nneg + v)::DOUBLE))
                  * 1000000.0 + 0.5)::BIGINT AS llr_micro
  FROM cls, totals
), prior AS (
  SELECT FLOOR((ln(SUM(pos)::DOUBLE)
                - ln((COUNT(*) - SUM(pos))::DOUBLE))
               * 1000000.0 + 0.5)::BIGINT AS prior_micro
  FROM lab
), sc AS (
  SELECT doc_id, SUM(c * llr_micro)::BIGINT AS s_micro,
         SUM(c)::BIGINT AS n_tokens
  FROM cdoc JOIN model USING (t) GROUP BY doc_id
)
SELECT w.doc_id,
       COALESCE(sc.n_tokens, 0)::BIGINT AS n_tokens,
       COALESCE(FLOOR(sc.s_micro::DOUBLE / sc.n_tokens::DOUBLE
                      / 1000.0 + 0.5)::BIGINT, 0) AS score_milli,
       (COALESCE(sc.s_micro, 0) + prior.prior_micro > 0)::BIGINT
         AS pred_pos,
       (w.source = '{QUALITY_POS_SOURCE}')::BIGINT AS label_pos
FROM w LEFT JOIN sc ON w.doc_id = sc.doc_id CROSS JOIN prior
ORDER BY w.doc_id
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
#: fixed keyword query (terms from the synthetic corpus vocabulary)
BM25_QUERY = ("scan", "hash", "window")
BM25_TOPN = 20


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009; the Lucene
    ``+1`` idf form): score every document against a fixed keyword
    query and return the global top-``BM25_TOPN`` — the retrieval
    operator of a training-data pipeline (seed-document expansion,
    targeted corpus slicing, RAG index sanity checks).

    Scale shape: the explode is filtered to the |Q| query terms BEFORE
    the (doc_id, term) groupBy, so the shuffle carries only matching
    postings, never the full term index; doc lengths are one narrow
    aggregate; idf (|Q| rows) and the 1-row n_docs/avgdl aggregates
    ride in as broadcasts.  The final top-N is orderBy+limit — Spark
    plans TakeOrderedAndProject (per-partition heaps + driver merge),
    not a global sort.

    Determinism: avgdl and idf are ``_r6``-quantized before they enter
    the score product, and each per-term contribution is micro-quantized
    to BIGINT (``_u6``) before the per-doc SUM, so partial-aggregation
    order cannot flip low bits (see CLAUDE.md accumulation-order
    invariant).  Rank ties break on doc_id."""
    docs = _docs(spark, sf_dir)
    scored = bm25_scored(docs)
    top = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(BM25_TOPN))
    win = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(win))
            .select("rank", "doc_id", "score").orderBy("rank"))


def bm25_scored(docs: DataFrame,
                terms: tuple[str, ...] = BM25_QUERY) -> DataFrame:
    """Frame-level BM25 scoring (see :func:`q_bm25_search` for the
    semantics and scale shape): every document with at least one query
    term, scored against the fixed ``terms`` keyword query.  Returns
    ``(doc_id, score)`` unranked — callers rank/limit (retrieval) or
    fuse (hybrid RRF)."""
    w = words_col()
    toks = docs.select("doc_id", F.explode(w).alias("term"))
    tf = (toks.filter(F.col("term").isin(*terms))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dl = docs.select("doc_id", F.size(w).alias("dl"))
    nstats = docs.select(F.size(w).alias("n")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        _r6(F.avg("n")).alias("avgdl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(nstats)).select(
        "term", "avgdl",
        _r6(F.log((F.col("n_docs") - F.col("df") + F.lit(0.5))
                  / (F.col("df") + F.lit(0.5)) + F.lit(1.0))).alias("idf"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    contrib = (F.col("idf")
               * ((F.col("tf") * (k1 + F.lit(1.0)))
                  / (F.col("tf") + k1 * (F.lit(1.0) - b
                                         + b * (F.col("dl")
                                                / F.col("avgdl"))))))
    return (tf.join(F.broadcast(idf), "term").join(dl, "doc_id")
            .select("doc_id", _u6(contrib).alias("c_u"))
            .groupBy("doc_id")
            .agg((F.sum("c_u") / F.lit(1000000.0)).alias("score")))


#: BM25 CTE chain through the per-doc ``scored`` frame — the SQL twin of
#: :func:`bm25_scored`, shared by the retrieval and hybrid oracles
BM25_CTE = f"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
                        '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM w
  WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)}) GROUP BY doc_id, term
), dl AS (
  SELECT doc_id,
         length(regexp_split_to_array(trim(lower(text)), '\\s+'))::BIGINT
           AS dl
  FROM documents
), nstats AS (
  SELECT COUNT(*)::BIGINT AS n_docs,
         FLOOR(AVG(dl) * 1000000 + 0.5) / 1000000 AS avgdl
  FROM dl
), idf AS (
  SELECT term, avgdl,
         FLOOR(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * 1000000 + 0.5) / 1000000 AS idf
  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term), nstats
), scored AS (
  SELECT tf.doc_id,
         SUM(CAST(FLOOR(idf.idf
               * ((tf.tf * ({BM25_K1} + 1.0))
                  / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                          + {BM25_B} * (dl.dl / idf.avgdl))))
               * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS score
  FROM tf JOIN idf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  GROUP BY tf.doc_id
)"""

ORACLE_BM25_SEARCH = BM25_CTE + f"""
SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id, score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {BM25_TOPN}
"""


#: overlapping-chunk window and stride (tokens); overlap = CHUNK_W - CHUNK_S
CHUNK_W = 64
CHUNK_S = 48


def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str,
                        width: int = CHUNK_W,
                        stride: int = CHUNK_S) -> DataFrame:
    """Overlapping document chunking — the RAG-index / long-context
    training-prep primitive: split every document into fixed-width
    token windows advanced by ``stride`` (overlap = width − stride),
    so no span longer than the overlap is ever lost at a boundary.
    Distinct from `sequence_packing` (which packs WHOLE docs into
    training sequences) and from the dedup chunker (disjoint windows):
    this is the chunk grain an embedding/RAG pipeline indexes.

    Output: one row per (doc_id, chunk_id) with the chunk's token
    offset, its token count, and the md5 of its text (the id a chunk
    store would key on) — the chunk text itself stays in the plan, not
    the result, so the frame is narrow at any corpus size.

    Scale shape: a per-row ``sequence`` + explode (linear in tokens,
    ~1/stride rows per token), zero joins, zero shuffles before the
    presentation sort.  Short docs (≤ width tokens) yield exactly one
    chunk covering the whole doc; both engines clamp the final window
    at the document end identically."""
    docs = _docs(spark, sf_dir)
    w = words_col()
    n = F.size(w)
    n_chunks = F.when(n <= width, F.lit(1)).otherwise(
        F.ceil((n - width).cast("double") / stride).cast("int") + 1)
    chunked = docs.select(
        "doc_id", w.alias("w"), n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"))
    start = F.col("chunk_id") * stride
    chunk = F.slice(F.col("w"), start + 1, width)
    return (chunked.select(
        "doc_id", "chunk_id",
        start.cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("n_tok_chunk"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"))
        .orderBy("doc_id", "chunk_id"))


ORACLE_DOC_CHUNK_OVERLAP = f"""
WITH {_WORDS_CTE}, c AS (
  SELECT doc_id, words,
         unnest(range(0, CASE WHEN length(words) <= {CHUNK_W} THEN 1
                              ELSE CEIL((length(words) - {CHUNK_W})::DOUBLE
                                        / {CHUNK_S})::INT + 1 END))
           AS chunk_id
  FROM w
)
SELECT doc_id, chunk_id,
       (chunk_id * {CHUNK_S})::BIGINT AS start_tok,
       length(words[chunk_id * {CHUNK_S} + 1 :
                    chunk_id * {CHUNK_S} + {CHUNK_W}])::BIGINT
         AS n_tok_chunk,
       md5(array_to_string(words[chunk_id * {CHUNK_S} + 1 :
                                 chunk_id * {CHUNK_S} + {CHUNK_W}], ' '))
         AS chunk_hash
FROM c
ORDER BY doc_id, chunk_id
"""


QUERIES = {
    "doc_chunk_overlap": q_doc_chunk_overlap,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "token_counts": q_token_counts,
    "text_repetition": q_text_repetition,
    "corpus_ngram_topk": q_corpus_ngram_topk,
    "tfidf_topk": q_tfidf_topk,
    "lm_bigram_surprisal": q_lm_bigram_surprisal,
    "quality_classifier": q_quality_classifier,
    "pii_scrub": q_pii_scrub,
    "bpe_pair_stats": q_bpe_pair_stats,
    "bpe_encode": q_bpe_encode,
    "bpe_train_merges": q_bpe_train_merges,
    "bpe_train_encode": q_bpe_train_encode,
    "bm25_search": q_bm25_search,
}

ORACLES = {
    "doc_chunk_overlap": ORACLE_DOC_CHUNK_OVERLAP,
    "bm25_search": ORACLE_BM25_SEARCH,
    "text_stats": ORACLE_TEXT_STATS,
    "lang_id": ORACLE_LANG_ID,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "corpus_ngram_topk": ORACLE_CORPUS_NGRAM_TOPK,
    "tfidf_topk": ORACLE_TFIDF_TOPK,
    "lm_bigram_surprisal": ORACLE_LM_BIGRAM_SURPRISAL,
    "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "pii_scrub": ORACLE_PII_SCRUB,
    "bpe_pair_stats": ORACLE_BPE_PAIR_STATS,
    "bpe_encode": ORACLE_BPE_ENCODE,
    "bpe_train_merges": ORACLE_BPE_TRAIN_MERGES,
    "bpe_train_encode": ORACLE_BPE_TRAIN_ENCODE,
}
