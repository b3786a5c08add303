"""Hybrid sparse+dense retrieval with reciprocal-rank fusion (RRF).

The production RAG / seed-expansion retrieval shape (Cormack, Clarke &
Buettcher 2009; the fusion Elasticsearch/Vespa/Weaviate ship as their
"hybrid search"): a lexical BM25 ranked list and a dense cosine ranked
list over the SAME corpus are fused by ``score(d) = Σ 1/(k + rank_i(d))``
— rank-only fusion, so the two retrievers' incomparable score scales
never meet.  The dense query vector is derived by pseudo-relevance
feedback (Rocchio/RM3 shape): the sum of the embeddings of the top
``PRF_SEEDS`` BM25 documents that have vectors — fully deterministic and
corpus-derived, so both engines compute the identical query.

Scale shape (100 TB): the sparse side is the posting-filtered BM25
pipeline (shuffle carries only query-term postings, top-R via
TakeOrderedAndProject); the seed join broadcasts the R-row sparse list
against the embeddings scan; the dense side broadcasts ONE aggregated
query row (same broadcast-NL 1-row crossJoin shape as the corpus-stats
frames, plan-asserted) and scans the embeddings once; fusion joins two
R-row lists.  No corpus self-join anywhere.

Determinism: BM25 per-term contributions are micro-quantized (`_u6`)
before the per-doc SUM; the PRF query vector is a per-dimension BIGINT
sum of micro-quantized components (order-free); cosine is `_r6`-quantized
before ranking; RRF contributions are exact integer divisions
``1000000 div (k + rank)`` summed as BIGINTs.  All rank ties break on
doc_id.

The sparse side is ``text.bm25_scored``; the DuckDB twin starts from
its SQL twin ``text.BM25_CTE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6, _u6
from atr_adaptive_laguerre_spark.operators.io import read_table
from atr_adaptive_laguerre_spark.operators.similarity import _cosine
from atr_adaptive_laguerre_spark.operators.text import (
    BM25_CTE,
    BM25_QUERY,
    _docs,
    bm25_scored,
)

#: RRF smoothing constant (k=60 is the Cormack et al. default)
RRF_K = 60
#: depth of each ranked list entering the fusion
HYBRID_R = 50
#: fused results returned
HYBRID_TOPN = 20
#: BM25 top documents whose embeddings form the dense PRF query
PRF_SEEDS = 5


def hybrid_search_rrf(docs: DataFrame, emb: DataFrame,
                      terms: tuple[str, ...] = BM25_QUERY,
                      k: int = RRF_K, depth: int = HYBRID_R,
                      topn: int = HYBRID_TOPN,
                      prf: int = PRF_SEEDS) -> DataFrame:
    """Frame-level hybrid retrieval (see module docstring).

    Documents are addressed by ``doc_id`` on the sparse side and by
    ``vec_id`` on the dense side (the synthetic corpus aligns them; a
    real pipeline would join on its chunk id).  Documents without
    embeddings can still be retrieved — sparsely; PRF seeds are the
    best-ranked BM25 documents that HAVE vectors."""
    scored = bm25_scored(docs, terms)
    ws = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    # the R-row sparse list feeds TWO consumers (the fusion and the PRF
    # seed join); localCheckpoint materializes it once so the BM25
    # corpus scan + posting shuffle never re-executes under the seeds
    # branch (same lineage-truncation pattern as the Lloyd loops)
    sparse = (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(depth)
              .select("doc_id", F.row_number().over(ws).alias("rank_s"))
              .localCheckpoint(eager=True))

    e = emb.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                   F.col("embedding").cast("array<double>").alias("v"))
    seeds = (F.broadcast(sparse)
             .join(e, sparse.doc_id == e.vec_id)
             .orderBy("rank_s").limit(prf)
             .select("v"))
    # per-dimension BIGINT sum of micro-quantized components: the
    # accumulation-order-free PRF query (cosine is scale-invariant, so
    # the sum needs no division by the seed count)
    qd = (seeds.select(F.posexplode("v").alias("dim", "x"))
          .groupBy("dim")
          .agg(F.sum(_u6(F.col("x"))).alias("qu")))
    q = (qd.agg(F.array_sort(F.collect_list(F.struct("dim", "qu")))
                .alias("s"))
         .select(F.transform("s", lambda t: t.qu.cast("double"))
                 .alias("qv")))

    wd = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    dense = (e.crossJoin(F.broadcast(q))
             .filter(F.size("qv") > 0)
             .select(F.col("vec_id").alias("doc_id"),
                     _r6(_cosine(F.col("qv"), F.col("v"))).alias("cos_sim"))
             .orderBy(F.desc("cos_sim"), F.asc("doc_id")).limit(depth)
             .select("doc_id", F.row_number().over(wd).alias("rank_d")))

    fused = (sparse.join(dense, "doc_id", "full_outer")
             .select(
                 "doc_id",
                 (F.coalesce(F.expr(f"1000000 div ({k} + rank_s)"),
                             F.lit(0))
                  + F.coalesce(F.expr(f"1000000 div ({k} + rank_d)"),
                               F.lit(0))).cast("bigint").alias("rrf_micro"),
                 F.coalesce(F.col("rank_s"), F.lit(0)).cast("bigint")
                 .alias("rank_sparse"),
                 F.coalesce(F.col("rank_d"), F.lit(0)).cast("bigint")
                 .alias("rank_dense")))
    wf = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(topn)
            .withColumn("rank", F.row_number().over(wf))
            .select("rank", "doc_id", "rrf_micro",
                    "rank_sparse", "rank_dense")
            .orderBy("rank"))


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + dense-cosine retrieval fused by reciprocal rank."""
    return hybrid_search_rrf(_docs(spark, sf_dir),
                             read_table(spark, sf_dir, "embeddings"))


ORACLE_HYBRID_SEARCH_RRF = BM25_CTE + f""", sparse AS (
  SELECT doc_id, rank_s FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank_s
    FROM scored
  ) WHERE rank_s <= {HYBRID_R}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS (
  SELECT v FROM (
    SELECT e.v, s.rank_s
    FROM sparse s JOIN e ON e.vec_id = s.doc_id
    ORDER BY s.rank_s ASC LIMIT {PRF_SEEDS}
  )
), qd AS (
  SELECT i, SUM(CAST(FLOOR(v[i] * 1000000 + 0.5) AS BIGINT)) AS qu
  FROM (SELECT v, unnest(range(1, length(v) + 1)) AS i FROM seeds)
  GROUP BY i
), q AS (
  SELECT list(qu ORDER BY i) AS qv FROM qd
), dsims AS (
  SELECT c.vec_id AS doc_id,
         FLOOR((list_sum(list_transform(range(1, length(c.v) + 1),
                  i -> q.qv[i]::DOUBLE * c.v[i]))
                / (sqrt(list_sum(list_transform(q.qv,
                         y -> y::DOUBLE * y::DOUBLE)))
                   * sqrt(list_sum(list_transform(c.v, y -> y * y)))))
               * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM e c CROSS JOIN q
  WHERE length(q.qv) > 0
), dense AS (
  SELECT doc_id, rank_d FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank_d
    FROM dsims
  ) WHERE rank_d <= {HYBRID_R}
), fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         (COALESCE(1000000 // ({RRF_K} + s.rank_s), 0)
          + COALESCE(1000000 // ({RRF_K} + d.rank_d), 0))::BIGINT
           AS rrf_micro,
         COALESCE(s.rank_s, 0)::BIGINT AS rank_sparse,
         COALESCE(d.rank_d, 0)::BIGINT AS rank_dense
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rank,
       doc_id, rrf_micro, rank_sparse, rank_dense
FROM fused
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT {HYBRID_TOPN}
"""


QUERIES = {
    "hybrid_search_rrf": q_hybrid_search_rrf,
}

ORACLES = {
    "hybrid_search_rrf": ORACLE_HYBRID_SEARCH_RRF,
}
