"""Similarity search over the ``embeddings`` table (vec_id, embedding:
array<float>, label): every query here is JVM-side array math (no
Python), ranked on r6-quantized keys with a deterministic tie-break.

* brute-force cosine top-k (``ann_topk_cosine``) — the exactness
  baseline: broadcast queries x one corpus scan; ``hard_negative_mining``
  is its label-filtered twin;
* LSH (``ann_lsh_buckets``) — random-hyperplane signatures from
  md5-derived pseudo-hyperplanes (deterministic, engine-portable);
* IVF (``ann_ivf_topk``) — a coarse quantizer trained by Lloyd
  iterations seeded from the first ``k`` vec_ids
  (:func:`_kmeans_codebook`); one broadcast join assigns every vector
  to its nearest cell and each query probes its ``nprobe`` nearest
  cells, exact cosine only inside them (``embedding_kmeans`` exposes
  the clustering itself; ``embedding_centroids`` summarizes labels);
* PQ / IVFPQ (``ann_pq_topk``, ``ann_ivfpq_topk``,
  ``ann_ivfpq_residual_topk``, ``ann_ivfpq_rerank``) — product
  quantization with asymmetric distance (ADC) scoring, raw or
  residual-encoded inside IVF cells, optionally refined by an exact
  rerank.  Each IVFADC stage (encode, lookup table, ADC sum, rank,
  rerank) is defined once below and shared by the inline queries and
  the index-serving paths;
* SQ (``ann_sq_topk``) — per-dimension 8-bit scalar quantization;
* RP (``embedding_random_projection``, ``ann_rp_topk``) — sparse
  Johnson-Lindenstrauss projection, and two-stage ANN through it;
  ``embedding_covariance`` / ``embedding_standardize`` are the
  whitening statistics;
* semantic dedup and k-NN — banded-LSH cosine near-dup pairs and their
  canonicalization, SemDeDup within trained cells, and the cell-local
  (or multiprobe) k-NN graph;
* persisted indexes — :func:`build_pq_index` / :func:`query_pq_index`
  (IVF+PQ) and :func:`build_semantic_index` with its ``*_from_index``
  consumers (the coarse-quantizer family): train once, serve many,
  bit-identical to the inline queries.

At 100 TB the brute-force variants broadcast the (small) query set and
scan the corpus once; the LSH/IVF variants replace the scan-per-query
with one shuffle on the bucket/cell key, and near-dup candidate
generation stays linear (explode bands + one shuffle) instead of the
all-pairs cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.operators import _r6, _u6

TOP_K = 5
N_QUERIES = 20
LSH_PLANES = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atr_adaptive_laguerre_spark.operators.io import read_table

    return read_table(spark, sf_dir, "embeddings")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, label, v, nrm)``: the embeddings as double arrays with
    their norms, computed once per vector (unused columns are pruned
    from each query's plan)."""
    return (_emb(spark, sf_dir)
            .select("vec_id", "label",
                    F.col("embedding").cast("array<double>").alias("v"))
            .withColumn("nrm", _norm(F.col("v"))))


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a, b, na=None, nb=None):
    """Cosine similarity; pass precomputed norms ``na``/``nb`` to avoid
    re-deriving them per PAIR inside a join (bit-identical — the same
    sqrt of the same sum, computed once per vector instead of once per
    candidate row)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = _norm(a) if na is None else na
    nb = _norm(b) if nb is None else nb
    return dot / (na * nb)


def _query_side(vecs: DataFrame) -> DataFrame:
    """``(query_id, qv, qn)`` for query vectors ``(vec_id, v)``."""
    return vecs.select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"), _norm(F.col("v")).alias("qn"))


def _sorted_list(key: str, val: str):
    """Aggregate: the group's ``val`` values ordered by ``key``."""
    return F.transform(F.array_sort(F.collect_list(F.struct(key, val))),
                       lambda s: s[val])


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 20 vectors (queries
    broadcast against the corpus scan)."""
    emb = _vectors(spark, sf_dir)
    q = _query_side(emb.filter(F.col("vec_id") < N_QUERIES))
    cand = emb.select(F.col("vec_id").alias("cand_id"),
                      F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    sims = (F.broadcast(q).crossJoin(cand)
            .filter(F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id",
                    _r6(_cosine(F.col("qv"), F.col("cv"),
                                F.col("qn"), F.col("cn"))).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("cand_id").asc())
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "cand_id", "cos_sim")
            .orderBy("query_id", "rank"))


ORACLE_ANN_TOPK_COSINE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         FLOOR((list_sum(list_transform(range(1, length(q.v) + 1),
                  i -> q.v[i] * c.v[i]))
                / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                   * sqrt(list_sum(list_transform(c.v, x -> x * x)))))
               * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM sims
)
SELECT query_id, rank, cand_id, cos_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _plane_sign_seeded(v, seed: str):
    """Sign of <v, h> where hyperplane h's component d is an md5-derived
    pseudo-random value in [-0.5, 0.5) keyed on ``seed``: deterministic
    and identical in both engines."""
    prod = F.aggregate(
        F.zip_with(v, F.sequence(F.lit(0), F.size(v) - 1),
                   lambda x, d: x * (
                       F.conv(F.substring(
                           F.md5(F.concat(F.lit(seed),
                                          d.cast("string"))), 1, 8),
                           16, 10).cast("double") / F.lit(float(16 ** 8))
                       - 0.5)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (prod > 0).cast("int")


def _plane_sign(v, p: int):
    return _plane_sign_seeded(v, f"plane{p}d")


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8-bit signature per vector (bucket id);
    vectors sharing a bucket are ANN candidates.  Returns per-vector
    signatures plus the bucket population (candidate-set size)."""
    emb = _vectors(spark, sf_dir)
    sig = sum((_plane_sign(F.col("v"), p) * F.lit(2 ** p)).cast("bigint")
              for p in range(LSH_PLANES)).alias("bucket")
    b = emb.select("vec_id", sig)
    w = Window.partitionBy("bucket")
    return (b.select("vec_id", "bucket",
                     F.count(F.lit(1)).over(w).alias("bucket_size"))
            .orderBy("vec_id"))


def _plane_sql(p: int) -> str:
    return (f"list_sum(list_transform(range(1, length(v) + 1), "
            f"i -> v[i] * (('0x' || substr(md5('plane{p}d' || "
            f"(i - 1)::VARCHAR), 1, 8))::BIGINT::DOUBLE / {float(16 ** 8)} "
            f"- 0.5))) > 0")


ORACLE_ANN_LSH_BUCKETS = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sig AS (
  SELECT vec_id,
         CAST({" + ".join(f"(CASE WHEN {_plane_sql(p)} THEN {2 ** p} ELSE 0 END)"
                           for p in range(LSH_PLANES))} AS BIGINT) AS bucket
  FROM e
)
SELECT vec_id, bucket,
       COUNT(*) OVER (PARTITION BY bucket) AS bucket_size
FROM sig
ORDER BY vec_id
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norms + intra-label mean cosine to centroid —
    the aggregation side of embedding analytics (posexplode + groupBy,
    no UDF)."""
    emb = _vectors(spark, sf_dir)
    dims = emb.select("label", "vec_id",
                      F.posexplode("v").alias("d", "x"))
    cent = (dims.groupBy("label", "d").agg(F.avg("x").alias("c"))
            .groupBy("label")
            .agg(_r6(F.sqrt(F.sum(F.col("c") * F.col("c"))))
                 .alias("centroid_norm"),
                 F.count(F.lit(1)).alias("n_dims")))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (cent.join(counts, "label")
            .select("label", "n_vecs", "n_dims", "centroid_norm")
            .orderBy("label"))


ORACLE_EMBEDDING_CENTROIDS = """
WITH dims AS (
  SELECT label, vec_id,
         unnest(range(0, len(embedding))) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), cent AS (
  SELECT label, d, AVG(x) AS c FROM dims GROUP BY label, d
), norms AS (
  SELECT label,
         FLOOR(sqrt(SUM(c * c)) * 1000000 + 0.5) / 1000000
           AS centroid_norm,
         COUNT(*) AS n_dims
  FROM cent GROUP BY label
), counts AS (
  SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label
)
SELECT label, n_vecs, n_dims, centroid_norm
FROM norms JOIN counts USING (label)
ORDER BY label
"""


IVF_NPROBE = 3
IVF_N_QUERIES = 10
KMEANS_K = 10
KMEANS_ITERS = 3


def _kmeans_codebook(emb: DataFrame, k: int = KMEANS_K,
                     n_iter: int = KMEANS_ITERS) -> DataFrame:
    """TRAINED coarse-quantizer codebook: ``n_iter`` Lloyd iterations in
    pure DataFrame ops (VERDICT r2 item 8) — assign = broadcast
    codebook join + argmax cosine, update = posexplode -> per-dim avg.
    Seeds are the first ``k`` vectors by vec_id (deterministic; cell id
    = seed vec_id).  Updated centroid components are quantized through
    ``_r6`` BEFORE they feed the next round's assignment cosines, so a
    last-ulp difference in the engines' avg partial-aggregation order
    cannot flip a cell assignment (ADVICE r2).  A cell that loses all
    members simply drops out of the codebook — identically in both
    engines.

    At 100 TB: the codebook is O(cells x dim) — always broadcastable;
    each iteration is one corpus scan + one (cell, d)-keyed shuffle.
    ``localCheckpoint`` truncates the iterative plan."""
    cent = (emb.filter(F.col("vec_id") < k)
            .select(F.col("vec_id").alias("cell"), F.col("v").alias("cv"),
                    F.col("nrm").alias("cn")))
    for _ in range(n_iter):
        dims = _assign_cells(emb, cent).select(
            "cell", F.posexplode("v").alias("d", "x"))
        cent = (dims.groupBy("cell", "d").agg(_r6(F.avg("x")).alias("c"))
                .groupBy("cell").agg(_sorted_list("d", "c").alias("cv"))
                .select("cell", "cv", _norm(F.col("cv")).alias("cn"))
                .localCheckpoint(eager=True))
    return cent


def _assign_cells(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest trained cell per corpus vector — ONE broadcast codebook
    join + one vec-keyed window: ``(vec_id, v, nrm, acos, cell)``.
    The shared post-training stage for every coarse-quantizer consumer
    (IVF probing, SemDeDup, k-NN graph, cluster summary) and the
    content of the persisted ``asgn/`` artifact in
    :func:`build_semantic_index` — serving paths reuse this exact
    expression tree, which is what makes served == inline bit-exact."""
    sim = (emb.select("vec_id", "v", "nrm")
           .crossJoin(F.broadcast(cent))
           .select("vec_id", "v", "nrm", "cell",
                   _r6(_cosine(F.col("v"), F.col("cv"),
                               F.col("nrm"), F.col("cn")))
                   .alias("acos")))
    wa = Window.partitionBy("vec_id").orderBy(F.col("acos").desc(),
                                              F.col("cell").asc())
    return (sim.withColumn("arank", F.row_number().over(wa))
            .filter(F.col("arank") == 1)
            .select("vec_id", "v", "nrm", "acos", "cell"))


def _ivf_probes(cent: DataFrame, q: DataFrame,
                nprobe: int = IVF_NPROBE) -> DataFrame:
    """``nprobe`` nearest cells per query vector (both sides broadcast
    — queries are bounded, the codebook is O(cells x dim))."""
    probe_sim = (F.broadcast(q).crossJoin(F.broadcast(cent))
                 .select("query_id", "qv", "qn", "cell",
                         _r6(_cosine(F.col("qv"), F.col("cv"),
                                     F.col("qn"), F.col("cn")))
                         .alias("pcos")))
    wp = Window.partitionBy("query_id").orderBy(F.col("pcos").desc(),
                                                F.col("cell").asc())
    return (probe_sim.withColumn("prank", F.row_number().over(wp))
            .filter(F.col("prank") <= nprobe)
            .select("query_id", "qv", "qn", "cell"))


def _ivf_exact_topk(probes: DataFrame, assigned: DataFrame,
                    top_k: int = TOP_K) -> DataFrame:
    """Exact cosine inside probed cells only, then the per-query rank
    window (rank keys r6-quantized; ties break on cand_id)."""
    sims = (probes.join(assigned.select("vec_id", "v", "nrm", "cell"),
                        "cell")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select("query_id", F.col("vec_id").alias("cand_id"), "cell",
                    _r6(_cosine(F.col("qv"), F.col("v"),
                                F.col("qn"), F.col("nrm")))
                    .alias("cos_sim")))
    wr = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                                F.col("cand_id").asc())
    return (sims.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "rank", "cand_id", "cell", "cos_sim")
            .orderBy("query_id", "rank"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str,
                   nprobe: int = IVF_NPROBE, k: int = KMEANS_K) -> DataFrame:
    """IVF (inverted-file) ANN with a TRAINED k-means codebook: Lloyd
    iterations build the cells, then every corpus vector is assigned to
    its nearest cell (one broadcast join — the inverted lists) and each
    query probes its ``nprobe`` nearest cells, running exact cosine only
    over those lists.  Rank keys are quantized (r6) before ordering so
    both engines agree on ties; cand ties break on cand_id.

    At 100 TB: the codebook broadcast is O(cells); assignment is a single
    corpus scan; the probe join shuffles on cell — candidates per query
    shrink by ~cells/nprobe vs the full scan.  ``nprobe`` is the
    recall/latency dial (measured curve: BENCH/ann_recall.json); the
    catalog entry pins the defaults for the oracle twin.  Production
    serves from the persisted artifact instead
    (:func:`build_semantic_index` / :func:`ann_ivf_from_index`)."""
    emb = _vectors(spark, sf_dir)
    cent = _kmeans_codebook(emb, k=k)
    # inverted lists: nearest cell per corpus vector
    assigned = _assign_cells(emb, cent)
    # probe sets: NPROBE nearest cells per query vector
    q = _query_side(emb.filter(F.col("vec_id") < IVF_N_QUERIES))
    return _ivf_exact_topk(_ivf_probes(cent, q, nprobe), assigned, TOP_K)


_COS_SQL = ("FLOOR((list_sum(list_transform(range(1, length({a}) + 1), "
            "i -> {a}[i] * {b}[i])) "
            "/ (sqrt(list_sum(list_transform({a}, x -> x * x))) "
            "* sqrt(list_sum(list_transform({b}, x -> x * x))))) "
            "* 1000000 + 0.5) / 1000000")

def _kmeans_ctes(k: int = KMEANS_K, n_iter: int = KMEANS_ITERS) -> str:
    """Unrolled Lloyd iterations (twin of :func:`_kmeans_codebook`):
    assignment by r6-quantized cosine (ties -> lowest cell), update by
    per-dim AVG quantized through the same FLOOR before the next round —
    the cross-engine float invariant applied to the codebook itself."""
    parts = [f"cent0 AS (SELECT vec_id AS cell, v AS cv FROM e "
             f"WHERE vec_id < {k})"]
    for i in range(1, n_iter + 1):
        cos = _COS_SQL.format(a="e.v", b="c.cv")
        parts.append(f"""a{i} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cent{i - 1} c
  ) WHERE rn = 1
)""")
        parts.append(f"""cdd{i} AS (
  SELECT cell, unnest(range(0, len(v))) AS d, unnest(v) AS x FROM a{i}
)""")
        parts.append(f"""cda{i} AS (
  SELECT cell, d, FLOOR(AVG(x) * 1000000 + 0.5) / 1000000 AS c
  FROM cdd{i} GROUP BY cell, d
)""")
        parts.append(f"""cent{i} AS (
  SELECT cell, list(c ORDER BY d) AS cv FROM cda{i} GROUP BY cell
)""")
    parts.append(f"cent AS (SELECT cell, cv FROM cent{n_iter})")
    return ",\n".join(parts)


ORACLE_ANN_IVF_TOPK = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes()},
asgn AS (
  SELECT vec_id, v, cell,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a='v', b='cv')} DESC, cell ASC)
           AS arank
  FROM e CROSS JOIN cent
), inv AS (
  SELECT vec_id, v, cell FROM asgn WHERE arank = 1
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, cent.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='q.v', b='cv')} DESC, cell ASC)
             AS prank
    FROM e q CROSS JOIN cent WHERE q.vec_id < {IVF_N_QUERIES}
  ) WHERE prank <= {IVF_NPROBE}
), sims AS (
  SELECT p.query_id, inv.vec_id AS cand_id, p.cell,
         {_COS_SQL.format(a='p.qv', b='inv.v')} AS cos_sim
  FROM probes p JOIN inv USING (cell)
  WHERE p.query_id != inv.vec_id
), ranked AS (
  SELECT query_id, cand_id, cell, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM sims
)
SELECT query_id, rank, cand_id, cell, cos_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering with the trained k-means codebook (the
    coarse-quantizer exposed as its own operator — topic/bucket
    assignment for a training-data pipeline): every vector with its
    nearest trained cell and the r6-quantized assignment cosine, plus
    the resulting cluster size.  One broadcast codebook join + one
    cell-keyed window — linear at any corpus size.  Production serves
    from the persisted artifact instead (:func:`build_semantic_index` /
    :func:`kmeans_from_index`)."""
    emb = _vectors(spark, sf_dir)
    cent = _kmeans_codebook(emb)
    return _kmeans_clusters(_assign_cells(emb, cent))


def _kmeans_clusters(assigned: DataFrame) -> DataFrame:
    """Cluster-summary stage shared by the inline query and the
    index-serving path: assignment cosine + resulting cluster size."""
    wc = Window.partitionBy("cell")
    return (assigned.select(
        "vec_id", "cell", F.col("acos").alias("cos_sim"),
        F.count(F.lit(1)).over(wc).alias("cluster_size"))
        .orderBy("vec_id"))


ORACLE_EMBEDDING_KMEANS = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes()},
asgn AS (
  SELECT vec_id, cell, cos_sim FROM (
    SELECT e.vec_id, c.cell,
           {_COS_SQL.format(a='e.v', b='c.cv')} AS cos_sim,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT vec_id, cell, cos_sim,
       COUNT(*) OVER (PARTITION BY cell) AS cluster_size
FROM asgn
ORDER BY vec_id
"""


PQ_M = 4          # subspaces (d=64 -> 16 dims each)
PQ_DS = 16        # dims per subspace
PQ_KS = 8         # codes per subspace codebook
PQ_ITERS = 2      # Lloyd iterations per subspace
PQ_N_QUERIES = 10


def _l2(a, b):
    """Squared L2 distance via JVM higher-order fns (zero Python)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def _pq_subvectors(emb: DataFrame, keys=("vec_id",)) -> DataFrame:
    """(*keys, m, sv): each vector ``v`` split into ``PQ_M`` contiguous
    ``PQ_DS``-dim sub-vectors — one explode, JVM ``slice``."""
    return emb.select(
        *keys,
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        F.col("v").alias("fv")).select(
        *keys, "m",
        F.slice(F.col("fv"), F.col("m") * PQ_DS + 1, F.lit(PQ_DS))
        .alias("sv"))


def _pq_codebook(sub: DataFrame, ks: int = PQ_KS,
                 n_iter: int = PQ_ITERS) -> DataFrame:
    """Per-subspace product-quantization codebooks (Jégou, Douze,
    Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
    2011): ``PQ_M`` independent ``ks``-centroid Lloyd runs trained
    TOGETHER, keyed by the subspace id ``m`` — assignment is one
    broadcast-codebook join + argmin of the r6-quantized squared L2
    (ties -> lowest code), update is a (m, code, dim)-keyed average
    quantized through ``_r6`` before it feeds the next round (the same
    cross-engine invariant as :func:`_kmeans_codebook`).  A code whose
    cell empties KEEPS its previous centroid (left-join + coalesce), so
    code ids stay dense in [0, ks) and a lookup table indexed by code
    position is valid in both engines.

    At 100 TB: the codebook is O(PQ_M x ks x PQ_DS) = O(ks x d) —
    always broadcastable; each iteration is one corpus-subvector scan +
    one (vec, m)-keyed shuffle.  ``localCheckpoint`` truncates the
    iterative plan."""
    cb = (sub.filter(F.col("vec_id") < ks)
          .select("m", F.col("vec_id").alias("code"),
                  F.col("sv").alias("cv")))
    for _ in range(n_iter):
        upd = (_pq_assign(sub, cb)
               .select("m", "code", F.posexplode("sv").alias("d", "x"))
               .groupBy("m", "code", "d").agg(_r6(F.avg("x")).alias("c"))
               .groupBy("m", "code").agg(_sorted_list("d", "c").alias("nv")))
        cb = (cb.join(upd, ["m", "code"], "left")
              .select("m", "code", F.coalesce("nv", "cv").alias("cv"))
              .localCheckpoint(eager=True))
    return cb


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, sv, code): the nearest code per (vector, subspace) —
    one broadcast-codebook join + a (vec, m) argmin window over the
    r6-quantized squared L2, ties to the lowest code.  The assignment
    step of :func:`_pq_codebook`'s training and of :func:`_pq_encode`."""
    dist = (sub.join(F.broadcast(cb), "m")
            .select("vec_id", "m", "sv", "code",
                    _r6(_l2(F.col("sv"), F.col("cv"))).alias("dist")))
    wa = Window.partitionBy("vec_id", "m").orderBy(
        F.col("dist").asc(), F.col("code").asc())
    return (dist.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1).select("vec_id", "m", "sv", "code"))


def _pq_encode(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, codes): each vector's ``PQ_M`` codes in subspace order."""
    return (_pq_assign(sub, cb).groupBy("vec_id")
            .agg(_sorted_list("m", "code").alias("codes")))


def _pq_lut(qsub: DataFrame, cb: DataFrame,
            keys=("query_id",)) -> DataFrame:
    """(*keys, lut): the ADC lookup table per query subvector set
    ``qsub`` (*keys, m, sv): ``lut[m][code] = d(q_m, c_{m,code})``,
    r6-quantized.  queries x codebook, both broadcastable."""
    lutr = (qsub.join(F.broadcast(cb), "m")
            .select(*keys, "m", "code",
                    _r6(_l2(F.col("sv"), F.col("cv"))).alias("pd")))
    return (lutr.groupBy(*keys, "m")
            .agg(_sorted_list("code", "pd").alias("lm"))
            .groupBy(*keys).agg(_sorted_list("m", "lm").alias("lut")))


def _adc():
    """ADC distance of a row carrying a candidate's ``codes`` and its
    query's ``lut``: the LUT entries its codes index, summed, r6."""
    return _r6(F.aggregate(
        F.zip_with("codes", "lut",
                   lambda c, l: F.element_at(l, (c + 1).cast("int"))),
        F.lit(0.0), lambda acc, v: acc + v))


def _pq_ranked(scored: DataFrame, top_k: int) -> DataFrame:
    """Per-query top-``top_k`` of ADC-scored candidates (query_id,
    cand_id, [cell,] pq_dist): rank by pq_dist, ties on cand_id."""
    wr = Window.partitionBy("query_id").orderBy(F.col("pq_dist").asc(),
                                                F.col("cand_id").asc())
    return (scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "rank",
                    *[c for c in scored.columns if c != "query_id"])
            .orderBy("query_id", "rank"))


def pq_topk(emb: DataFrame, n_queries: int = PQ_N_QUERIES,
            top_k: int = TOP_K) -> DataFrame:
    """PQ-compressed ANN with asymmetric distance computation (ADC):
    the corpus lives as ``PQ_M`` one-byte codes per vector (a 16x
    compression of the 64-dim float corpus here; at production dims the
    standard 64-256x), and a query scores a candidate WITHOUT touching
    the original vector — its per-subspace lookup table row is indexed
    by the candidate's codes and summed.

    Shapes, all corpus-linear: encode = one broadcast-codebook join +
    one (vec, m) argmin window + one vec_id groupBy (codes array);
    per-query LUT = queries x codebook, both broadcastable
    (O(n_queries x ks x d) work); scoring = one broadcast
    nested-loop join whose per-row cost is PQ_M array lookups in
    whole-stage codegen — no Python, no corpus self-join.  At 100 TB
    the probe set would first shrink by IVF cells
    (:func:`q_ann_ivf_topk`); ADC is the in-cell scorer."""
    sub = _pq_subvectors(emb)
    cb = _pq_codebook(sub)
    lut = _pq_lut(sub.filter(F.col("vec_id") < n_queries)
                  .withColumnRenamed("vec_id", "query_id"), cb)
    scored = (_pq_encode(sub, cb).crossJoin(F.broadcast(lut))
              .filter(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("cand_id"),
                      _adc().alias("pq_dist")))
    return _pq_ranked(scored, top_k)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing PQ/ADC top-k (see :func:`pq_topk`)."""
    return pq_topk(_vectors(spark, sf_dir))


_PQL2_SQL = ("FLOOR(list_sum(list_transform(range(1, {ds} + 1), "
             "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) "
             "* 1000000 + 0.5) / 1000000")


def _pq_ctes(ks: int = PQ_KS, n_iter: int = PQ_ITERS,
             sub_sql: str | None = None) -> str:
    """Unrolled per-subspace Lloyd twin of :func:`_pq_codebook` —
    empty cells carry the previous centroid so code ids stay dense.
    ``sub_sql`` overrides the subvector source (the residual IVFPQ twin
    trains the same chain on ``v - centroid`` slices)."""
    l2 = _PQL2_SQL.format(ds=PQ_DS, a="s.sv", b="c.cv")
    if sub_sql is None:
        sub_sql = (f"SELECT vec_id, m, "
                   f"v[(m * {PQ_DS} + 1):(m * {PQ_DS} + {PQ_DS})] AS sv "
                   f"FROM e, range(0, {PQ_M}) t(m)")
    parts = [f"""sub AS (
  {sub_sql}
)""", f"cb0 AS (SELECT m, vec_id AS code, sv AS cv FROM sub "
              f"WHERE vec_id < {ks})"]
    for i in range(1, n_iter + 1):
        parts.append(f"""pqa{i} AS (
  SELECT vec_id, m, sv, code FROM (
    SELECT s.vec_id, s.m, s.sv, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, c.code ASC) AS rn
    FROM sub s JOIN cb{i - 1} c USING (m)
  ) WHERE rn = 1
)""")
        parts.append(f"""pqu{i} AS (
  SELECT m, code, d, FLOOR(AVG(x) * 1000000 + 0.5) / 1000000 AS cx
  FROM (SELECT m, code, unnest(range(0, len(sv))) AS d, unnest(sv) AS x
        FROM pqa{i})
  GROUP BY m, code, d
)""")
        parts.append(f"""pqnv{i} AS (
  SELECT m, code, list(cx ORDER BY d) AS nv FROM pqu{i} GROUP BY m, code
)""")
        parts.append(f"""cb{i} AS (
  SELECT c.m, c.code, COALESCE(n.nv, c.cv) AS cv
  FROM cb{i - 1} c LEFT JOIN pqnv{i} n ON c.m = n.m AND c.code = n.code
)""")
    parts.append(f"cb AS (SELECT m, code, cv FROM cb{n_iter})")
    return ",\n".join(parts)


ORACLE_ANN_PQ_TOPK = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
{_pq_ctes()},
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQL2_SQL.format(
                                  ds=PQ_DS, a='s.sv', b='c.cv')} ASC,
                              c.code ASC) AS rn
    FROM sub s JOIN cb c USING (m)
  ) WHERE rn = 1
), codes AS (
  SELECT vec_id, list(code ORDER BY m) AS codes FROM enc GROUP BY vec_id
), lutr AS (
  SELECT s.vec_id AS query_id, s.m, c.code,
         {_PQL2_SQL.format(ds=PQ_DS, a='s.sv', b='c.cv')} AS pd
  FROM sub s JOIN cb c USING (m)
  WHERE s.vec_id < {PQ_N_QUERIES}
), lutm AS (
  SELECT query_id, m, list(pd ORDER BY code) AS lm
  FROM lutr GROUP BY query_id, m
), lut AS (
  SELECT query_id, list(lm ORDER BY m) AS lut FROM lutm GROUP BY query_id
), scored AS (
  SELECT l.query_id, c.vec_id AS cand_id,
         FLOOR(list_sum(list_transform(range(1, {PQ_M} + 1),
                  i -> l.lut[i][c.codes[i] + 1]))
               * 1000000 + 0.5) / 1000000 AS pq_dist
  FROM lut l CROSS JOIN codes c
  WHERE l.query_id != c.vec_id
), ranked AS (
  SELECT query_id, cand_id, pq_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY pq_dist ASC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, cand_id, pq_dist
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _ivfpq_index(emb: DataFrame, k: int = KMEANS_K
                 ) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """Train and encode the IVF+PQ index over ``emb`` (vec_id, v, nrm):
    the coarse centroids, the PQ codebooks and the inverted lists
    (vec_id, cell, codes) — the three artifacts :func:`build_pq_index`
    persists and the inline queries build afresh."""
    cent = _kmeans_codebook(emb, k=k)
    sub = _pq_subvectors(emb)
    cb = _pq_codebook(sub)
    # both sides arrive hash-partitioned on vec_id from their windows;
    # a shuffled hash join skips SMJ's per-partition sorts
    inv = (_assign_cells(emb, cent).select("vec_id", "cell")
           .join(_pq_encode(sub, cb).hint("shuffle_hash"), "vec_id"))
    return cent, cb, inv


def _ivfpq_scored(probes: DataFrame, inv: DataFrame, cb: DataFrame,
                  queries: DataFrame) -> DataFrame:
    """ADC-scored candidates (query_id, cand_id, cell, pq_dist): the
    probed cells' inverted lists joined on cell, scored against the
    LUTs of ``queries`` (vec_id, v).  Probes and LUTs broadcast."""
    lut = _pq_lut(_pq_subvectors(queries)
                  .withColumnRenamed("vec_id", "query_id"), cb)
    return (F.broadcast(probes.select("query_id", "cell")).join(inv, "cell")
            .filter(F.col("query_id") != F.col("vec_id"))
            .join(F.broadcast(lut), "query_id")
            .select("query_id", F.col("vec_id").alias("cand_id"), "cell",
                    _adc().alias("pq_dist")))


def _ivfpq_inline(spark: SparkSession, sf_dir: str, nprobe: int,
                  k: int) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """(scored, corpus, queries): the first ``IVF_N_QUERIES`` vectors
    probing a freshly built index over the corpus."""
    emb = _vectors(spark, sf_dir)
    cent, cb, inv = _ivfpq_index(emb, k)
    queries = emb.filter(F.col("vec_id") < IVF_N_QUERIES)
    probes = _ivf_probes(cent, _query_side(queries), nprobe)
    return _ivfpq_scored(probes, inv, cb, queries), emb, queries


def _exact_rerank(short: DataFrame, emb: DataFrame, queries: DataFrame,
                  top_k: int) -> DataFrame:
    """Exact-cosine rerank of an ADC shortlist (query_id, cand_id,
    pq_dist) to the final top-``top_k``: only shortlisted rows fetch
    their vectors from ``emb`` (vec_id, v), via a broadcast join
    against one corpus scan; ``queries`` carries (vec_id, v)."""
    cand = emb.select(F.col("vec_id").alias("cand_id"),
                      F.col("v").alias("cv"), _norm(F.col("v")).alias("cn"))
    exact = (cand.join(F.broadcast(short), "cand_id")
             .join(F.broadcast(_query_side(queries)), "query_id")
             .select("query_id", "cand_id", "pq_dist",
                     _r6(_cosine(F.col("qv"), F.col("cv"),
                                 F.col("qn"), F.col("cn")))
                     .alias("cos_sim")))
    wf = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                                F.col("cand_id").asc())
    return (exact.withColumn("rank", F.row_number().over(wf))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "rank", "cand_id", "cos_sim", "pq_dist")
            .orderBy("query_id", "rank"))


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str,
                     nprobe: int = IVF_NPROBE, k: int = KMEANS_K) -> DataFrame:
    """IVF+PQ — the composed web-scale ANN shape (Jégou et al. 2011;
    the FAISS default): the trained coarse quantizer restricts each
    query to its ``nprobe`` nearest cells, and inside those cells
    candidates are scored by PQ asymmetric distance — codes only, the
    original vectors are never touched at query time.

    At 100 TB: inverted lists shuffle once on cell; the per-query work
    is (corpus/cells) x nprobe candidate rows x PQ_M array lookups.
    Everything broadcast except the one cell-keyed probe join.
    Recall/latency curve vs nprobe: BENCH/ann_recall.json — at this
    PQ compression the codebook distortion, not cell misses, caps
    recall, which is what :func:`q_ann_ivfpq_rerank` fixes."""
    return _pq_ranked(_ivfpq_inline(spark, sf_dir, nprobe, k)[0], TOP_K)


RERANK_R = 25


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str,
                       nprobe: int = IVF_NPROBE, k: int = KMEANS_K,
                       r_cand: int = RERANK_R) -> DataFrame:
    """IVF+PQ with exact rerank — the FAISS ``IndexRefine`` production
    shape: ADC scoring shortlists ``r_cand`` candidates per query from
    codes alone, then ONLY those rows fetch their original vectors for
    an exact-cosine rerank to the final top-``TOP_K``.

    Why it exists (measured, BENCH/ann_recall.json): at this PQ
    compression the 8-code subspace codebooks cap plain IVF+PQ recall
    near 0.3 REGARDLESS of nprobe — distorted distances displace true
    neighbors, so probing more cells cannot help.  The rerank recovers
    the recall while still never running exact math on more than
    queries x r_cand rows.

    At 100 TB: the shortlist is bounded (queries x r_cand), so the
    vector fetch is a broadcast join against the corpus scan — the
    corpus's full vectors stream past once; only shortlisted rows
    compute the exact cosine."""
    scored, emb, queries = _ivfpq_inline(spark, sf_dir, nprobe, k)
    short = (_pq_ranked(scored, r_cand)
             .select("query_id", "cand_id", "pq_dist"))
    return _exact_rerank(short, emb, queries, TOP_K)


_IVFPQ_CTES = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes()},
{_pq_ctes()},
icell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                      c.cell ASC) AS arank
    FROM e CROSS JOIN cent c
  ) WHERE arank = 1
), enc2 AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQL2_SQL.format(
                                  ds=PQ_DS, a='s.sv', b='c.cv')} ASC,
                              c.code ASC) AS rn
    FROM sub s JOIN cb c USING (m)
  ) WHERE rn = 1
), codes2 AS (
  SELECT vec_id, list(code ORDER BY m) AS codes FROM enc2 GROUP BY vec_id
), inv AS (
  SELECT i.vec_id, i.cell, c.codes FROM icell i JOIN codes2 c USING (vec_id)
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, cent.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='q.v', b='cv')} DESC, cell ASC)
             AS prank
    FROM e q CROSS JOIN cent WHERE q.vec_id < {IVF_N_QUERIES}
  ) WHERE prank <= {IVF_NPROBE}
), lutr2 AS (
  SELECT s.vec_id AS query_id, s.m, c.code,
         {_PQL2_SQL.format(ds=PQ_DS, a='s.sv', b='c.cv')} AS pd
  FROM sub s JOIN cb c USING (m)
  WHERE s.vec_id < {IVF_N_QUERIES}
), lutm2 AS (
  SELECT query_id, m, list(pd ORDER BY code) AS lm
  FROM lutr2 GROUP BY query_id, m
), lut2 AS (
  SELECT query_id, list(lm ORDER BY m) AS lut FROM lutm2 GROUP BY query_id
), scored AS (
  SELECT p.query_id, inv.vec_id AS cand_id, inv.cell,
         FLOOR(list_sum(list_transform(range(1, {PQ_M} + 1),
                  i -> l.lut[i][inv.codes[i] + 1]))
               * 1000000 + 0.5) / 1000000 AS pq_dist
  FROM probes p
  JOIN inv USING (cell)
  JOIN lut2 l ON l.query_id = p.query_id
  WHERE p.query_id != inv.vec_id
), ranked AS (
  SELECT query_id, cand_id, cell, pq_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY pq_dist ASC, cand_id ASC) AS rank
  FROM scored
)"""

ORACLE_ANN_IVFPQ_TOPK = _IVFPQ_CTES + f"""
SELECT query_id, rank, cand_id, cell, pq_dist
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

ORACLE_ANN_IVFPQ_RERANK = _IVFPQ_CTES + f""",
short AS (
  SELECT query_id, cand_id, pq_dist FROM ranked WHERE rank <= {RERANK_R}
), exact AS (
  SELECT s.query_id, s.cand_id, s.pq_dist,
         {_COS_SQL.format(a='q.v', b='c.v')} AS cos_sim
  FROM short s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e c ON c.vec_id = s.cand_id
), rr AS (
  SELECT query_id, cand_id, cos_sim, pq_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM exact
)
SELECT query_id, rank, cand_id, cos_sim, pq_dist
FROM rr WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def build_pq_index(emb: DataFrame, index_dir: str) -> None:
    """Persist the IVF+PQ artifacts — the "index once, query many"
    production shape (the inline :func:`q_ann_ivfpq_topk` retrains per
    call; a real corpus trains/encodes once and serves queries against
    the stored index):

    - ``cells/``     — coarse-quantizer centroids (O(cells x d), tiny)
    - ``codebook/``  — PQ subspace codebooks (O(ks x d), tiny)
    - ``inv/``       — the coded corpus (vec_id, codes), parquet
      PARTITIONED BY cell: each inverted list is its own directory, so
      a probe of NPROBE cells is a partition-PRUNED scan — Spark's
      native expression of "read only the probed lists", enforced at
      the file-listing level, no bucket metadata needed.
    """
    cent, cb, inv = _ivfpq_index(emb.withColumn("nrm", _norm(F.col("v"))))
    cent.write.mode("overwrite").parquet(f"{index_dir}/cells")
    cb.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    (inv.write.mode("overwrite").partitionBy("cell")
     .parquet(f"{index_dir}/inv"))


def query_pq_index(spark: SparkSession, index_dir: str,
                   queries: DataFrame, top_k: int = TOP_K,
                   nprobe: int = IVF_NPROBE) -> DataFrame:
    """Serve ANN queries against a :func:`build_pq_index` store.  Query
    cost is independent of corpus training: probe selection and LUTs
    are query x (tiny) artifact joins, and the inverted-list scan
    prunes to the probed cells' DIRECTORIES (`cell IN (...)` reaches
    the parquet source as a partition filter).  Returns the same
    (query_id, rank, cand_id, cell, pq_dist) frame as the inline
    IVF+PQ query — bit-identical on the same corpus (tested)."""
    cent = spark.read.parquet(f"{index_dir}/cells")
    cb = spark.read.parquet(f"{index_dir}/codebook")
    probes = _ivf_probes(cent, _query_side(queries), nprobe)
    probed_cells = [r["cell"] for r in
                    probes.select("cell").distinct().collect()]
    inv = (spark.read.parquet(f"{index_dir}/inv")
           .filter(F.col("cell").isin(probed_cells)))
    return _pq_ranked(_ivfpq_scored(probes, inv, cb, queries), top_k)


def query_pq_index_rerank(spark: SparkSession, index_dir: str,
                          queries: DataFrame, emb: DataFrame,
                          top_k: int = TOP_K, nprobe: int = IVF_NPROBE,
                          r_cand: int = RERANK_R) -> DataFrame:
    """Serve ANN queries against a :func:`build_pq_index` store WITH
    the exact-rerank refine — the full production shape: the index's
    codes shortlist ``r_cand`` candidates per query (partition-pruned
    probe, ADC scoring), then ONLY those rows fetch their original
    vectors from ``emb`` (the corpus embedding frame — vectors are
    deliberately NOT duplicated into the index) for the exact-cosine
    final ranking.  The shortlist is bounded at queries x r_cand, so
    the vector fetch is a broadcast join against one corpus scan; at
    100 TB the full vectors stream past once and only shortlisted rows
    compute the exact math.  Bit-identical to the inline
    :func:`q_ann_ivfpq_rerank` on the same corpus (tested)."""
    short = (query_pq_index(spark, index_dir, queries,
                            top_k=r_cand, nprobe=nprobe)
             .select("query_id", "cand_id", "pq_dist"))
    return _exact_rerank(short, emb, queries, top_k)


DUP_BANDS = 2
DUP_PLANES = 4
DUP_COS_THRESHOLD = 0.40


def _dup_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Banded random-hyperplane LSH candidate pairs (vec_a < vec_b):
    DUP_BANDS signatures of DUP_PLANES bits each; vectors sharing any
    band bucket are near-dup candidates.  Linear-cost: explode bands
    (2 rows/vec) + one shuffle on (band, bucket)."""
    bands = []
    for band in range(DUP_BANDS):
        sig = sum((_plane_sign_seeded(F.col("v"), f"b{band}p{p}d")
                   * F.lit(2 ** p)).cast("bigint")
                  for p in range(DUP_PLANES)).alias("bucket")
        bands.append(emb.select("vec_id", F.lit(band).alias("band"), sig))
    bb = bands[0]
    for other in bands[1:]:
        bb = bb.unionByName(other)
    a, b = bb.alias("a"), bb.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())


def verified_cosine_pairs(emb: DataFrame) -> DataFrame:
    """Verified embedding near-dup pairs (vec_a < vec_b, r6-quantized
    cos_sim >= threshold): LSH-banded candidate generation + exact
    cosine — the ONE pair pipeline both the pair-list query and the
    canonicalization build on (precision 1 by construction, recall
    measured vs the all-pairs baseline in tests/test_operators.py)."""
    cand = _dup_candidate_pairs(emb)
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"))
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .select("vec_a", "vec_b",
                    _r6(_cosine(F.col("va"), F.col("vb"),
                                F.col("na"), F.col("nb"))).alias("cos_sim"))
            .filter(F.col("cos_sim") >= DUP_COS_THRESHOLD))


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the embedding analog of
    MinHash-LSH -> exact-Jaccard dedup; see
    :func:`verified_cosine_pairs`)."""
    emb = _vectors(spark, sf_dir)
    return verified_cosine_pairs(emb).orderBy("vec_a", "vec_b")


def _dup_plane_sql(band: int, p: int) -> str:
    return (f"list_sum(list_transform(range(1, length(v) + 1), "
            f"i -> v[i] * (('0x' || substr(md5('b{band}p{p}d' || "
            f"(i - 1)::VARCHAR), 1, 8))::BIGINT::DOUBLE / {float(16 ** 8)} "
            f"- 0.5))) > 0")


def _dup_band_selects() -> str:
    parts = []
    for band in range(DUP_BANDS):
        sig = " + ".join(
            f"(CASE WHEN {_dup_plane_sql(band, p)} THEN {2 ** p} ELSE 0 END)"
            for p in range(DUP_PLANES))
        parts.append(f"SELECT vec_id, {band} AS band, "
                     f"CAST({sig} AS BIGINT) AS bucket FROM e")
    return "\nUNION ALL\n".join(parts)


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bb AS (
{_dup_band_selects()}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), sims AS (
  SELECT vec_a, vec_b,
         {_COS_SQL.format(a='ea.v', b='eb.v')} AS cos_sim
  FROM cand
  JOIN e ea ON ea.vec_id = vec_a
  JOIN e eb ON eb.vec_id = vec_b
)
SELECT vec_a, vec_b, cos_sim
FROM sims WHERE cos_sim >= {DUP_COS_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def q_dedup_embedding_canonicalize(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Embedding near-dup canonicalization: the verified cosine pairs
    -> connected components (min-label propagation, shared with the
    text path's ``dedup_canonicalize``) -> one canonical (minimum
    vec_id) per cluster.  DuckDB twin: recursive-CTE transitive closure
    over the same pair list."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        connected_components,
    )

    emb = _vectors(spark, sf_dir)
    pairs = verified_cosine_pairs(emb).select("vec_a", "vec_b")
    comp = connected_components(pairs, a="vec_a", b="vec_b")
    w = Window.partitionBy("comp")
    return (comp.select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"))
        .orderBy("vec_id"))


ORACLE_DEDUP_EMBEDDING_CANONICALIZE = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bb AS (
{_dup_band_selects()}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), vpairs AS (
  SELECT vec_a, vec_b
  FROM cand
  JOIN e ea ON ea.vec_id = vec_a
  JOIN e eb ON eb.vec_id = vec_b
  WHERE {_COS_SQL.format(a='ea.v', b='eb.v')} >= {DUP_COS_THRESHOLD}
), edges AS (
  SELECT vec_a AS a, vec_b AS b FROM vpairs
  UNION
  SELECT vec_b, vec_a FROM vpairs
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT eg.a AS id, reach.r AS r
  FROM edges eg JOIN reach ON eg.b = reach.id
),
comp AS (
  SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id
),
sizes AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp
  GROUP BY canonical_id
)
SELECT id AS vec_id, canonical_id, cluster_size,
       CAST(id = canonical_id AS INT) AS is_canonical
FROM comp JOIN sizes USING (canonical_id)
ORDER BY vec_id
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus embedding covariance matrix (upper triangle) — the
    statistics behind whitening / PCA preprocessing for
    embedding-space dedup and ANN (raw encoder embeddings are
    anisotropic; whitened distances separate near-dups better).

    Scale shape: ONE corpus pass, no self-join — each row expands to
    its d(d+1)/2 upper-triangle products via nested JVM ``transform``
    lambdas (d is a model constant, e.g. 16-1024; the expansion is a
    map-side flatMap), then a single groupBy on the d²/2-key (i, j)
    grid with map-side partial sums.  Output is O(d²), independent of
    corpus size.

    Determinism: each product ``x_i·x_j`` is one correctly-rounded
    binary64 op on float32-exact inputs, quantized to micro units
    BEFORE the sum, so accumulation is exact integer arithmetic in
    both engines; the final covariance is a short chain of identical
    correctly-rounded ops on identical integers."""
    emb = _vectors(spark, sf_dir)
    # ONE corpus scan: each row expands to its upper-triangle product
    # structs plus 2d marker structs ((d, -1) and (-1, d)) carrying the
    # raw components, so the first-moment sums ride the SAME shuffle +
    # aggregate as the second moments; the means then reach every
    # (i, j) cell through two windows over the O(d²) aggregate — no
    # join, no second scan, no duplicated subtree
    entries = emb.select(F.explode(F.expr(
        "concat("
        "filter(flatten(transform(v, (xi, i) -> transform(v, (xj, j) -> "
        "struct(i as i, j as j, "
        "cast(floor(xi * xj * 1000000.0 + 0.5) as bigint) as p_micro)"
        "))), s -> s.i <= s.j), "
        "transform(v, (x, d) -> struct(d as i, -1 as j, "
        "cast(floor(x * 1000000.0 + 0.5) as bigint) as p_micro)), "
        "transform(v, (x, d) -> struct(-1 as i, d as j, "
        "cast(floor(x * 1000000.0 + 0.5) as bigint) as p_micro)))"
    )).alias("s"))
    agg = (entries.select("s.i", "s.j", "s.p_micro")
           .groupBy("i", "j")
           .agg(F.sum("p_micro").alias("sp_micro"),
                F.count(F.lit(1)).alias("n")))
    wi = Window.partitionBy("i")          # O(d) rows per partition
    wj = Window.partitionBy("j")
    sums = (agg
            .withColumn("sxi", F.max(F.when(F.col("j") < 0,
                                            F.col("sp_micro"))).over(wi))
            .withColumn("sxj", F.max(F.when(F.col("i") < 0,
                                            F.col("sp_micro"))).over(wj))
            .filter((F.col("i") >= 0) & (F.col("j") >= 0)))
    n = F.col("n").cast("double")
    cov = (F.col("sp_micro").cast("double") / 1000000.0 / n
           - (F.col("sxi").cast("double") / 1000000.0 / n)
           * (F.col("sxj").cast("double") / 1000000.0 / n))
    return (sums.select("i", "j", "n", _r6(cov).alias("cov"))
            .orderBy("i", "j"))


ORACLE_EMBEDDING_COVARIANCE = """
WITH pairs AS (
  SELECT i, j,
         FLOOR(embedding[i + 1]::DOUBLE * embedding[j + 1]::DOUBLE
               * 1000000.0 + 0.5)::BIGINT AS p_micro
  FROM embeddings,
       UNNEST(range(0, len(embedding))) AS ti(i),
       UNNEST(range(0, len(embedding))) AS tj(j)
  WHERE i <= j
), sums AS (
  SELECT i, j, SUM(p_micro)::BIGINT AS sp_micro,
         COUNT(*)::BIGINT AS n
  FROM pairs GROUP BY i, j
), means AS (
  SELECT d, SUM(FLOOR(x * 1000000.0 + 0.5)::BIGINT)::BIGINT AS sx_micro
  FROM (SELECT unnest(range(0, len(embedding))) AS d,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings)
  GROUP BY d
)
SELECT s.i, s.j, s.n,
       FLOOR((s.sp_micro::DOUBLE / 1000000.0 / s.n
              - (mi.sx_micro::DOUBLE / 1000000.0 / s.n)
              * (mj.sx_micro::DOUBLE / 1000000.0 / s.n))
             * 1000000.0 + 0.5) / 1000000.0 AS cov
FROM sums s
JOIN means mi ON s.i = mi.d
JOIN means mj ON s.j = mj.d
ORDER BY s.i, s.j
"""


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-scoring of the embedding corpus — the APPLY
    counterpart to :func:`q_embedding_covariance`'s whitening
    statistics (raw encoder embeddings are anisotropic; standardized
    components make cosine/L2 retrieval behave across dimensions).
    Returns the corpus in long form (vec_id, d, z) with the per-dim
    mean/std carried for self-description.

    Scale shape: one posexplode feeds a d-keyed groupBy (64 output
    rows — corpus-size-independent), which broadcasts back onto the
    same exploded frame; no self-join, no corpus-sized window.

    Determinism: first and second moments are micro-quantized to
    BIGINT per TERM before the cross-partition SUM (the CLAUDE.md
    accumulation-order invariant); mean/var/σ then derive from those
    exact integers through an identical scalar chain in both engines."""
    emb = _vectors(spark, sf_dir)
    comp = emb.select("vec_id", F.posexplode("v").alias("d", "x"))
    stats = (comp.groupBy("d")
             .agg(F.sum(_u6(F.col("x"))).alias("sx"),
                  F.sum(_u6(F.col("x") * F.col("x"))).alias("sxx"),
                  F.count(F.lit(1)).alias("n")))
    mu = F.col("sx").cast("double") / 1000000.0 / F.col("n")
    var = (F.col("sxx").cast("double") / 1000000.0 / F.col("n")
           - mu * mu)
    stats = stats.select("d", mu.alias("mu"),
                         F.sqrt(F.greatest(var, F.lit(0.0))).alias("sig"))
    return (comp.join(F.broadcast(stats), "d")
            .select("vec_id", "d",
                    _r6(F.col("mu")).alias("mu"),
                    _r6(F.col("sig")).alias("sig"),
                    _r6(F.when(F.col("sig") > 0,
                               (F.col("x") - F.col("mu")) / F.col("sig"))
                        .otherwise(F.lit(0.0))).alias("z"))
            .orderBy("vec_id", "d"))


ORACLE_EMBEDDING_STANDARDIZE = """
WITH comp AS (
  SELECT vec_id, d, embedding[d + 1]::DOUBLE AS x
  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(d)
), stats AS (
  SELECT d,
         SUM(FLOOR(x * 1000000.0 + 0.5)::BIGINT)::BIGINT AS sx,
         SUM(FLOOR(x * x * 1000000.0 + 0.5)::BIGINT)::BIGINT AS sxx,
         COUNT(*)::BIGINT AS n
  FROM comp GROUP BY d
), ms AS (
  SELECT d, sx::DOUBLE / 1000000.0 / n AS mu,
         sqrt(greatest(sxx::DOUBLE / 1000000.0 / n
                       - (sx::DOUBLE / 1000000.0 / n)
                       * (sx::DOUBLE / 1000000.0 / n), 0.0)) AS sig
  FROM stats
)
SELECT c.vec_id, c.d,
       FLOOR(ms.mu * 1000000.0 + 0.5) / 1000000.0 AS mu,
       FLOOR(ms.sig * 1000000.0 + 0.5) / 1000000.0 AS sig,
       FLOOR((CASE WHEN ms.sig > 0 THEN (c.x - ms.mu) / ms.sig
                   ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS z
FROM comp c JOIN ms USING (d)
ORDER BY c.vec_id, c.d
"""

#: sparse Johnson-Lindenstrauss projection: output dimensionality and
#: the quadratic Carter-Wegman hash that derives the ±1/0 matrix.  The
#: LINEAR hash (a·t+b mod p) is NOT enough here: rows k and k' of the
#: matrix would differ by the constant a·d·(k−k') mod p, leaving them
#: visibly correlated (measured row-gram off-diagonal up to 18 vs a
#: diagonal of ~21); the quadratic term breaks the shift structure
#: (off-diagonal max 7, rms 2.5 ≈ the √(d)/3 expectation for
#: independent density-⅓ sign rows).
RP_K = 16
RP_A, RP_B, RP_C, RP_P = 1103515245, 12345, 987654321, 2147483647


def _rp_s_micro(col: str, k: int = RP_K):
    """``array<bigint>`` of the k UNSCALED projection sums in micro
    units: s_k = Σⱼ sign(k,j)·floor(xⱼ·1e6+0.5).  Exact integers —
    both engines derive identical arrays, so ranking in the projected
    space needs no float quantization at all.

    Overflow bound (ADVICE r5): downstream ``q_ann_rp_topk`` sums
    (a-b)^2 over these BIGINTs with no HUGEINT fallback, so the signed-64
    headroom requires d * (2 * max|s_k|)^2 < 2^63, i.e. with d = 64
    components max |embedding value| must stay below ~4.0 (micro units
    ~4e6 -> per-term (8e6)^2 = 6.4e13, * 64 = 4e15 << 9.2e18; the unit
    test-data embeddings are normalized to [-1, 1]).  Larger-magnitude
    embeddings MUST be scaled before this path — Spark wraps bigint
    silently where DuckDB's HUGEINT would not, and the shortlist would
    diverge across engines."""
    return F.expr(f"""
      transform(sequence(0, {k - 1}), kk ->
        aggregate(
          zip_with({col}, sequence(0, size({col}) - 1), (x, j) ->
            (case ({RP_A}L * (kk * size({col}) + j) * (kk * size({col}) + j)
                   + {RP_B}L * (kk * size({col}) + j) + {RP_C}L)
                  % {RP_P}L % 6
               when 0 then 1L when 1 then -1L else 0L end)
            * cast(floor(x * 1000000.0 + 0.5) as bigint)),
          0L, (acc, t) -> acc + t))
    """)


def q_embedding_random_projection(spark: SparkSession, sf_dir: str,
                                  k: int = RP_K) -> DataFrame:
    """Sparse random projection (Achlioptas 2003; Johnson-Lindenstrauss)
    of the embedding corpus from d=64 to k=16 dimensions — the standard
    dimensionality-reduction step in front of LSH/IVF candidate
    generation at corpus scale (JL: pairwise distances survive within
    1±ε for k = O(log N / ε²), and the density-⅓ {+1,0,−1} matrix
    makes the projection 3× cheaper than a dense Gaussian with the
    same guarantee).  y_k = √(3/k)·Σⱼ sign(k,j)·xⱼ where sign(k,j) ∈
    {+1,−1,0} w.p. {⅙,⅙,⅔} comes from the quadratic hash above — the
    matrix is never materialized or shipped; both engines re-derive
    entries from (k, j) alone.

    Scale shape: pure per-row Catalyst expression (nested
    ``transform``/``zip_with``/``aggregate`` over the vector), ZERO
    shuffles and zero Python — a map-only pass whatever the corpus
    size, the ideal 100 TB plan.

    Determinism: each term is sign·floor(x·1e6+0.5) — exact integer
    arithmetic in both engines, order-free BIGINT sums — and the final
    √(3/k) rescale is a two-op chain of correctly-rounded binary64 ops
    on identical integers (3/16 = 0.1875 is exact, IEEE sqrt is
    correctly rounded in numpy, the JVM, and DuckDB alike)."""
    import math

    emb = _vectors(spark, sf_dir)
    s_micro = _rp_s_micro("v", k)
    scale = F.lit(math.sqrt(3.0 / k))
    return (emb.select("vec_id", F.posexplode(s_micro).alias("k", "s"))
            .select("vec_id", "k",
                    _r6(F.col("s").cast("double") / F.lit(1000000.0)
                        * scale).alias("y"))
            .orderBy("vec_id", "k"))


ORACLE_EMBEDDING_RANDOM_PROJECTION = f"""
WITH comp AS (
  SELECT vec_id, j, embedding[j + 1]::DOUBLE AS x, len(embedding) AS d
  FROM embeddings, UNNEST(range(0, len(embedding))) AS tj(j)
), terms AS (
  SELECT vec_id, kk AS k,
         (CASE ({RP_A}::BIGINT * (kk * d + j) * (kk * d + j)
                + {RP_B}::BIGINT * (kk * d + j) + {RP_C}) % {RP_P} % 6
            WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END)::BIGINT
         * FLOOR(x * 1000000.0 + 0.5)::BIGINT AS t_micro
  FROM comp, UNNEST(range(0, {RP_K})) AS tk(kk)
)
SELECT vec_id, k,
       FLOOR(SUM(t_micro)::DOUBLE / 1000000.0 * sqrt(3.0 / {RP_K}.0)
             * 1000000.0 + 0.5) / 1000000.0 AS y
FROM terms GROUP BY vec_id, k ORDER BY vec_id, k
"""

#: candidates surviving the projected-space cut, per query, and the
#: stage-1 projection width.  k=32 (not the pure-projection query's 16)
#: because the corpus's true distances spread only ~13% around their
#: mean, so JL noise at k=16 scrambles near-ties: measured recall@5 at
#: sf0.01 is 0.33 (k=16, R=50) → 0.55 (16, 100) → 0.52 (32, 50) →
#: 0.70 (32, 100) — the chosen point matches the published IVFPQ
#: rerank curve while still halving the scan.  The full (k, R) sweep
#: at sf0.1 lives in BENCH/ann_recall.json ("rp" variant): recall
#: tracks the R/corpus ratio, and the RP scan runs ~5× faster than
#: the IVFPQ family at the same shortlist quality (1.0-1.2 s vs
#: 5-6 s), so R is the knob to scale with the corpus.
RP_SHORTLIST = 100
RP_ANN_K = 32


def q_ann_rp_topk(spark: SparkSession, sf_dir: str,
                  k: int = RP_ANN_K,
                  shortlist: int = RP_SHORTLIST) -> DataFrame:
    """Two-stage ANN through the sparse JL projection: rank the corpus
    by L2 distance in the 32-d PROJECTED space (a 2× cheaper scan than
    64-d cosine — and the projected rows are what a 100 TB deployment
    would materialize), keep the top-``RP_SHORTLIST`` per query, then
    exact-cosine rerank ONLY those rows — the dimensionality-reduction
    twin of :func:`q_ann_ivfpq_rerank`'s code-space shortlist.

    Scale shape: stage 1 carries only ``(cand_id, 16 bigints)``
    through the broadcast-queries corpus scan — the full 64-d vector
    never rides the candidate stream; stage 2 re-joins the O(Q·R)
    shortlist (broadcast) back to the corpus by id for the exact
    verify.  Composes with the IVF cell index for sub-scan candidate
    generation at larger Q.

    Determinism: the stage-1 ranking is EXACT INTEGER arithmetic —
    projected sums stay in micro units (``_rp_s_micro``), distances
    are Σ(Δmicro)² BIGINTs, ties broken by cand_id — so the shortlist
    membership is engine-identical with no float quantization at all;
    stage 2 reuses the established r6-quantized cosine."""
    emb = _vectors(spark, sf_dir)
    proj = emb.select("vec_id", _rp_s_micro("v", k).alias("s"))
    q = (proj.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("s").alias("qs")))
    cand = proj.select(F.col("vec_id").alias("cand_id"),
                       F.col("s").alias("cs"))
    d2 = F.aggregate(
        F.zip_with(F.col("qs"), F.col("cs"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    w1 = Window.partitionBy("query_id").orderBy(F.col("d2").asc(),
                                                F.col("cand_id").asc())
    short = (F.broadcast(q).crossJoin(cand)
             .filter(F.col("query_id") != F.col("cand_id"))
             .select("query_id", "cand_id", d2.alias("d2"))
             .withColumn("prank", F.row_number().over(w1))
             .filter(F.col("prank") <= shortlist)
             .select("query_id", "cand_id"))
    qv = _query_side(emb.filter(F.col("vec_id") < N_QUERIES))
    cv = emb.select(F.col("vec_id").alias("cand_id"),
                    F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    rer = (F.broadcast(short).join(cv, "cand_id")
           .join(F.broadcast(qv), "query_id")
           .select("query_id", "cand_id",
                   _r6(_cosine(F.col("qv"), F.col("cv"),
                               F.col("qn"), F.col("cn"))).alias("cos_sim")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                                F.col("cand_id").asc())
    return (rer.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "cand_id", "cos_sim")
            .orderBy("query_id", "rank"))


ORACLE_ANN_RP_TOPK = f"""
WITH comp AS (
  SELECT vec_id, j, embedding[j + 1]::DOUBLE AS x, len(embedding) AS d
  FROM embeddings, UNNEST(range(0, len(embedding))) AS tj(j)
), terms AS (
  SELECT vec_id, kk AS k,
         (CASE ({RP_A}::BIGINT * (kk * d + j) * (kk * d + j)
                + {RP_B}::BIGINT * (kk * d + j) + {RP_C}) % {RP_P} % 6
            WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END)::BIGINT
         * FLOOR(x * 1000000.0 + 0.5)::BIGINT AS t_micro
  FROM comp, UNNEST(range(0, {RP_ANN_K})) AS tk(kk)
), s AS (
  SELECT vec_id, k, SUM(t_micro)::BIGINT AS s
  FROM terms GROUP BY vec_id, k
), d2 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         SUM((q.s - c.s) * (q.s - c.s))::BIGINT AS d2
  FROM s q JOIN s c ON q.k = c.k
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
  GROUP BY 1, 2
), short AS (
  SELECT query_id, cand_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d2 ASC, cand_id ASC) AS prank
  FROM d2
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sims AS (
  SELECT sh.query_id, sh.cand_id,
         FLOOR((list_sum(list_transform(range(1, length(q.v) + 1),
                  i -> q.v[i] * c.v[i]))
                / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                   * sqrt(list_sum(list_transform(c.v, x -> x * x)))))
               * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM short sh
  JOIN e q ON q.vec_id = sh.query_id
  JOIN e c ON c.vec_id = sh.cand_id
  WHERE sh.prank <= {RP_SHORTLIST}
), ranked AS (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM sims
)
SELECT query_id, rank, cand_id, cos_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def principal_axis(cov: "list[list[float]]", iters: int = 512):
    """Top eigenvector/eigenvalue of a (tiny, driver-side) covariance
    matrix by power iteration — the d×d eigensolve step of PCA
    whitening.  The DISTRIBUTED work is `q_embedding_covariance`; this
    runs on its O(d²) output, which is corpus-size-independent, so
    driver-side is the right place at any scale (same adjudication as
    the IVF codebook's Lloyd iterations).  Deterministic: fixed start
    vector, fixed iteration count, no data-dependent branching."""
    import numpy as np

    a = np.asarray(cov, dtype=np.float64)
    assert a.shape[0] == a.shape[1]
    v = np.ones(a.shape[0], dtype=np.float64) / np.sqrt(a.shape[0])
    for _ in range(iters):
        w = a @ v
        nrm = float(np.sqrt((w * w).sum()))
        if nrm == 0.0:
            return v, 0.0
        v = w / nrm
    lam = float(v @ a @ v)
    if v[int(np.argmax(np.abs(v)))] < 0:   # sign convention
        v = -v
    return v, lam


SEM_TAU = 0.35


def q_dedup_semantic(spark: SparkSession, sf_dir: str,
                     k: int = KMEANS_K) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the TRAINED k-means
    codebook (:func:`_kmeans_codebook`), run exact pairwise cosine ONLY
    within each cluster, and greedily keep the lowest ``vec_id`` of
    every pair whose r6-quantized cosine >= ``SEM_TAU`` (a vector is
    dropped iff some smaller-id vector in its cell is semantically
    close — deterministic in both engines).  Output: every vector with
    its cell, how many semantic-duplicate pairs it participates in,
    and the keep flag.

    Distinct from ``dedup_embedding_cosine`` (LSH-candidate near-dup
    pairs at a high threshold): SemDeDup prunes *semantically
    redundant* — not merely near-identical — items, and bounds the
    quadratic term by clustering rather than by hashing.

    At 100 TB: the published SemDeDup recipe — the codebook size k
    scales with the corpus (k ~ N / target_cell_size) so cells stay
    bounded and the pairwise term is sum_c |cell_c|^2 ~ N x
    target_cell_size; the pair stage is ONE cell-keyed self-join (no
    corpus-wide cross join; the codebook broadcast is O(k x dim)).
    The trailing per-id joins are plain shuffled joins — the drop set
    is corpus-proportional on redundant corpora, so no broadcast hint
    (AQE may still choose one when it is small).

    ``k`` is the scaling knob: total cost = N*k (assignment) + N^2/k
    (within-cell pairs), balanced at k ~ sqrt(N) -> O(N^1.5) overall
    (measured at 10x in BENCH/OPERATORS.md; the catalog entry pins
    k=KMEANS_K for the oracle twin).  Production serves from the
    persisted artifact instead (:func:`build_semantic_index` /
    :func:`dedup_semantic_from_index`)."""
    emb = _vectors(spark, sf_dir)
    cent = _kmeans_codebook(emb, k=k)
    return _semantic_flags(_assign_cells(emb, cent))


def _semantic_flags(assigned: DataFrame) -> DataFrame:
    """SemDeDup pair stage shared by the inline query and the
    index-serving path: ONE cell-keyed self-join, greedy keep-lowest-id
    flags; the drop set stays un-broadcast (corpus-proportional on
    redundant corpora — VERDICT r3 item 2)."""
    a = assigned.select(F.col("vec_id").alias("vec_a"), "cell",
                        F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = assigned.select(F.col("vec_id").alias("vec_b"), "cell",
                        F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = (a.join(b, "cell")
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select("cell", "vec_a", "vec_b",
                     _r6(_cosine(F.col("va"), F.col("vb"),
                                 F.col("na"), F.col("nb"))).alias("cos_sim"))
             .filter(F.col("cos_sim") >= SEM_TAU))
    part = (pairs.select(F.col("vec_a").alias("vec_id"))
            .unionByName(pairs.select(F.col("vec_b").alias("vec_id")))
            .groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_similar")))
    drops = (pairs.select(F.col("vec_b").alias("vec_id")).distinct()
             .withColumn("dropped", F.lit(1)))
    return (assigned.select("vec_id", "cell")
            .join(part, "vec_id", "left")
            .join(drops, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(F.col("n_similar"), F.lit(0))
                    .cast("bigint").alias("n_similar"),
                    F.when(F.col("dropped").isNull(), F.lit(1))
                    .otherwise(F.lit(0)).cast("int").alias("is_kept"))
            .orderBy("vec_id"))


ORACLE_DEDUP_SEMANTIC = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes()},
asgn AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), pairs AS (
  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= {SEM_TAU}
), part AS (
  SELECT vec_id, COUNT(*)::BIGINT AS n_similar FROM (
    SELECT vec_a AS vec_id FROM pairs
    UNION ALL
    SELECT vec_b AS vec_id FROM pairs
  ) GROUP BY vec_id
), drops AS (
  SELECT DISTINCT vec_b AS vec_id FROM pairs
)
SELECT g.vec_id, g.cell,
       COALESCE(p.n_similar, 0)::BIGINT AS n_similar,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
FROM asgn g
LEFT JOIN part p ON p.vec_id = g.vec_id
LEFT JOIN drops d ON d.vec_id = g.vec_id
ORDER BY g.vec_id
"""


KNN_K = 3


def q_knn_graph(spark: SparkSession, sf_dir: str,
                k: int = KMEANS_K) -> DataFrame:
    """Corpus-wide k-NN graph restricted to trained k-means cells — the
    building block for graph-based clustering, label propagation, and
    SemDeDup-family pruning: for EVERY corpus vector (not a bounded
    query set — contrast ``ann_*``), its ``KNN_K`` nearest same-cell
    neighbors by r6-quantized cosine (ties -> lowest neighbor id).
    One broadcast codebook join + one cell-keyed self-join + one
    vec-keyed window; cells with fewer than K+1 members yield fewer
    rows (no padding).

    At 100 TB: the same bound as ``dedup_semantic`` — the pairwise
    term is sum_c |cell_c|^2 with the codebook size k scaled to hold
    cells at a target size; never a corpus cross join.  An
    IVF-multiprobe variant would lift the same-cell edge restriction
    at NPROBE x the scan cost.  ``k`` is the same N*k + N^2/k scaling
    knob as ``dedup_semantic`` (balanced at k ~ sqrt(N)).  Production
    serves from the persisted artifact instead
    (:func:`build_semantic_index` / :func:`knn_graph_from_index`)."""
    emb = _vectors(spark, sf_dir)
    cent = _kmeans_codebook(emb, k=k)
    return _knn_edges(_assign_cells(emb, cent))


def _knn_edges(assigned: DataFrame) -> DataFrame:
    """k-NN edge stage shared by the inline query and the index-serving
    path: one cell-keyed self-join + one vec-keyed rank window."""
    a = assigned.select("vec_id", "cell",
                        F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = assigned.select(F.col("vec_id").alias("neighbor_id"), "cell",
                        F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    edges = (a.join(b, "cell")
             .filter(F.col("vec_id") != F.col("neighbor_id"))
             .select("vec_id", "neighbor_id", "cell",
                     _r6(_cosine(F.col("va"), F.col("vb"),
                                 F.col("na"), F.col("nb")))
                     .alias("cos_sim")))
    wr = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                              F.col("neighbor_id").asc())
    return (edges.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= KNN_K)
            .select("vec_id", "rank", "neighbor_id", "cell", "cos_sim")
            .orderBy("vec_id", "rank"))


ORACLE_KNN_GRAPH = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes()},
asgn AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), edges AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id, a.cell,
         {_COS_SQL.format(a='a.v', b='b.v')} AS cos_sim
  FROM asgn a JOIN asgn b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cell, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM edges
)
SELECT vec_id, rank, neighbor_id, cell, cos_sim
FROM ranked WHERE rank <= {KNN_K}
ORDER BY vec_id, rank
"""


def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str,
                              nprobe: int = IVF_NPROBE,
                              k: int = KMEANS_K) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding — the actual FAISS ``IndexIVFPQ``
    (Jégou et al. 2011 §III): the PQ codebook is trained on
    ``v - centroid(cell)`` instead of the raw vectors, so the 8 codes
    per subspace only have to span the WITHIN-cell spread, not the
    whole corpus — the quantization error drops for free at the same
    code budget (invariant-tested: mean reconstruction error strictly
    below the raw-encoding variant's).  The cost of the fidelity is
    query-side: the query's residual differs per probed cell, so the
    ADC lookup table is per (query, probed cell) — nprobe x the raw
    variant's LUT mass, still O(n_queries x nprobe x PQ_M x ks),
    always broadcastable.

    This is the COSINE-FAITHFUL member of the PQ family: vectors are
    unit-normalized at entry (``||q-x||² = 2 - 2·cos`` on unit
    vectors, so L2 ADC ranking IS cosine ranking — exactly how FAISS
    serves cosine through METRIC_L2), cell assignment and probing
    MINIMIZE the L2 residual over the trained centroids, and the PQ
    codebook is trained on the within-cell residuals.

    Measured adjudication (BENCH/ann_recall.json, sf0.1): residual
    encoding's benefit needs TIGHT cells.  Controlled comparison
    (same corpus, same code budget, every cell probed): reconstruction
    error strictly below raw PQ's and recall >= raw's (tested at
    sf0.001).  But at the catalog's k=10 coarse cells over 2,000
    vectors, pooled residuals are more isotropic than the raw
    clustered data — raw PQ's 8 codes/subspace align with the corpus
    clusters and win (0.26 vs 0.18 recall@5); at k=40 (cells ~n/40)
    the variants tie at 0.26.  The standard FAISS shape is kept, with
    the crossover documented — at production cell counts
    (k ~ sqrt(N)) residual is the right default; at toy cell counts
    it is not.

    At 100 TB: identical shuffle structure to :func:`q_ann_ivfpq_topk`
    (one cell-keyed probe join; codes ride the inverted lists;
    codebooks + LUTs broadcast); normalization and the residual
    subtraction are codegen array ops on the scan.  Residuals subtract
    r6-quantized centroid components, so the cross-engine float
    contract is inherited from the codebook."""
    raw = _vectors(spark, sf_dir)
    emb = raw.select(
        "vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("v"))
    emb = emb.withColumn("nrm", _norm(F.col("v")))
    cent = _kmeans_codebook(emb, k=k)
    cv = F.broadcast(cent.select("cell", "cv"))
    # L2 assignment: the cell that MINIMIZES the residual norm
    ldist = (emb.select("vec_id", "v").crossJoin(cv)
             .select("vec_id", "v", "cell",
                     _r6(_l2(F.col("v"), F.col("cv"))).alias("ldist")))
    wl = Window.partitionBy("vec_id").orderBy(F.col("ldist").asc(),
                                              F.col("cell").asc())
    asgn = (ldist.withColumn("lrank", F.row_number().over(wl))
            .filter(F.col("lrank") == 1).select("vec_id", "v", "cell"))
    resid = (asgn.join(cv, "cell")
             .select("vec_id", "cell",
                     F.zip_with("v", "cv", lambda x, c: x - c).alias("v")))
    rsub = _pq_subvectors(resid)
    rcb = _pq_codebook(rsub)
    inv = (resid.select("vec_id", "cell")
           .join(_pq_encode(rsub, rcb).hint("shuffle_hash"), "vec_id"))
    q = (emb.filter(F.col("vec_id") < IVF_N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    # L2 probes: nprobe cells with the smallest query residual
    pdist_q = (F.broadcast(q).crossJoin(cv)
               .select("query_id", "qv", "cell",
                       _r6(_l2(F.col("qv"), F.col("cv"))).alias("ldist")))
    wp = Window.partitionBy("query_id").orderBy(F.col("ldist").asc(),
                                                F.col("cell").asc())
    probes = (pdist_q.withColumn("prank", F.row_number().over(wp))
              .filter(F.col("prank") <= nprobe)
              .select("query_id", "qv", "cell"))
    # per-(query, probed cell) residual -> per-cell ADC lookup tables
    qres = (probes.join(cv, "cell")
            .select("query_id", "cell",
                    F.zip_with("qv", "cv", lambda x, c: x - c).alias("v")))
    keys = ("query_id", "cell")
    lut = _pq_lut(_pq_subvectors(qres, keys), rcb, keys)
    scored = (F.broadcast(probes.select(*keys)).join(inv, "cell")
              .filter(F.col("query_id") != F.col("vec_id"))
              .join(F.broadcast(lut), list(keys))
              .select("query_id", F.col("vec_id").alias("cand_id"), "cell",
                      _adc().alias("pq_dist")))
    return _pq_ranked(scored, TOP_K)


_RESID_SUB_SQL = (f"SELECT vec_id, m, "
                  f"v[(m * {PQ_DS} + 1):(m * {PQ_DS} + {PQ_DS})] AS sv "
                  f"FROM resid, range(0, {PQ_M}) t(m)")

ORACLE_ANN_IVFPQ_RESIDUAL_TOPK = f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(
             list_transform(v, y -> y * y)))) AS v
  FROM e0
),
{_kmeans_ctes()},
asgn AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_PQL2_SQL.format(ds=PQ_M * PQ_DS,
                                        a='e.v', b='c.cv')} ASC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, len(a.v) + 1), i -> a.v[i] - c.cv[i]) AS v
  FROM asgn a JOIN cent c USING (cell)
),
{_pq_ctes(sub_sql=_RESID_SUB_SQL)},
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQL2_SQL.format(
                                  ds=PQ_DS, a='s.sv', b='c.cv')} ASC,
                              c.code ASC) AS rn
    FROM sub s JOIN cb c USING (m)
  ) WHERE rn = 1
), codes AS (
  SELECT vec_id, list(code ORDER BY m) AS codes FROM enc GROUP BY vec_id
), inv AS (
  SELECT r.vec_id, r.cell, c.codes
  FROM resid r JOIN codes c USING (vec_id)
), probes AS (
  SELECT query_id, cell, cv FROM (
    SELECT e.vec_id AS query_id, c.cell, c.cv,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_PQL2_SQL.format(ds=PQ_M * PQ_DS,
                                        a='e.v', b='c.cv')} ASC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
    WHERE e.vec_id < {IVF_N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
), qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(1, len(e.v) + 1),
                        i -> e.v[i] - p.cv[i]) AS rv
  FROM probes p JOIN e ON e.vec_id = p.query_id
), qrsub AS (
  SELECT query_id, cell, m,
         rv[(m * {PQ_DS} + 1):(m * {PQ_DS} + {PQ_DS})] AS sv
  FROM qres, range(0, {PQ_M}) t(m)
), lutr AS (
  SELECT q.query_id, q.cell, q.m, c.code,
         {_PQL2_SQL.format(ds=PQ_DS, a='q.sv', b='c.cv')} AS pd
  FROM qrsub q JOIN cb c ON q.m = c.m
), lutm AS (
  SELECT query_id, cell, m, list(pd ORDER BY code) AS lm
  FROM lutr GROUP BY query_id, cell, m
), lut AS (
  SELECT query_id, cell, list(lm ORDER BY m) AS lut
  FROM lutm GROUP BY query_id, cell
), scored AS (
  SELECT l.query_id, i.vec_id AS cand_id, i.cell,
         FLOOR(list_sum(list_transform(range(1, {PQ_M} + 1),
                  j -> l.lut[j][i.codes[j] + 1]))
               * 1000000 + 0.5) / 1000000 AS pq_dist
  FROM lut l JOIN inv i ON i.cell = l.cell AND i.vec_id != l.query_id
), ranked AS (
  SELECT query_id, cand_id, cell, pq_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY pq_dist ASC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, cand_id, cell, pq_dist
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


SQ_LEVELS = 255      # 8-bit codes: 0..255


def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (the FAISS ``IndexScalarQuantizer``
    QT_8bit shape): train per-DIMENSION (min, max) over the corpus in
    one pass, store every vector as d one-byte codes
    ``floor((x-min)*255/(max-min)+0.5)``, and score queries
    asymmetrically — raw query against the RECONSTRUCTED corpus vector
    (``min + code*(max-min)/255``), never the original floats.  The
    4th member of the compression family (hyperplane-LSH buckets, IVF
    cells, PQ codes, SQ codes): 8x smaller than the float corpus with
    per-dim training only — no Lloyd iterations, so train cost is one
    aggregate, the cheap-to-build end of the recall/compression
    trade-off.

    At 100 TB: training is one posexplode + a d-key groupBy (d keys,
    map-side partial agg — the shuffle carries d rows per partition);
    the (min, max) table is O(d), always broadcastable; encoding and
    reconstruction are whole-stage-codegen array transforms; scoring is
    the same broadcast-queries nested-loop as exact top-k.  Min/max
    aggregates are order-independent (exact), so no quantization is
    needed for cross-engine agreement."""
    emb = _vectors(spark, sf_dir)
    dims = emb.select(F.posexplode("v").alias("d", "x"))
    stats = (dims.groupBy("d")
             .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
             .groupBy()
             .agg(_sorted_list("d", "mn").alias("mns"),
                  _sorted_list("d", "mx").alias("mxs")))
    idx = F.sequence(F.lit(1), F.size("v"))
    code_at = lambda i: F.when(                      # noqa: E731
        F.element_at("mxs", i) > F.element_at("mns", i),
        F.floor((F.element_at("v", i) - F.element_at("mns", i))
                * F.lit(float(SQ_LEVELS))
                / (F.element_at("mxs", i) - F.element_at("mns", i))
                + F.lit(0.5))).otherwise(F.lit(0)).cast("int")
    coded = (emb.crossJoin(F.broadcast(stats))
             .select("vec_id",
                     F.transform(idx, code_at).alias("codes"),
                     "mns", "mxs"))
    recon_at = lambda i: (                           # noqa: E731
        F.element_at("mns", i)
        + (F.element_at("codes", i).cast("double")
           * (F.element_at("mxs", i) - F.element_at("mns", i)))
        / F.lit(float(SQ_LEVELS)))
    recon = (coded.select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), F.size("codes")), recon_at)
        .alias("rv"))
        .withColumn("rn", _norm(F.col("rv"))))
    q = _query_side(emb.filter(F.col("vec_id") < PQ_N_QUERIES))
    scored = (recon.crossJoin(F.broadcast(q))
              .filter(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("cand_id"),
                      _r6(_cosine(F.col("qv"), F.col("rv"),
                                  F.col("qn"), F.col("rn")))
                      .alias("sq_sim")))
    wr = Window.partitionBy("query_id").orderBy(F.col("sq_sim").desc(),
                                                F.col("cand_id").asc())
    return (scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "cand_id", "sq_sim")
            .orderBy("query_id", "rank"))


ORACLE_ANN_SQ_TOPK = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dims AS (
  SELECT unnest(range(1, len(v) + 1)) AS d, unnest(v) AS x FROM e
), stat AS (
  SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY d
), stats AS (
  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM stat
), coded AS (
  SELECT e.vec_id,
         list_transform(range(1, len(e.v) + 1),
             i -> CASE WHEN s.mxs[i] > s.mns[i]
                  THEN FLOOR((e.v[i] - s.mns[i]) * {SQ_LEVELS}.0
                             / (s.mxs[i] - s.mns[i]) + 0.5)
                  ELSE 0 END) AS codes,
         s.mns AS mns, s.mxs AS mxs
  FROM e CROSS JOIN stats s
), recon AS (
  SELECT vec_id,
         list_transform(range(1, len(codes) + 1),
             i -> mns[i] + (codes[i]::DOUBLE * (mxs[i] - mns[i]))
                  / {SQ_LEVELS}.0) AS rv
  FROM coded
), scored AS (
  SELECT q.vec_id AS query_id, r.vec_id AS cand_id,
         {_COS_SQL.format(a='q.v', b='r.rv')} AS sq_sim
  FROM e q JOIN recon r
    ON q.vec_id < {PQ_N_QUERIES} AND q.vec_id != r.vec_id
), ranked AS (
  SELECT query_id, cand_id, sq_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sq_sim DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, cand_id, sq_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


KNN_NPROBE = 2


def q_knn_graph_multiprobe(spark: SparkSession, sf_dir: str,
                           k: int = KMEANS_K,
                           nprobe: int = KNN_NPROBE) -> DataFrame:
    """Corpus-wide k-NN graph with IVF MULTIPROBE — lifts
    ``knn_graph``'s same-cell edge restriction (a true neighbor sitting
    just across a cell boundary is invisible there): every corpus
    vector probes its ``nprobe`` nearest trained cells and ranks exact
    cosine over ALL vectors assigned to any probed cell.  Probe rank 1
    is the vector's own cell (the same argmax as assignment), so the
    candidate set strictly contains the same-cell variant's — recall
    can only improve (invariant-tested).

    At 100 TB: cost is ``nprobe`` x the same-cell scan — the pairwise
    term becomes ``nprobe · sum_c |cell_c|²`` with the same
    ``k ~ sqrt(nprobe · N)`` balance knob; the probe expansion is the
    same broadcast codebook join as assignment (no extra corpus scan),
    and each (vector, neighbor) pair appears exactly once because a
    neighbor lives in exactly one cell.  Rank keys r6-quantized; ties
    break on neighbor_id."""
    emb = _vectors(spark, sf_dir)
    cent = _kmeans_codebook(emb, k=k)
    assigned = _assign_cells(emb, cent)
    # probe sets: every corpus vector's nprobe nearest cells (rank 1 ==
    # its assigned cell)
    psim = (emb.select("vec_id", "v", "nrm")
            .crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "nrm", "cell",
                    _r6(_cosine(F.col("v"), F.col("cv"),
                                F.col("nrm"), F.col("cn")))
                    .alias("pcos")))
    wp = Window.partitionBy("vec_id").orderBy(F.col("pcos").desc(),
                                              F.col("cell").asc())
    probes = (psim.withColumn("prank", F.row_number().over(wp))
              .filter(F.col("prank") <= nprobe)
              .select("vec_id", F.col("v").alias("qv"),
                      F.col("nrm").alias("qn"), "cell"))
    nbr = assigned.select(F.col("vec_id").alias("neighbor_id"), "cell",
                          F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    edges = (probes.join(nbr, "cell")
             .filter(F.col("vec_id") != F.col("neighbor_id"))
             .select("vec_id", "neighbor_id", "cell",
                     _r6(_cosine(F.col("qv"), F.col("vb"),
                                 F.col("qn"), F.col("nb")))
                     .alias("cos_sim")))
    wr = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                              F.col("neighbor_id").asc())
    return (edges.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= KNN_K)
            .select("vec_id", "rank", "neighbor_id", "cell", "cos_sim")
            .orderBy("vec_id", "rank"))


ORACLE_KNN_GRAPH_MULTIPROBE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes()},
asgn AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn <= {KNN_NPROBE}
), edges AS (
  SELECT p.vec_id, a.vec_id AS neighbor_id, a.cell,
         {_COS_SQL.format(a='p.v', b='a.v')} AS cos_sim
  FROM probes p JOIN asgn a
    ON a.cell = p.cell AND a.vec_id != p.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cell, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM edges
)
SELECT vec_id, rank, neighbor_id, cell, cos_sim
FROM ranked WHERE rank <= {KNN_K}
ORDER BY vec_id, rank
"""


# ---------------------------------------------------------------------------
# persisted semantic index: train the coarse quantizer ONCE, serve many
# ---------------------------------------------------------------------------


def build_semantic_index(emb: DataFrame, index_dir: str,
                         k: int = KMEANS_K) -> None:
    """Persist the trained k-means coarse quantizer and the
    cell-partitioned corpus assignments — the "train once, serve many"
    production shape for the whole coarse-quantizer family (VERDICT r4
    item 1: the inline ``dedup_semantic`` / ``knn_graph`` /
    ``embedding_kmeans`` / ``ann_ivf_topk`` queries retrain the Lloyd
    codebook per call; a real corpus trains once and every consumer
    reads the artifact).  The layout mirrors :func:`build_pq_index`:

    - ``cells/`` — trained centroids ``(cell, cv, cn)`` —
      O(cells x dim), always broadcastable;
    - ``asgn/``  — the assigned corpus ``(vec_id, v, nrm, acos)``
      parquet PARTITIONED BY cell: each cell's inverted list is its own
      directory (FAISS ``IndexIVFFlat`` shape — full vectors live in
      the lists, so cell-local consumers never re-join the corpus), and
      a probe of NPROBE cells is a partition-PRUNED scan.

    ``emb`` must carry ``(vec_id, v: array<double>)``.  Consumers:
    :func:`dedup_semantic_from_index`, :func:`knn_graph_from_index`,
    :func:`kmeans_from_index`, :func:`ann_ivf_from_index` — each
    bit-identical to its inline twin on the same corpus (tested), with
    the Lloyd iterations and the assignment scan paid once here."""
    emb = (emb.select("vec_id", "v")
           .withColumn("nrm", _norm(F.col("v"))))
    cent = _kmeans_codebook(emb, k=k)
    cent.write.mode("overwrite").parquet(f"{index_dir}/cells")
    (_assign_cells(emb, cent)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{index_dir}/asgn"))


def _read_semantic_index(spark: SparkSession,
                         index_dir: str) -> "tuple[DataFrame, DataFrame]":
    """(codebook, assigned-corpus) from a :func:`build_semantic_index`
    store.  The partition column comes back as parquet-directory
    metadata — cast to the codebook's long so downstream joins and
    output schemas match the inline queries exactly.

    The assigned corpus is the union of the build-time inverted lists
    (``asgn/``) and any streamed increments
    (``asgn_inc/batch=<id>/``, written by
    ``streaming.similarity.stream_semantic_index_append``) — every
    consumer transparently sees the grown corpus.  One Hadoop
    ``FileSystem.exists`` probe, never a try/except on a full read."""
    cent = spark.read.parquet(f"{index_dir}/cells")
    asgn = (spark.read.parquet(f"{index_dir}/asgn")
            .withColumn("cell", F.col("cell").cast("long"))
            .select("vec_id", "v", "nrm", "acos", "cell"))
    inc_path = spark._jvm.org.apache.hadoop.fs.Path(
        f"{index_dir}/asgn_inc")
    fs = inc_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(inc_path):
        inc = (spark.read.parquet(f"{index_dir}/asgn_inc")
               .withColumn("cell", F.col("cell").cast("long"))
               .select("vec_id", "v", "nrm", "acos", "cell"))
        asgn = asgn.unionByName(inc)
    return cent, asgn


def dedup_semantic_from_index(spark: SparkSession,
                              index_dir: str) -> DataFrame:
    """SemDeDup served from the persisted index: the Lloyd training and
    the corpus assignment are already paid — what remains is exactly
    the cell-keyed pair stage.  Bit-identical to ``q_dedup_semantic``
    on the same corpus (tested)."""
    _, asgn = _read_semantic_index(spark, index_dir)
    return _semantic_flags(asgn)


def knn_graph_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Corpus k-NN graph served from the persisted index (cell-local
    edges; the self-join reads each cell's directory).  Bit-identical
    to ``q_knn_graph`` on the same corpus (tested)."""
    _, asgn = _read_semantic_index(spark, index_dir)
    return _knn_edges(asgn)


def kmeans_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Cluster summary served from the persisted index — a pure
    metadata pass over ``asgn/`` (no codebook math at all).
    Bit-identical to ``q_embedding_kmeans`` on the same corpus
    (tested)."""
    _, asgn = _read_semantic_index(spark, index_dir)
    return _kmeans_clusters(asgn)


def ann_ivf_from_index(spark: SparkSession, index_dir: str,
                       queries: DataFrame, top_k: int = TOP_K,
                       nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF ANN served from the persisted index: probe selection is a
    query x codebook broadcast, and the inverted-list scan prunes to
    the probed cells' DIRECTORIES (``cell IN (...)`` reaches the
    parquet source as a partition filter — asserted in the plan test).
    ``queries`` carries ``(vec_id, v)``.  Bit-identical to
    ``q_ann_ivf_topk`` on the same corpus (tested)."""
    cent, asgn = _read_semantic_index(spark, index_dir)
    probes = _ivf_probes(cent, _query_side(queries), nprobe)
    probed_cells = [r["cell"] for r in
                    probes.select("cell").distinct().collect()]
    pruned = asgn.filter(F.col("cell").isin(probed_cells))
    return _ivf_exact_topk(F.broadcast(probes), pruned, top_k)


# ---------------------------------------------------------------------------
# hard-negative mining
# ---------------------------------------------------------------------------

HN_N_QUERIES = 8
HN_K = 5


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the data-side of
    DPR / SimCLR-style pipelines): for each anchor vector, the top-k
    most-similar corpus vectors with a DIFFERENT label — the negatives
    that sit closest to the decision boundary and carry the most
    gradient signal.

    Scale shape: the bounded anchor set broadcasts against one corpus
    scan (same plan as ``ann_topk_cosine``); the label-inequality
    filter rides inside the join, so rejected same-label rows never
    reach the ranking window.  At 100 TB you compose this with the
    IVF/PQ index (``query_pq_index``) to pre-select candidates and run
    the exact label-filtered rerank only over the probed lists — the
    exact form here is also the recall oracle for that composition.
    Rank keys r6-quantized; ties break on cand_id."""
    emb = _vectors(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < HN_N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("label").alias("query_label"),
                 F.col("v").alias("qv"), F.col("nrm").alias("qn")))
    cand = emb.select(F.col("vec_id").alias("cand_id"),
                      F.col("label").alias("cand_label"),
                      F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    sims = (F.broadcast(q).crossJoin(cand)
            .filter(F.col("query_label") != F.col("cand_label"))
            .select("query_id", "query_label", "cand_id", "cand_label",
                    _r6(_cosine(F.col("qv"), F.col("cv"),
                                F.col("qn"), F.col("cn"))).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("cand_id").asc())
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= HN_K)
            .select("query_id", "query_label", "rank", "cand_id",
                    "cand_label", "cos_sim")
            .orderBy("query_id", "rank"))


ORACLE_HARD_NEGATIVE_MINING = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), sims AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         {_COS_SQL.format(a='q.v', b='c.v')} AS cos_sim
  FROM e q JOIN e c
    ON q.vec_id < {HN_N_QUERIES} AND q.label != c.label
), ranked AS (
  SELECT query_id, query_label, cand_id, cand_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM sims
)
SELECT query_id, query_label, rank, cand_id, cand_label, cos_sim
FROM ranked WHERE rank <= {HN_K}
ORDER BY query_id, rank
"""


QUERIES = {
    "ann_topk_cosine": q_ann_topk_cosine,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_rerank": q_ann_ivfpq_rerank,
    "embedding_centroids": q_embedding_centroids,
    "embedding_kmeans": q_embedding_kmeans,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_canonicalize": q_dedup_embedding_canonicalize,
    "dedup_semantic": q_dedup_semantic,
    "knn_graph": q_knn_graph,
    "knn_graph_multiprobe": q_knn_graph_multiprobe,
    "ann_sq_topk": q_ann_sq_topk,
    "ann_ivfpq_residual_topk": q_ann_ivfpq_residual_topk,
    "hard_negative_mining": q_hard_negative_mining,
    "embedding_covariance": q_embedding_covariance,
    "embedding_standardize": q_embedding_standardize,
    "embedding_random_projection": q_embedding_random_projection,
    "ann_rp_topk": q_ann_rp_topk,
}

ORACLES = {
    "ann_topk_cosine": ORACLE_ANN_TOPK_COSINE,
    "ann_lsh_buckets": ORACLE_ANN_LSH_BUCKETS,
    "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
    "ann_pq_topk": ORACLE_ANN_PQ_TOPK,
    "ann_ivfpq_topk": ORACLE_ANN_IVFPQ_TOPK,
    "ann_ivfpq_rerank": ORACLE_ANN_IVFPQ_RERANK,
    "embedding_centroids": ORACLE_EMBEDDING_CENTROIDS,
    "embedding_kmeans": ORACLE_EMBEDDING_KMEANS,
    "dedup_embedding_cosine": ORACLE_DEDUP_EMBEDDING_COSINE,
    "dedup_embedding_canonicalize": ORACLE_DEDUP_EMBEDDING_CANONICALIZE,
    "dedup_semantic": ORACLE_DEDUP_SEMANTIC,
    "knn_graph": ORACLE_KNN_GRAPH,
    "knn_graph_multiprobe": ORACLE_KNN_GRAPH_MULTIPROBE,
    "ann_sq_topk": ORACLE_ANN_SQ_TOPK,
    "ann_ivfpq_residual_topk": ORACLE_ANN_IVFPQ_RESIDUAL_TOPK,
    "hard_negative_mining": ORACLE_HARD_NEGATIVE_MINING,
    "embedding_covariance": ORACLE_EMBEDDING_COVARIANCE,
    "embedding_standardize": ORACLE_EMBEDDING_STANDARDIZE,
    "embedding_random_projection": ORACLE_EMBEDDING_RANDOM_PROJECTION,
    "ann_rp_topk": ORACLE_ANN_RP_TOPK,
}
