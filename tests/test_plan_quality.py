"""Physical-plan assertions: the plans we'd want at 100 TB, not just the
first ones that pass (filter/column pushdown into scans, broadcast joins
for dims, no stray shuffles/sorts in the narrow paths)."""

import pytest
from conftest import SF_DIR as SF


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    from atr_adaptive_laguerre_spark.queries import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan, plan
    # only the 6 needed columns are read, not all 11
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in rs and "l_orderkey" not in rs, rs
    assert "l_quantity" in rs and "l_returnflag" in rs, rs


def test_star_join_uses_broadcast(spark):
    from atr_adaptive_laguerre_spark.queries import q_star_join_revenue

    plan = _plan(q_star_join_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan


def test_window_queries_single_shuffle_per_key(spark):
    """Per-user window pipelines should shuffle once on user_id, not once
    per window function.  Asserted on the pre-ORDER-BY body: the public
    query wraps it in _ordered (localCheckpoint + orderBy, r6), whose
    explain shows only Scan ExistingRDD past the truncation point."""
    from atr_adaptive_laguerre_spark.queries import BENCH_QUERY_BODIES

    plan = _plan(BENCH_QUERY_BODIES["events_rolling_stats"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_resample_keeps_hash_aggregate(spark):
    """min_by/max_by with the scalar packed ordering key (r6) must keep
    HashAggregate — a struct key would demote the whole aggregate to
    SortAggregate (full pre-shuffle sort of the events table)."""
    from atr_adaptive_laguerre_spark.queries import BENCH_QUERY_BODIES

    plan = _plan(BENCH_QUERY_BODIES["resample_ohlcv_1h"](spark, SF))
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan


def test_features_job_prunes_input_columns(spark):
    """The kernel job must only read the columns it uses from the doc
    table (tokens/source/doc_id), pruning n_tok at the scan."""
    from atr_adaptive_laguerre_spark.config import FeatureConfig
    from atr_adaptive_laguerre_spark.engine.features_job import features_long

    doc = spark.read.parquet(f"{SF}/documents.parquet")
    from atr_adaptive_laguerre_spark.engine.tokens import (
        tokenize_documents_portable,
    )

    tok = tokenize_documents_portable(doc)
    plan = _plan(features_long(tok, FeatureConfig(atr_period=14)))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in rs and "doc_id" in rs, rs
    assert "n_chars" not in rs, rs   # unused metadata pruned at the scan


def test_exact_dedup_single_shuffle(spark):
    from atr_adaptive_laguerre_spark.operators.dedup import q_dedup_exact

    plan = _plan(q_dedup_exact(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ivf_plan_broadcasts_codebook_no_corpus_cross_join(spark):
    """The IVF plan's only cross joins are against the broadcast codebook
    (O(cells) rows); corpus x corpus never appears, and candidate joins
    run on the cell key."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_ivf_topk,
    )

    plan = _plan(q_ann_ivf_topk(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # codebook broadcast
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "cell" in line, line


def test_embedding_dup_plan_joins_on_buckets_only(spark):
    """Embedding near-dup candidates must come from the (band, bucket)
    equi-join — never an all-pairs vector cross join."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_dedup_embedding_cosine,
    )

    plan = _plan(q_dedup_embedding_cosine(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line \
                or "BroadcastHashJoin" in line:
            assert ("bucket" in line or "vec_a" in line or "vec_b" in line
                    or "vec_id" in line), line


def test_curation_pipeline_two_shuffles(spark):
    """The composite curation pipeline must cost exactly two exchanges —
    the dedup window (chash) and the report groupBy — regardless of how
    many per-doc features feed the keep decision."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_curation,
    )

    plan = _plan(q_corpus_curation(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan  # all JVM-side expressions


def test_jaccard_plan_has_no_allpairs_shingle_join(spark):
    """VERDICT r1 item 4 'done' check: the n-gram Jaccard plan must join
    on LSH (band, bucket) candidates and doc_id only — never self-join
    the exploded shingle table (quadratic in docs per hot shingle)."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_ngram_jaccard,
    )

    plan = _plan(q_dedup_ngram_jaccard(spark, SF))
    # joins present: bucket-candidate join + two doc_id joins for the
    # shingle arrays — every equi-join key must be doc_id/band/bucket
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line \
                or "BroadcastHashJoin" in line:
            assert ("doc_id" in line or "doc_a" in line or "doc_b" in line
                    or "bucket" in line), line
            # the quadratic shape would join on the raw shingle value
            assert "[s#" not in line.replace("doc_id", ""), line


def test_ic_sweep_two_exchanges_one_expand(spark):
    """feature_ic_sweep's 100 TB shape: ONE exchange on doc_id shared by
    the close-cumsum and forward-return windows, ONE Expand (the 121-way
    unpivot), ONE exchange on feature shared by BOTH rank windows and
    the final aggregate — and no join of any kind."""
    from atr_adaptive_laguerre_spark.queries import q_feature_ic_sweep

    plan = _plan(q_feature_ic_sweep(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Expand") == 1, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_curation_neardup_no_mandatory_broadcast(spark):
    """VERDICT r3 #2: the near-dup drop set is corpus-proportional on a
    dup-heavy corpus, so the curation decision must NOT force a
    broadcast — no hint in the logical plan (AQE may still choose
    broadcast at runtime when the set is small), the drop-set join must
    be doc_id-keyed, and nothing may go cartesian."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_curation_neardup,
    )

    df = q_corpus_curation_neardup(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and \
        "UnresolvedHint" not in analyzed, analyzed
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "nd_drop" in line and "Join" in line:
            assert "doc_id" in line, line


def test_sample_stratified_single_shuffle(spark):
    """The stratified sampler's assignment is a stateless per-row
    expression — the report groupBy must be the ONLY exchange and no
    join may appear (the rate derives from the row's own source column,
    never from a rate-table join)."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_sample_stratified,
    )

    plan = _plan(q_corpus_sample_stratified(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "PythonUDF" not in plan


def test_contamination_joins_on_shingle_and_docid_only(spark):
    """The contamination audit must join the training explosion to the
    benchmark set on the shingle key and fold back per doc_id — never a
    corpus self-join or cartesian."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_contamination_check,
    )

    plan = _plan(q_contamination_check(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Join" in line and ("SortMerge" in line or "ShuffledHash" in line
                               or "BroadcastHash" in line):
            assert ("s#" in line or "doc_id" in line), line


def test_text_repetition_no_gram_shuffle(spark):
    """The repetition metrics are doc-local sorted-run scans: no
    hash-partitioned exchange may appear (grams never leave their row) —
    only the scan-parallelism repartition and the presentation sort."""
    from atr_adaptive_laguerre_spark.operators.text import (
        q_text_repetition,
    )

    plan = _plan(q_text_repetition(spark, SF))
    assert "hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_sequence_packing_distributed_prefix_sum(spark):
    """The packing offset must come from the two-level prefix sum: the
    bucket-offset join stays broadcast (the aggregate side is
    corpus/4096 rows) and no sort-merge join sneaks in; the only global
    (empty-key) window runs over the bucket aggregate, after a groupBy."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_sequence_packing,
    )

    plan = _plan(q_sequence_packing(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_tfidf_no_sort_merge_join(spark):
    """tf-idf scoring joins the vocabulary-sized idf table and a 1-row
    corpus count back to doc-grain counts: no sort-merge join may
    appear, and the only cross join is the 1-row count broadcast."""
    from atr_adaptive_laguerre_spark.operators.text import q_tfidf_topk

    plan = _plan(q_tfidf_topk(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_lm_surprisal_model_joins_stay_small(spark):
    """The bigram-LM model frames (bigram counts, context totals,
    vocab) join among themselves and to the doc-grain counts without a
    sort-merge join; the only SMJ allowed is the final doc-grain left
    join on doc_id (corpus x corpus on the natural key — the correct
    plan at scale), and the only cross join is the 1-row vocab size."""
    from atr_adaptive_laguerre_spark.operators.text import (
        q_lm_bigram_surprisal,
    )

    plan = _plan(q_lm_bigram_surprisal(spark, SF))
    assert plan.count("SortMergeJoin") == 1, plan
    assert "SortMergeJoin [doc_id" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_mix_sample_broadcasts_rate_table(spark):
    """The per-source rate table is O(#sources): both its join back to
    doc grain and the final report join must broadcast — never
    sort-merge on the corpus side."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_mix_sample,
    )

    plan = _plan(q_corpus_mix_sample(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_corpus_shuffle_two_level_scan(spark):
    """Global shuffle positions must come from the bucketed two-level
    scan: bucket-offset join broadcast, no sort-merge join, and no
    window over the full corpus without a partition key (the only
    empty-key window runs over the <=4096-row bucket aggregate)."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_shuffle,
    )

    plan = _plan(q_corpus_shuffle(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_pii_scrub_single_shuffle(spark):
    """PII scrub is stateless per-row work: exactly one exchange (the
    per-source report groupBy) and zero joins."""
    from atr_adaptive_laguerre_spark.operators.text import q_pii_scrub

    plan = _plan(q_pii_scrub(spark, SF))
    assert "Join" not in plan, plan
    # one hash exchange for the report agg (plus the final sort and
    # the small-scan parallelism-guard repartition, which vanishes on
    # a properly-split corpus)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # regex work happens on a pruned 2-column scan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in rs and "doc_id" not in rs, rs


def test_quality_classifier_join_shapes(spark):
    """NB classifier: model-side joins are token/doc keyed SMJs (both
    sides corpus-scale — correct at 100 TB); the 1-row totals and
    prior frames must ride broadcast-NL crossjoins, never shuffle."""
    from atr_adaptive_laguerre_spark.operators.text import (
        q_quality_classifier,
    )

    plan = _plan(q_quality_classifier(spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_embedding_covariance_single_scan(spark):
    """The covariance query must read the corpus exactly ONCE (the
    mean sums ride the same expand + aggregate as the products via
    marker entries, then two windows over the O(d^2) aggregate) — no
    join and no duplicated scan subtree."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_embedding_covariance,
    )

    plan = _plan(q_embedding_covariance(spark, SF))
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan


def test_bpe_encode_scan_only(spark):
    """The BPE apply is a chain of codegen string replaces: zero
    exchanges besides the output sort, zero Python."""
    from atr_adaptive_laguerre_spark.operators.text import q_bpe_encode

    plan = _plan(q_bpe_encode(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_chunk_clean_no_self_join(spark):
    """Chunk cleaning joins back on doc_id only (hash or AQE-broadcast)
    — never a corpus self-join on content, never Python."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_chunk_clean,
    )

    plan = _plan(q_dedup_chunk_clean(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # content only ever partitions the chash window, keyed by the hash
    assert plan.count("Exchange hashpartitioning(chash") == 1, plan


def test_pq_plan_broadcasts_codebook_and_lut(spark):
    """PQ/ADC must keep the codebook and per-query LUTs on the
    broadcast side; the only corpus-wide join is the broadcast
    nested-loop score join — no sort-merge, no corpus self-join."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_pq_topk,
    )

    plan = _plan(q_ann_pq_topk(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ivfpq_one_cell_shuffle_no_smj(spark):
    """IVF+PQ: codebooks/probes/LUTs all broadcast; no sort-merge join
    and no unbounded cross join reach the corpus."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_ivfpq_topk,
    )

    plan = _plan(q_ann_ivfpq_topk(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_semantic_pairs_join_on_cell(spark):
    """SemDeDup's pairwise stage must be the cell-keyed self-join —
    no corpus x corpus cartesian; the only nested-loop joins are the
    O(cells) broadcast codebook assignments, and every shuffled join
    runs on the cell or vec_id key."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_dedup_semantic,
    )

    plan = _plan(q_dedup_semantic(spark, SF))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert ("cell" in line or "vec_id" in line), line


def test_dsir_topn_is_take_ordered_no_wide_joins(spark):
    """DSIR: the global top-N must plan as TakeOrderedAndProject (never
    a global sort); the ratio table and the 60-row ranked frame ride as
    broadcasts; nothing plans a cartesian product or Python eval."""
    from atr_adaptive_laguerre_spark.operators.curation import q_dsir_select

    plan = _plan(q_dsir_select(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ivfpq_rerank_bounded_broadcasts_no_smj(spark):
    """The rerank stage must never widen beyond broadcasts: the ADC
    shortlist and query frames ride as broadcast joins onto the one
    corpus scan; no sort-merge join, cartesian product, or Python
    eval anywhere."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_ivfpq_rerank,
    )

    plan = _plan(q_ann_ivfpq_rerank(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_embedding_standardize_one_stats_broadcast(spark):
    """Standardize: the 64-row per-dim stats come back as a BROADCAST
    onto the exploded frame — no self-join, no sort-merge join, no
    corpus-sized window, no Python eval."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_embedding_standardize,
    )

    plan = _plan(q_embedding_standardize(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_edit_distance_candidates_only_no_cartesian(spark):
    """The Levenshtein verify must run on LSH candidates only: no
    cartesian product, no Python eval; text fetch joins are id-keyed."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_edit_distance,
    )

    plan = _plan(q_dedup_edit_distance(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "levenshtein" in plan, plan


def test_substring_spans_joins_on_doc_spine_only(spark):
    """Substring-span dedup must stay corpus-linear: the gram stream is
    counted with ONE gram-hash exchange (window, no self-join) and the
    only joins are the per-doc report back to the doc spine."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_substring_spans,
    )

    plan = _plan(q_dedup_substring_spans(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line \
                or "BroadcastHashJoin" in line:
            assert "doc_id" in line, line


def test_cdc_chunks_plan_has_no_joins(spark):
    """Content-defined chunking is explode -> per-doc window -> two
    groupBys: strictly linear, zero joins of any kind."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_cdc_chunks,
    )

    plan = _plan(q_dedup_cdc_chunks(spark, SF))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, (op, plan)


def test_knn_multiprobe_joins_on_cell_only(spark):
    """Multiprobe candidate expansion must ride the broadcast codebook
    (probe ranking) and a cell-keyed equi-join — corpus x corpus never
    appears."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_knn_graph_multiprobe,
    )

    plan = _plan(q_knn_graph_multiprobe(spark, SF))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "cell" in line, line


def test_sq_topk_broadcasts_stats_and_queries_only(spark):
    """SQ/ADC scoring joins the corpus against two broadcastable frames
    (the O(d) min/max stats row and the query set) — no shuffled join,
    no corpus self-join."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_sq_topk,
    )

    plan = _plan(q_ann_sq_topk(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_ivfpq_residual_joins_cell_and_vec_only(spark):
    """Residual encoding must not change the shuffle structure: one
    cell-keyed probe join + vec_id-keyed code joins; codebooks,
    centroid table, probes and LUTs all broadcast; never corpus x
    corpus."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_ivfpq_residual_topk,
    )

    plan = _plan(q_ann_ivfpq_residual_topk(spark, SF))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "cell" in line or "vec_id" in line, line


def test_substring_clean_anti_join_on_positions_only(spark):
    """The removal must ride a (doc_id, pos)-keyed anti join of the
    word stream against the removed-position set — never a corpus
    self-join or cartesian."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_substring_clean,
    )

    plan = _plan(q_dedup_substring_clean(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line \
                or "BroadcastHashJoin" in line:
            assert "doc_id" in line or "pos" in line, line


def test_hybrid_rrf_no_corpus_self_join(spark):
    """Hybrid fusion: every hash/merge join keyed on doc_id/vec_id/term;
    the only nested-loop joins are the two 1-row broadcasts (BM25
    corpus stats, PRF query vector); never a cartesian."""
    from atr_adaptive_laguerre_spark.operators.hybrid import (
        q_hybrid_search_rrf,
    )

    plan = _plan(q_hybrid_search_rrf(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line \
                or "BroadcastHashJoin" in line:
            assert "doc_id" in line or "vec_id" in line \
                or "term" in line, line


def test_random_projection_map_only(spark):
    """Sparse JL projection: the projection itself is a pure per-row
    expression — no joins anywhere, no hash shuffle; the only exchange
    in the whole plan is the presentation sort's rangepartitioning."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_embedding_random_projection,
    )

    plan = _plan(q_embedding_random_projection(spark, SF))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_corpus_ngram_topk_take_ordered(spark):
    """Corpus n-gram mining: the global top-N plans as
    TakeOrderedAndProject (O(topn) per partition), never a full sort,
    and the only shuffles are the two gram-keyed aggregations
    (gram+doc pre-aggregate, then gram rollup)."""
    from atr_adaptive_laguerre_spark.operators.text import (
        q_corpus_ngram_topk,
    )

    plan = _plan(q_corpus_ngram_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_ann_rp_topk_shortlist_never_carries_vectors(spark):
    """Two-stage RP ANN: stage 1's corpus stream must carry only the
    projected bigint sums — the 64-d vector re-enters via the
    broadcast shortlist-to-corpus id joins of stage 2.  No SMJ, no
    unkeyed join besides the broadcast-queries scan."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        q_ann_rp_topk,
    )

    plan = _plan(q_ann_rp_topk(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the single nested-loop join is the broadcast of the 20 queries
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "cand_id" in line or "query_id" in line, line


def test_jaccard_groundtruth_no_cartesian(spark):
    """The exhaustive Jaccard baseline must still avoid the corpus
    cross join: pairs materialize through a shingle-EQUALITY self-join
    (hot shingles are its documented quadratic term), never a
    cartesian."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_jaccard_groundtruth,
    )

    plan = _plan(q_dedup_jaccard_groundtruth(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_events_json_extract_stays_in_plan(spark):
    """JSON payload extraction must run as a Catalyst expression on the
    scan's map side (partial aggregation before the one group-key
    shuffle), never as a Python UDF."""
    from atr_adaptive_laguerre_spark.queries import q_events_json_extract

    plan = _plan(q_events_json_extract(spark, SF))
    assert "get_json_object" in plan, plan
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_weighted_sample_one_pass_topn(spark):
    """Priority sampling is ONE corpus pass: stateless per-row key,
    global top-N as TakeOrderedAndProject — no joins, no
    range-partition sort, no aggregation shuffle."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_sample_weighted,
    )

    plan = _plan(q_corpus_sample_weighted(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_containment_lsh_no_shingle_self_join(spark):
    """The sketch path must never join shingles x shingles: the only
    stream-scale join is sketch (k rows/doc) against the linear hash
    stream, then id-keyed verify joins — no cartesian, and the hash
    join keys are the sketch hash or doc ids."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        q_dedup_containment_lsh,
    )

    plan = _plan(q_dedup_containment_lsh(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
