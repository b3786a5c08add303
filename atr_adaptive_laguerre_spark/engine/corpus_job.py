"""End-to-end corpus preparation job: the composed LLM-data pipeline.

``prepare_corpus`` chains the operator library's doc-grain decisions —
quality/exact-dup gates, near-dup canonicalization drop, PII redaction,
deterministic global shuffle, and sequence-packing offsets — into ONE
curated training-corpus write with per-stage manifest lineage, the same
observability story the feature job tells (`manifest.run_resumable`)
applied to the data side.

Composition contract: every gate reuses the exact expressions of its
standalone catalog operator (`curation_report`'s keep decision,
`dedup.connected_components` over `verified_jaccard_pairs`,
`pii_scrub_cols`, the `corpus_shuffle` / `sequence_packing` two-level
scans), so the composed output is testable against the independent
operators — `tests/test_corpus_job.py` asserts the written corpus
matches the standalone report counts and orderings row for row.

Scale shape: one linear pass scores and gates (two shuffles: the chash
dedup window + nothing else at doc grain); the near-dup arm adds the
LSH candidate pipeline over only paired docs; shuffle positions and
packing offsets are bucketed two-level scans (no global window ever
sees the corpus); the final write partitions by shard so downstream
training readers get `SHUFFLE_SHARDS` independent splits.  Determinism:
the whole pipeline is a pure function of (doc_id, text, source), so two
runs — at any parallelism — write identical rows.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from atr_adaptive_laguerre_spark.engine.manifest import (
    canonicalize_with_manifest, committed_keys, overwrite_partitions,
    read_partitions,
)
from atr_adaptive_laguerre_spark.operators.curation import (
    MIN_QUALITY, MIN_TOKENS, PACK_BUCKET_W, SEQ_LEN, SHUFFLE_BUCKET_HEX,
    SHUFFLE_SHARDS, doc_scores, is_canonical,
)
from atr_adaptive_laguerre_spark.operators.text import pii_scrub_cols

#: per-stage lineage row written after the job commits
CORPUS_MANIFEST_SCHEMA = ("run_id string, stage string, n_docs_in long, "
                          "n_docs_out long, n_tokens_out long, "
                          "wall_sec double, committed_at double")


def _gated(docs: DataFrame, min_tokens: int, min_quality: float,
           near_dup_drops: DataFrame | None) -> DataFrame:
    """Doc-grain keep decision — the exact `curation_report` gates
    (exact-dup canonical, token floor, quality floor, optional near-dup
    drop set) kept at doc grain instead of aggregated to a report."""
    scored = doc_scores(docs, "text").withColumn(
        "n_tokens", F.col("token_count").cast("bigint"))
    keep = ((F.col("n_tokens") >= min_tokens)
            & (F.col("quality_score") >= min_quality))
    if near_dup_drops is not None:
        nd = (near_dup_drops.select("doc_id").distinct()
              .withColumn("nd_drop", F.lit(1)))
        scored = scored.join(nd, "doc_id", "left")  # AQE sizes the join
        keep = keep & F.col("nd_drop").isNull()
    return (scored.withColumn("keep", is_canonical() & keep)
            .filter("keep")
            .select("doc_id", "source", "text", "n_tokens"))


def _with_shuffle_pos(kept: DataFrame) -> DataFrame:
    """`corpus_shuffle`'s bucketed two-level global ranking over the
    kept set."""
    key = F.md5(F.concat(F.col("doc_id").cast("string"),
                         F.lit(":shuffle")))
    d = kept.withColumn("k", key).withColumn(
        "bkt", F.substring("k", 1, SHUFFLE_BUCKET_HEX))
    wl = Window.partitionBy("bkt").orderBy("k", "doc_id")
    d = d.withColumn("rn", F.row_number().over(wl).cast("bigint"))
    wb = (Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = (d.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
           .withColumn("off", F.coalesce(F.sum("n").over(wb), F.lit(0)))
           .select("bkt", "off"))
    return (d.join(off, "bkt")
            .withColumn("shuffle_pos",
                        (F.col("off") + F.col("rn") - 1).cast("bigint"))
            .withColumn("shard",
                        F.col("shuffle_pos") % SHUFFLE_SHARDS)
            .drop("k", "bkt", "rn", "off"))


def _with_pack_offsets(shuffled: DataFrame, seq_len: int) -> DataFrame:
    """`sequence_packing`'s two-level prefix sum, ordered by the
    SHUFFLE position (training order), not doc_id."""
    d = shuffled.withColumn(
        "pbkt", F.expr(f"shuffle_pos div {PACK_BUCKET_W}"))
    wl = (Window.partitionBy("pbkt").orderBy("shuffle_pos")
          .rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "local_off", F.coalesce(F.sum("n_tokens").over(wl), F.lit(0)))
    wb = (Window.orderBy("pbkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    tot = (d.groupBy("pbkt").agg(F.sum("n_tokens").alias("t"))
           .withColumn("boff", F.coalesce(F.sum("t").over(wb), F.lit(0)))
           .select("pbkt", "boff"))
    return (d.join(tot, "pbkt")
            .withColumn("tok_offset",
                        (F.col("boff") + F.col("local_off"))
                        .cast("bigint"))
            .withColumn("first_seq",
                        F.expr(f"tok_offset div {seq_len}")
                        .cast("bigint"))
            .drop("pbkt", "local_off", "boff"))


def _append_stage(spark: SparkSession, manifest_dir: str, run_id: str,
                  stage: str, n_in: int, n_out: int, n_tok: int,
                  wall: float) -> None:
    row = [(run_id, stage, int(n_in), int(n_out), int(n_tok),
            float(wall), float(time.time()))]
    (spark.createDataFrame(row, CORPUS_MANIFEST_SCHEMA)
     .write.mode("append").parquet(f"{manifest_dir}/stages"))


def prepare_corpus_resumable(spark: SparkSession, docs: DataFrame,
                             output_dir: str, staging_dir: str,
                             manifest_dir: str, run_id: str,
                             min_tokens: int = MIN_TOKENS,
                             min_quality: float = MIN_QUALITY,
                             near_dup: bool = True,
                             seq_len: int = SEQ_LEN,
                             shards_per_wave: int = 4,
                             max_waves: int | None = None) -> dict:
    """Checkpoint-resumable variant of :func:`prepare_corpus` — the
    corpus-side twin of `manifest.run_resumable`'s wave pattern:

    1. **Staging commit** (once): the gated + scrubbed doc set is
       written to ``staging_dir`` and marked in the manifest.  The
       expensive discovery work (near-dup components, quality gates,
       PII scrub) never re-runs after this point.
    2. **Shard waves**: shuffle positions and packing offsets are
       recomputed from staging (pure deterministic functions — cheaper
       than persisting them) and the final corpus is written
       ``shards_per_wave`` shards at a time with dynamic partition
       overwrite, one manifest row per shard.  A crash between a wave's
       write and its manifest append re-writes exactly that wave's
       shard directories on resume — idempotent, no duplicate rows.

    Re-invoking with the same ``run_id`` resumes after the last
    committed stage; ``max_waves`` lets tests simulate interruption."""
    t0 = time.time()
    done = committed_keys(spark, f"{manifest_dir}/stages", run_id, "stage")
    resumed = bool(done)

    if "staging_commit" not in done:
        n_in = docs.count()
        nd = None
        if near_dup:
            from atr_adaptive_laguerre_spark.operators.dedup import (
                verified_jaccard_pairs,
            )

            comp = canonicalize_with_manifest(
                spark, verified_jaccard_pairs(docs),
                f"{manifest_dir}/components", run_id=run_id)
            nd = (comp.filter(F.col("id") != F.col("comp"))
                  .select(F.col("id").alias("doc_id")))
        ts = time.time()
        kept = _gated(docs, min_tokens, min_quality, nd)
        scrubbed = (pii_scrub_cols(kept)
                    .select("doc_id", "source", "n_tokens",
                            F.col("redacted").alias("text"),
                            (F.col("n_email") + F.col("n_phone")
                             + F.col("n_ip")).alias("n_pii")))
        scrubbed.write.mode("overwrite").parquet(staging_dir)
        n_staged = spark.read.parquet(staging_dir).count()
        _append_stage(spark, manifest_dir, run_id, "staging_commit",
                      n_in, n_staged, 0, time.time() - ts)
        done.add("staging_commit")

    staged = spark.read.parquet(staging_dir)
    annotated = _with_pack_offsets(_with_shuffle_pos(staged), seq_len)

    done_shards = {int(s.split(":", 1)[1]) for s in done
                   if s.startswith("shard:")}
    todo = sorted(set(range(SHUFFLE_SHARDS)) - done_shards)
    waves = [todo[i: i + shards_per_wave]
             for i in range(0, len(todo), shards_per_wave)]
    if max_waves is not None:
        waves = waves[:max_waves]

    for wave in waves:
        ts = time.time()
        overwrite_partitions(
            annotated.filter(F.col("shard").isin([int(s) for s in wave])),
            output_dir, "shard")
        wall = time.time() - ts
        wave_out = read_partitions(spark, output_dir, "shard", wave)
        stats = {} if wave_out is None else {
            r["shard"]: r for r in
            (wave_out.groupBy("shard")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("n_tokens").alias("tok")).collect())}
        for s in wave:
            r = stats.get(s)
            _append_stage(spark, manifest_dir, run_id, f"shard:{s}",
                          0, int(r["n"]) if r else 0,
                          int(r["tok"]) if r and r["tok"] else 0,
                          wall / max(len(wave), 1))
        done_shards.update(int(s) for s in wave)

    return {"run_id": run_id,
            "shards_done": sorted(done_shards),
            "shards_total": SHUFFLE_SHARDS,
            "resumed": resumed,
            "wall_sec": time.time() - t0}


def prepare_corpus(spark: SparkSession, docs: DataFrame, output_dir: str,
                   manifest_dir: str | None = None,
                   run_id: str | None = None,
                   min_tokens: int = MIN_TOKENS,
                   min_quality: float = MIN_QUALITY,
                   near_dup: bool = True,
                   chunk_dedup: bool = False,
                   decontaminate: bool = False,
                   benchmark: DataFrame | None = None,
                   dsir_frac: float | None = None,
                   dsir_target_sources: tuple[str, ...] | None = None,
                   seq_len: int = SEQ_LEN) -> dict:
    """Run the composed pipeline over a documents frame and write the
    curated, scrubbed, shuffled, packing-annotated corpus to
    ``output_dir`` partitioned by shard.  Returns a summary dict; with
    ``manifest_dir``, appends one lineage row per stage (and the
    canonicalization rounds via ``canonicalize_with_manifest``).

    ``chunk_dedup=True`` inserts the RefinedWeb-style sub-document pass
    between gating and PII scrub: duplicated fixed-width chunks are
    physically removed from surviving docs (keep-first over the KEPT
    set — cleaning against already-dropped near-dups would delete text
    whose first instance no longer exists), token counts re-derived
    from the cleaned text, and docs cleaned down to nothing dropped.

    ``decontaminate=True`` inserts benchmark decontamination after
    chunk cleaning (the GPT-3 appendix recipe: gate -> chunk-clean ->
    decontaminate -> DSIR -> PII -> pack): training docs sharing any
    distinct word 8-gram with the eval benchmark are DROPPED, and the
    benchmark docs themselves (``source == BENCHMARK_SOURCE``, or the
    explicit ``benchmark`` frame) never reach the training output.
    Collisions are scored on the text the model would actually train on
    (post chunk-clean).

    ``dsir_frac=0.x`` inserts DSIR domain-targeted selection after
    gating (and after chunk cleaning, so weights score the FINAL text):
    keep the top fraction of surviving docs by per-gram importance
    weight toward ``dsir_target_sources``.  The cut is a rank-defined
    threshold over the weight quantized to a 1e-4-nat grid — the same
    bounded-histogram idiom as :func:`curation_report_quantile`, so no
    corpus-sized sort; ties at the threshold value are all kept."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    stages: list[tuple[str, int, int, int, float]] = []

    n_in = docs.count()

    nd = None
    if near_dup:
        from atr_adaptive_laguerre_spark.operators.dedup import (
            connected_components, verified_jaccard_pairs,
        )

        ts = time.time()
        pairs = verified_jaccard_pairs(docs)
        if manifest_dir is not None:
            comp = canonicalize_with_manifest(
                spark, pairs, f"{manifest_dir}/components",
                run_id=run_id)
        else:
            comp = connected_components(pairs)
        nd = (comp.filter(F.col("id") != F.col("comp"))
              .select(F.col("id").alias("doc_id")))
        stages.append(("near_dup_components", n_in, int(nd.count()),
                       0, time.time() - ts))

    ts = time.time()
    kept = _gated(docs, min_tokens, min_quality, nd)
    if chunk_dedup:
        from atr_adaptive_laguerre_spark.operators.dedup import (
            chunk_clean_frame,
        )

        cleaned = (chunk_clean_frame(kept)
                   .filter(F.col("clean_text") != "")
                   .select("doc_id",
                           F.col("clean_text").alias("text"),
                           F.size(F.split("clean_text", r"\s+"))
                           .cast("bigint").alias("n_tokens")))
        n_gated = kept.count()
        # truncate lineage between selective stages: every stage after
        # this one (and the final write) would otherwise RE-EXECUTE the
        # whole upstream chain — gate + chunk shingle joins — once per
        # downstream action; measured 121 s -> 37 s on the full
        # gate->chunk->decontaminate->DSIR recipe at sf0.1
        # (BENCH/pipeline.json).  prepare_corpus_resumable uses durable
        # staging parquet for the same cut at restart-safety grade.
        kept = (kept.drop("text", "n_tokens")
                .join(cleaned, "doc_id")
                .localCheckpoint(eager=True))
        stages.append(("chunk_clean", n_gated, int(kept.count()),
                       0, time.time() - ts))
        ts = time.time()
    if decontaminate:
        from atr_adaptive_laguerre_spark.operators.curation import (
            BENCHMARK_SOURCE, decontaminate_frame,
        )

        n_pre = kept.count()
        bench = (benchmark if benchmark is not None
                 else docs.filter(F.col("source") == BENCHMARK_SOURCE))
        # the eval suite itself is never training data
        kept = kept.filter(F.col("source") != BENCHMARK_SOURCE) \
            if benchmark is None else kept
        kept = decontaminate_frame(kept, bench).localCheckpoint(eager=True)
        stages.append(("decontaminate", n_pre, int(kept.count()),
                       0, time.time() - ts))
        ts = time.time()
    if dsir_frac is not None:
        from atr_adaptive_laguerre_spark.operators.curation import (
            DSIR_TARGET_SOURCES, dsir_scores,
        )

        tgt = dsir_target_sources or DSIR_TARGET_SOURCES
        n_pre = kept.count()
        sc = dsir_scores(kept, F.col("source").isin(*tgt))
        # per-gram weight on a 1e-4-nat grid: log-ratios live within a
        # few nats, so the threshold histogram's value domain is bounded
        # regardless of corpus size (curation_report_quantile's idiom)
        aq = (F.floor(F.col("s_micro").cast("double") / F.col("n_grams")
                      / 100.0 + 0.5).cast("bigint"))
        scored = sc.select("doc_id", aq.alias("aq4"))
        hist = scored.groupBy("aq4").agg(F.count(F.lit(1)).alias("cnt"))
        hw = Window.orderBy(F.desc("aq4"))
        cum = hist.select(
            "aq4",
            F.sum("cnt").over(hw.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
            F.sum("cnt").over(Window.partitionBy()).alias("n_total"))
        k = F.ceil(F.lit(dsir_frac) * F.col("n_total")).cast("bigint")
        thr = (cum.filter(F.col("cum") >= k)
               .agg(F.max("aq4").alias("dsir_thr")))
        keep_ids = (scored.crossJoin(F.broadcast(thr))
                    .filter(F.col("aq4") >= F.col("dsir_thr"))
                    .select("doc_id"))
        kept = (kept.join(keep_ids, "doc_id")  # id-keyed; AQE sizes it
                .localCheckpoint(eager=True))
        stages.append(("dsir_select", n_pre, int(kept.count()),
                       0, time.time() - ts))
        ts = time.time()
    scrubbed = (pii_scrub_cols(kept)
                .select("doc_id", "source", "n_tokens",
                        F.col("redacted").alias("text"),
                        (F.col("n_email") + F.col("n_phone")
                         + F.col("n_ip")).alias("n_pii")))
    out = _with_pack_offsets(_with_shuffle_pos(scrubbed), seq_len)
    (out.write.mode("overwrite").partitionBy("shard")
        .parquet(output_dir))
    wall_write = time.time() - ts

    agg = spark.read.parquet(output_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("tok")).collect()[0]
    stages.append(("gate_scrub_shuffle_pack_write", n_in, int(agg["n"]),
                   int(agg["tok"] or 0), wall_write))

    if manifest_dir is not None:
        now = time.time()
        rows = [(run_id, s, int(i), int(o), int(t), float(w), float(now))
                for s, i, o, t, w in stages]
        (spark.createDataFrame(rows, CORPUS_MANIFEST_SCHEMA)
         .write.mode("append").parquet(f"{manifest_dir}/stages"))

    return {"run_id": run_id, "n_docs_in": n_in,
            "n_docs_out": int(agg["n"]),
            "n_tokens_out": int(agg["tok"] or 0),
            "wall_sec": time.time() - t0,
            "stages": [s for s, *_ in stages]}
