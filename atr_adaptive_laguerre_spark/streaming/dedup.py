"""Streaming exact deduplication — the streaming twin of the batch
``dedup_exact`` operator (operators/dedup.py).

``dropDuplicatesWithinWatermark`` on the normalized-content md5 keeps the
FIRST arrival of each content group and suppresses any duplicate that
arrives within the watermark horizon; state for a hash is evicted once
the event-time watermark passes it, so state size is bounded by the
duplicate-arrival window instead of the corpus size — the property that
makes streaming dedup feasible at 10^12-sequence scale (an unbounded
``dropDuplicates`` would accrete one state row per distinct document
forever).

Determinism note: "first arrival" is micro-batch order, not min(doc_id)
— canonical-id selection is a batch concern (the batch operator picks
min(doc_id)); the streaming operator's contract is exactly-one survivor
per content group per watermark window, which the test asserts.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from atr_adaptive_laguerre_spark.operators.text import words_col
from atr_adaptive_laguerre_spark.streaming.stateful import drain

#: documents arriving on a stream carry an event-time column
DOC_TS_SCHEMA = "doc_id string, text string, ts timestamp"


def stream_dedup_exact(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str,
                       watermark: str = "10 minutes") -> None:
    """File-source stream -> normalized-content md5 ->
    dropDuplicatesWithinWatermark -> parquet sink (append).

    Plan shape at scale: one shuffle on the content hash per micro-batch
    plus the watermark-bounded state store — identical key distribution
    to the batch operator's single exchange.
    """
    sdf = spark.readStream.schema(DOC_TS_SCHEMA).parquet(input_dir)
    chash = F.md5(F.concat_ws(" ", words_col()))  # doc_scores' chash
    hashed = sdf.select("doc_id", "ts", chash.alias("chash"))
    dedup = (hashed.withWatermark("ts", watermark)
             .dropDuplicatesWithinWatermark(["chash"]))
    drain(dedup.writeStream.format("parquet").outputMode("append")
          .option("path", output_dir), checkpoint_dir)


#: crawl-increment stream schema (no event time needed — the index join
#: is stateless per micro-batch; ordering state lives in the index)
DOC_SCHEMA = "doc_id long, text string"


def stream_incremental_neardup(spark: SparkSession, input_dir: str,
                               index_dir: str, output_dir: str,
                               checkpoint_dir: str) -> None:
    """Streaming ingestion against a PERSISTED MinHash-LSH index — the
    daily-crawl shape of web-scale near-dup dedup as a continuous
    pipeline: each micro-batch of new documents is matched against the
    index (``incremental_dedup_report`` — only the batch side is
    shingled, the indexed corpus's text is never touched), surviving
    docs append to the curated output, and the index GROWS by exactly
    the kept docs, so a near-copy of anything ingested in an earlier
    batch is caught in a later one.

    Layout: ``index_dir/bands/batch=*`` and ``index_dir/shingles/
    batch=*`` (the initial corpus lives under ``batch=init``); output
    under ``output_dir/batch=*``.  Idempotence: every write is an
    OVERWRITE of its own ``batch=<id>`` subdirectory, so a micro-batch
    retried after a crash rewrites the same paths instead of appending
    duplicates — the same dynamic-partition-overwrite discipline as the
    feature job's manifest waves.

    Within-batch exact duplicates collapse on the content hash first
    (min doc_id survives, the batch operator's rule); within-batch
    NEAR-dup pairs are the nightly batch canonicalization's job — an
    increment is small relative to the corpus, and doing full LSH
    inside every micro-batch would re-create the batch operator.
    """
    from atr_adaptive_laguerre_spark.operators.curation import is_canonical
    from atr_adaptive_laguerre_spark.operators.dedup import (
        band_signatures, incremental_dedup_report, shingles_col,
    )

    def process(batch, batch_id: int) -> None:
        b = (batch.withColumn("chash", F.md5(F.concat_ws(" ", words_col())))
             .withColumn("keep", is_canonical())
             .filter("keep").select("doc_id", "text"))
        sp = batch.sparkSession
        bands = sp.read.parquet(f"{index_dir}/bands").drop("batch")
        shingles = sp.read.parquet(f"{index_dir}/shingles").drop("batch")
        rep = incremental_dedup_report(b, bands, shingles)
        kept = (b.join(rep.filter(F.col("n_dups") == 0)
                       .select("doc_id"), "doc_id"))
        kept.write.mode("overwrite").parquet(
            f"{output_dir}/batch={batch_id}")
        band_signatures(kept).write.mode("overwrite").parquet(
            f"{index_dir}/bands/batch={batch_id}")
        (kept.select("doc_id", shingles_col().alias("sh"))
         .write.mode("overwrite").parquet(
             f"{index_dir}/shingles/batch={batch_id}"))

    sdf = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    drain(sdf.writeStream.foreachBatch(process), checkpoint_dir)


def stream_dsir_select(spark: SparkSession, input_dir: str,
                       model_dir: str, output_dir: str,
                       checkpoint_dir: str,
                       min_micro_per_gram: int = 0) -> None:
    """Streaming domain-targeted selection against a PERSISTED DSIR
    model (:func:`...operators.curation.build_dsir_model`) — the
    crawl-ingestion shape of importance-resampling data selection:
    each micro-batch of new documents scores against the stored
    per-bucket ratio table (one broadcast join; the training corpus is
    never touched) and docs whose per-gram importance weight clears
    ``min_micro_per_gram`` micro-nats append to the curated output with
    their scores attached.

    The keep test is exact integer arithmetic
    (``s_micro >= min_micro_per_gram * n_grams``) — no float threshold
    can drift between a batch calibration run and the stream.
    Idempotence: each micro-batch OVERWRITES its own ``batch=<id>``
    subdirectory (the same retry discipline as
    :func:`stream_incremental_neardup`)."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        score_dsir_batch,
    )

    def process(batch, batch_id: int) -> None:
        sp = batch.sparkSession
        scored = score_dsir_batch(sp, batch, model_dir)
        kept = (batch.join(scored, "doc_id")
                .filter(F.col("s_micro")
                        >= F.lit(int(min_micro_per_gram))
                        * F.col("n_grams")))
        kept.write.mode("overwrite").parquet(
            f"{output_dir}/batch={batch_id}")

    sdf = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    drain(sdf.writeStream.foreachBatch(process), checkpoint_dir)


def stream_chunk_clean(spark: SparkSession, input_dir: str,
                       index_dir: str, output_dir: str,
                       checkpoint_dir: str, width: int | None = None) -> None:
    """Streaming CHUNK-level dedup against a persisted chunk-hash index
    — the sub-document twin of :func:`stream_incremental_neardup`
    (doc-grain covers crawl re-posts; this catches boilerplate and
    quoted passages re-appearing INSIDE otherwise-new documents): each
    micro-batch is chunk-cleaned with the same keep-first rule as the
    batch ``chunk_clean_frame``, except a chunk whose hash is already
    in the index (seen in any earlier batch) is removed regardless of
    position, and the batch's NEW first-instance hashes commit to the
    index as ``batch=<id>`` — so later batches cannot re-introduce text
    any earlier batch already carries.

    Parity: when doc_ids are globally ordered by arrival (batch k's ids
    below batch k+1's — the crawl-increment invariant), the union of
    the streamed batches' outputs is COLUMN-IDENTICAL
    (doc_id, n_chunks, n_kept, clean_text) to ONE batch
    ``chunk_clean_frame`` over the concatenated corpus (tested): the
    index plays the role of the global keep-first window's earlier
    rows.

    Idempotence: output and index writes OVERWRITE their own
    ``batch=<id>`` directory, and the seen-set read EXCLUDES the
    current batch id — a micro-batch retried after a mid-write crash
    recomputes the same result instead of suppressing its own
    half-committed hashes.

    At scale: per micro-batch, one linear explode + ONE chash-keyed
    join against the index (shuffle on the hash key; the index side is
    never collected or broadcast-mandated) + the batch operator's
    window/groupBy — no corpus self-join, state lives entirely in the
    partitioned parquet index."""
    from pyspark.errors import AnalysisException

    from atr_adaptive_laguerre_spark.operators.dedup import (
        CHUNK_W, chunk_clean_frame, chunk_new_hashes,
    )

    w = CHUNK_W if width is None else width

    def process(batch, batch_id: int) -> None:
        sp = batch.sparkSession
        try:
            seen = (sp.read.parquet(index_dir)
                    .filter(F.col("batch").cast("string")
                            != str(batch_id))
                    .select("chash"))
        except AnalysisException:
            seen = sp.createDataFrame([], "chash string")
        chunk_clean_frame(batch, width=w, seen=seen) \
            .write.mode("overwrite").parquet(
                f"{output_dir}/batch={batch_id}")
        chunk_new_hashes(batch, width=w, seen=seen) \
            .write.mode("overwrite").parquet(
                f"{index_dir}/batch={batch_id}")

    sdf = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    drain(sdf.writeStream.foreachBatch(process), checkpoint_dir)


SAMPLE_DOC_SCHEMA = "doc_id long, source string, n_chars long"
SAMPLE_OUT_SCHEMA = "doc_id long, source string, n_chars long, key_q long"


def stream_sample_weighted(spark: SparkSession, input_dir: str,
                           sample_dir: str, checkpoint_dir: str,
                           n: int | None = None) -> None:
    """Streaming weighted reservoir: maintain the EXACT
    Efraimidis-Spirakis top-``n`` priority sample as document shards
    arrive.  Each micro-batch computes its docs' deterministic priority
    keys (:func:`...operators.curation.priority_keys`), takes the
    batch-local top-``n``, merges it with the persisted current sample,
    and overwrites the sample with the merged top-``n``.

    Exactness: top-n(all docs so far) = top-n(top-n(earlier) ∪
    top-n(batch)) — the reservoir-merge property of priority sampling
    (any doc outside its own batch's top-n is beaten by n docs that
    ARE carried forward), so the streamed sample is row-identical to
    the batch ``corpus_sample_weighted`` over the concatenated corpus
    (tested).  Retries are idempotent for the same reason: re-merging
    docs already in the sample changes nothing (doc_id-level dedup on
    merge guards the equal-key edge).

    Scale shape: per micro-batch ONE TakeOrderedAndProject over the
    batch; the carried state is the n-row sample itself — O(n) driver
    bookkeeping, independent of corpus size (the same bounded-driver
    adjudication as the nprobe cell lists)."""
    from pyspark.errors import AnalysisException

    from atr_adaptive_laguerre_spark.operators.curation import (
        WEIGHTED_SAMPLE_N, priority_keys,
    )

    k = WEIGHTED_SAMPLE_N if n is None else n

    def read_reservoir(sp):
        """Current sample, falling back to the pre-swap snapshot if a
        crash left the primary path missing (see swap below)."""
        try:
            return sp.read.parquet(sample_dir).collect()
        except AnalysisException:
            try:
                return sp.read.parquet(sample_dir + ".old").collect()
            except AnalysisException:
                return []

    def process(batch, batch_id: int) -> None:
        sp = batch.sparkSession
        cand = (priority_keys(batch)
                .orderBy(F.col("key_q").desc(), F.col("doc_id").asc())
                .limit(k).collect())
        cur = read_reservoir(sp)
        best: dict[int, tuple] = {}
        for r in list(cur) + list(cand):
            best[r["doc_id"]] = (r["doc_id"], r["source"],
                                 r["n_chars"], r["key_q"])
        merged = sorted(best.values(), key=lambda t: (-t[3], t[0]))[:k]
        # Crash-safe swap (ADVICE r5): a bare mode("overwrite") on
        # sample_dir deletes the old sample before the new one commits,
        # and the streaming checkpoint never replays committed batches —
        # a crash mid-write would lose the accumulated reservoir
        # unrecoverably.  Instead: write to a temp dir, rename the live
        # dir aside, rename temp in, drop the old.  Every crash window
        # leaves the pre-batch state readable (live path or ".old"
        # fallback above), and a batch retry re-merges idempotently.
        # (Rename is atomic on local FS / HDFS; object stores should
        # swap a manifest pointer instead — same pattern as
        # engine/manifest.py.)
        tmp_dir = f"{sample_dir}.tmp-{batch_id}"
        (sp.createDataFrame(merged, SAMPLE_OUT_SCHEMA)
         .coalesce(1).write.mode("overwrite").parquet(tmp_dir))
        jvm = sp._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        fs = hpath(sample_dir).getFileSystem(
            sp._jsc.hadoopConfiguration())
        live, old, tmp = hpath(sample_dir), hpath(sample_dir + ".old"), \
            hpath(tmp_dir)
        if fs.exists(old):
            fs.delete(old, True)
        if fs.exists(live):
            fs.rename(live, old)
        fs.rename(tmp, live)
        fs.delete(old, True)

    sdf = spark.readStream.schema(SAMPLE_DOC_SCHEMA).parquet(input_dir)
    drain(sdf.writeStream.foreachBatch(process), checkpoint_dir)
