"""Stateful streaming: O(1)-per-bar incremental ATR-Adaptive Laguerre RSI.

Streaming re-expression of the reference's ``update()`` path
(``/root/reference/src/atr_adaptive_laguerre/features/atr_adaptive_rsi.py:
542-672``): per-entity state = {prev_close, first_bar, TR ring buffer,
tr_sum, L0..L3}, advanced over each micro-batch, emitting rsi (+ the
intermediates, the ``update_full`` variant).

Spark mapping: ``applyInPandasWithState`` keyed by (source, doc_id);
state lives in the streaming state store, so a restart from checkpoint
resumes mid-entity with bit-identical results (tested).  Rows within and
across micro-batches are applied in ``offset`` order; already-seen
offsets are dropped (idempotent replay guard — the streaming analogue of
the reference's monotonic-input invariant).

The state is advanced by ``kernel.batched.core_loop_resumed``: the batch
kernel's own stages, started from the carried state, so streaming output
== batch output exactly.  This module holds no recurrence math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from atr_adaptive_laguerre_spark.config import FeatureConfig

OUTPUT_SCHEMA = ("source string, doc_id string, offset long, "
                 "rsi double, adaptive_coeff double, gamma double, "
                 "L0 double, L1 double, L2 double, L3 double, "
                 "min_atr double, max_atr double, atr double")

STATE_SCHEMA = ("prev_close double, seen int, tr_buf array<double>, "
                "buf_head int, buf_len int, tr_sum double, "
                "l0 double, l1 double, l2 double, l3 double, "
                "last_offset long")


def filter_new_bars(pdf, last_offset: int):
    """Chronological replay guard shared by every stateful update fn:
    sort by offset (stable — first arrival wins among duplicates), drop
    offsets already processed and within-batch duplicates."""
    pdf = pdf.sort_values("offset", kind="stable")
    offs_all = pdf["offset"].to_numpy(dtype=np.int64)
    keep = offs_all > last_offset
    if len(offs_all) > 1:
        keep[1:] &= offs_all[1:] > offs_all[:-1]
    if not keep.all():
        pdf = pdf[keep]
    return pdf


def new_core_state(p: int) -> dict:
    """Fresh per-entity core recurrence state (shared by all stateful
    surfaces — one definition of the zero-state)."""
    return {"prev_close": 0.0, "seen": 0, "tr_buf": [0.0] * p,
            "buf_head": 0, "buf_len": 0, "tr_sum": 0.0,
            "l0": 0.0, "l1": 0.0, "l2": 0.0, "l3": 0.0}


def unpack_core_state(tup, p: int) -> dict:
    """Restore the 10 core fields from a checkpointed state tuple; the
    ring-buffer length must match the config's atr_period (a mismatched
    cfg would silently corrupt the recurrence)."""
    (prev_close, seen, tr_buf, buf_head, buf_len, tr_sum,
     l0, l1, l2, l3) = tup[:10]
    if len(tr_buf) != p:
        raise ValueError(
            f"checkpointed tr_buf has length {len(tr_buf)} but config "
            f"atr_period={p}; state was written by a different config")
    return {"prev_close": prev_close, "seen": seen, "tr_buf": list(tr_buf),
            "buf_head": buf_head, "buf_len": buf_len, "tr_sum": tr_sum,
            "l0": l0, "l1": l1, "l2": l2, "l3": l3}


def gather_group_chunks(pdf_iter):
    """Concatenate ALL of a group's Arrow chunks for this micro-batch
    before ordering.  Chunk arrival order is not offset-ordered across
    chunks (a group spanning several input files or >1 Arrow batch can
    deliver a later chunk with earlier offsets), so per-chunk
    ``offset > last_offset`` filtering would misclassify out-of-order
    arrivals as replays and silently drop interior bars.  Returns a
    one-element list (or empty) so callers keep their loop shape."""
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return []
    if len(chunks) == 1:
        return [chunks[0]]
    return [pd.concat(chunks, ignore_index=True)]


def make_update_fn(cfg: FeatureConfig, ttl_ms: int | None = None):
    """Build the applyInPandasWithState function.

    With ``ttl_ms``, idle entities are evicted (S3): each invocation arms
    a processing-time timeout; when it fires (a later micro-batch runs
    after the duration with no data for the key), the state is removed,
    and the entity re-initializes from scratch on its next bar — the
    streaming analogue of the reference's ``reset()``
    (``core/atr.py:95-101``, ``features/atr_adaptive_rsi.py:674-690``).

    Each group's micro-batch is processed *vectorized* by the batched
    kernel's resume-from-state entry point
    (``kernel.batched.core_loop_resumed``), which runs the batch stages
    from the carried state — bit-identical to the batch kernel over the
    whole series (tested).
    """
    from atr_adaptive_laguerre_spark.kernel.batched import core_loop_resumed

    p = cfg.atr_period
    off = cfg.adaptive_offset

    def fn(key, pdf_iter, state):
        source, doc_id = key
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()          # S3 eviction: idle entity forgotten
            return
        if state.exists:
            tup = state.get
            st = unpack_core_state(tup, p)
            last_offset = tup[10]
        else:
            st = new_core_state(p)
            last_offset = -1

        for pdf in gather_group_chunks(pdf_iter):
            pdf = filter_new_bars(pdf, last_offset)
            if len(pdf) == 0:
                continue
            offs = pdf["offset"].to_numpy(dtype=np.int64)
            out = core_loop_resumed(
                pdf["high"].to_numpy(dtype=np.float64),
                pdf["low"].to_numpy(dtype=np.float64),
                pdf["close"].to_numpy(dtype=np.float64), st, p, off)
            last_offset = int(offs[-1])
            yield pd.DataFrame({"source": source, "doc_id": doc_id,
                                "offset": offs, **out})

        state.update((st["prev_close"], st["seen"], st["tr_buf"],
                      st["buf_head"], st["buf_len"], st["tr_sum"],
                      st["l0"], st["l1"], st["l2"], st["l3"],
                      int(last_offset)))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return fn


INPUT_SCHEMA = ("source string, doc_id string, offset long, "
                "high double, low double, close double")


def stream_rsi(spark, input_dir: str, output_dir: str,
               checkpoint_dir: str, cfg: FeatureConfig | None = None,
               ttl_ms: int | None = None) -> None:
    """One availableNow micro-batch pass over the file stream: reads new
    files from ``input_dir``, advances per-entity state (restored from
    ``checkpoint_dir``), appends results to ``output_dir``.  Call again
    after new files arrive — state carries over."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cfg = cfg or FeatureConfig()
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    sdf = (spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir))
    out = (sdf.groupBy("source", "doc_id")
           .applyInPandasWithState(
               make_update_fn(cfg, ttl_ms), OUTPUT_SCHEMA, STATE_SCHEMA,
               "append", timeout))
    w = (out.writeStream.format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir))
    if ttl_ms is not None:
        # ProcessingTimeTimeout + availableNow never terminates (armed
        # timeouts keep scheduling micro-batches); trigger-once processes
        # everything available in ONE batch, firing timeouts that expired
        # since the previous invocation, then stops.
        w = w.trigger(once=True)
    else:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()


TS_INPUT_SCHEMA = ("source string, doc_id string, ts timestamp, "
                   "close double")


def stream_windowed_stats(spark, input_dir: str, output_dir: str,
                          checkpoint_dir: str,
                          watermark: str = "1 minute",
                          window: str = "5 minutes") -> None:
    """Event-time tumbling-window aggregation with a watermark (S5):
    bars later than ``watermark`` behind the stream's max event time are
    DROPPED, and a window is emitted (append mode) only once the
    watermark passes its end — Structured Streaming's late-data
    semantics, the streaming twin of the batch resample (R1) with the
    strict availability discipline (A2) enforced by the engine.
    """
    from pyspark.sql import functions as F

    sdf = spark.readStream.schema(TS_INPUT_SCHEMA).parquet(input_dir)
    out = (sdf.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), "source")
           .agg(F.count(F.lit(1)).alias("n_bars"),
                F.avg("close").alias("avg_close"),
                F.max("close").alias("max_close"))
           .select(F.col("w.start").alias("w_start"),
                   F.col("w.end").alias("w_end"),
                   "source", "n_bars", "avg_close", "max_close"))
    q = (out.writeStream.format("parquet")
         .outputMode("append")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

