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

#: the per-entity core recurrence state every stepper carries, in
#: checkpoint order, as (name, Spark type)
CORE_STATE = (
    ("prev_close", "double"), ("seen", "int"), ("tr_buf", "array<double>"),
    ("buf_head", "int"), ("buf_len", "int"), ("tr_sum", "double"),
    ("l0", "double"), ("l1", "double"), ("l2", "double"), ("l3", "double"))
#: the replay guard's high-water mark, kept beside each stepper's state
LAST_OFFSET = ("last_offset", "long")


def ddl(fields, prefix: str = "") -> str:
    """Spark DDL for ``(name, type)`` fields, each name ``prefix``-ed."""
    return ", ".join(f"{prefix}{name} {typ}" for name, typ in fields)


STATE_SCHEMA = ddl([*CORE_STATE, LAST_OFFSET])


def new_core_state(p: int) -> dict:
    """Fresh per-entity core recurrence state (shared by all stateful
    surfaces — one definition of the zero-state)."""
    return {"prev_close": 0.0, "seen": 0, "tr_buf": [0.0] * p,
            "buf_head": 0, "buf_len": 0, "tr_sum": 0.0,
            "l0": 0.0, "l1": 0.0, "l2": 0.0, "l3": 0.0}


def unpack_core_state(tup, p: int) -> dict:
    """Restore the :data:`CORE_STATE` fields that lead a checkpointed
    state tuple; the ring-buffer length must match the config's
    atr_period (a mismatched cfg would silently corrupt the recurrence)."""
    st = {name: v for (name, _), v in zip(CORE_STATE, tup)}
    st["tr_buf"] = list(st["tr_buf"])
    if len(st["tr_buf"]) != p:
        raise ValueError(
            f"checkpointed tr_buf has length {len(st['tr_buf'])} but config "
            f"atr_period={p}; state was written by a different config")
    return st


def pack_core_state(st: dict) -> tuple:
    """The :data:`CORE_STATE` fields of ``st``, in checkpoint order."""
    return tuple(st[name] for name, _ in CORE_STATE)


def new_bars(pdf_iter, last_offset: int) -> pd.DataFrame | None:
    """A group's not-yet-seen bars of this micro-batch in offset order,
    or None when there are none: the replay guard shared by every
    stateful update fn.

    All of the group's Arrow chunks are concatenated before ordering:
    chunk arrival order is not offset-ordered (a group spanning several
    input files or >1 Arrow batch can deliver a later chunk with earlier
    offsets), so per-chunk ``offset > last_offset`` filtering would
    misclassify out-of-order arrivals as replays and silently drop
    interior bars.  The sort is stable, so the first arrival wins among
    duplicate offsets; offsets already processed are dropped."""
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return None
    pdf = (chunks[0] if len(chunks) == 1
           else pd.concat(chunks, ignore_index=True))
    pdf = pdf.sort_values("offset", kind="stable")
    offs = pdf["offset"].to_numpy(dtype=np.int64)
    keep = offs > last_offset
    keep[1:] &= offs[1:] > offs[:-1]
    return pdf[keep] if keep.any() else None


def drain(writer, checkpoint_dir: str, once: bool = False) -> None:
    """Start ``writer`` (a ``DataStreamWriter``) checkpointed in
    ``checkpoint_dir``, process everything available, and return once it
    is done.  ``once`` triggers ONE micro-batch instead of availableNow:
    a ProcessingTimeTimeout stream never terminates under availableNow
    (armed timeouts keep scheduling micro-batches), while trigger-once
    processes everything available in one batch, firing timeouts that
    expired since the previous invocation, then stops."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    writer = (writer.trigger(once=True) if once
              else writer.trigger(availableNow=True))
    writer.start().awaitTermination()


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
            last_offset = tup[-1]
        else:
            st = new_core_state(p)
            last_offset = -1

        pdf = new_bars(pdf_iter, last_offset)
        if pdf is not None:
            offs = pdf["offset"].to_numpy(dtype=np.int64)
            out = core_loop_resumed(
                pdf["high"].to_numpy(dtype=np.float64),
                pdf["low"].to_numpy(dtype=np.float64),
                pdf["close"].to_numpy(dtype=np.float64), st, p, off)
            last_offset = int(offs[-1])
            yield pd.DataFrame({"source": source, "doc_id": doc_id,
                                "offset": offs, **out})

        state.update((*pack_core_state(st), int(last_offset)))
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
    drain(out.writeStream.format("parquet").option("path", output_dir),
          checkpoint_dir, once=ttl_ms is not None)


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
    drain(out.writeStream.format("parquet").outputMode("append")
          .option("path", output_dir), checkpoint_dir)
