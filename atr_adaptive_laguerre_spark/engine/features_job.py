"""Feature-extraction jobs: doc-grain token table -> per-step features.

Every job is one ``mapInArrow`` over doc-grain input (the ``input_hint``
shape: one row per entity holding its whole ``tokens`` array).  Each
entity arrives complete in one row, so the sequential recurrence runs
without any exchange; parallelism and load balance come from Parquet
file splits (bytes ∝ tokens ∝ kernel work).  Token values are read
straight from the Arrow list buffers (:func:`_arrow_doc_chunks`), and
each output column is a fresh gather of the kernel's workspace slab
that the emitted Arrow batch wraps zero-copy and then owns.

Each job's function is a plain generator: compute a chunk, yield its
batch, compute the next.  No yielded batch shares a buffer with a later
chunk, so batches stay valid however long the consumer holds them
(pinned by a many-chunk test).

* :func:`features_long` (43 / 169 / 121 feature columns) and
  :func:`core_features_long` (the 10 core outputs) emit long form, one
  row per (entity, offset), through one shared chunk loop
  (:func:`_long_form_job`).
* :func:`features_doc` emits doc grain (one row per entity, features as
  arrays); :func:`features_checksum` emits per-chunk integrity sums.

Long-form output declares ``offset``, ``token`` and every feature column
NOT NULL, in the Spark schema and in the Arrow schema of each emitted
batch: Spark's row projection then skips the per-value null test, and a
stray null still fails the task (Arrow's null-checked ``get``) instead
of being written.  ``source`` and ``doc_id`` pass through nullable.

Every job calls the same lockstep kernel
(:mod:`atr_adaptive_laguerre_spark.kernel.batched`) through the same
chunker, so their outputs are bit-identical to each other and to the
local oracle.

Reference lifecycle being re-expressed: ``fit_transform`` ->
``_compute_core_loop`` (``/root/reference/src/atr_adaptive_laguerre/features/
atr_adaptive_rsi.py:300-453``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import tokens_to_ohlcv_batched
from atr_adaptive_laguerre_spark.kernel.batched import core_loop_batched
from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
    _flat_explode_idx,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import CORE_OUTPUTS

#: cap on padded cells (docs x max_len) per kernel invocation; bounds the
#: Python worker's peak memory independent of Arrow batch sizing.
CELL_BUDGET = 262_144


def _long_schema(value_cols) -> StructType:
    """Long-form output schema: nullable pass-through keys, then NOT NULL
    ``offset``, ``token`` and ``value_cols`` doubles (see the module
    docstring; :func:`_long_batch` emits the matching Arrow schema)."""
    return StructType(
        [StructField("source", StringType()),
         StructField("doc_id", StringType()),
         StructField("offset", IntegerType(), nullable=False),
         StructField("token", IntegerType(), nullable=False)]
        + [StructField(c, DoubleType(), nullable=False) for c in value_cols])


CORE_LONG_SCHEMA = _long_schema(CORE_OUTPUTS)


def _length_chunks(lengths: np.ndarray, cell_budget: int) -> Iterator[np.ndarray]:
    """Yield index chunks, sorted by length (padding-efficient), where each
    chunk's padded size len(chunk) * max_len stays under the budget and the
    in-chunk length spread stays tight (padding efficiency >= ~0.75).

    Zero-length sequences are skipped entirely — an empty doc has no
    feature rows in long form by definition, and letting one into a
    chunk can produce a (B, 0) matrix that the kernel cannot index
    (tested: empty docs crash without this filter).  Every kernel entry
    point chunks through here, so this is the single choke point."""
    order = np.argsort(lengths, kind="stable")
    order = order[lengths[order] > 0]
    start = 0
    while start < len(order):
        max_len = 0
        first_len = max(1, int(lengths[order[start]]))
        end = start
        while end < len(order):
            cand = max(max_len, int(lengths[order[end]]))
            too_big = (end - start + 1) * cand > cell_budget
            too_ragged = cand > first_len * 4 / 3 and end - start >= 32
            if (too_big or too_ragged) and end > start:
                break
            max_len = cand
            end += 1
        yield order[start:end]
        start = end


def _chunk_feature_cols(mat, lens, cfg: FeatureConfig):
    """OHLCV derivation + kernel dispatch for one padded chunk — the ONE
    definition the feature jobs (long/doc/checksum) share, so
    availability gating and kernel dispatch cannot drift between them."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        tokens_to_availability_batched,
    )
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long, single_interval_long,
    )

    high, low, close = tokens_to_ohlcv_batched(mat)
    if cfg.is_multi_interval:
        avail = (tokens_to_availability_batched(mat)
                 if cfg.availability else None)
        return multi_interval_long(high, low, close, lens, cfg, avail=avail)
    return single_interval_long(high, low, close, lens, cfg)


def core_features_long(doc_df: DataFrame,
                       cfg: FeatureConfig | None = None,
                       num_partitions: int | None = None) -> DataFrame:
    """Doc-grain input -> long-form (entity x offset) core features.

    Zero-shuffle by default: ``mapInArrow`` over the scan output, with
    parallelism from Parquet file splits (bytes ∝ tokens ∝ work).  Pass
    ``num_partitions`` to force a round-robin repartition first — useful
    when the input is a few small files (e.g. local benches) whose splits
    underuse the cluster; at real scale leave it unset.

    Physical path is :func:`features_long`'s chunk loop: tokens are read
    straight from the Arrow list buffers, each kernel output is gathered
    into a fresh array that its Arrow batch wraps zero-copy — no pandas
    block consolidation on either side of the boundary.  Values are the
    ``core_loop_batched`` outputs bit for bit (tested against the loop
    oracle).
    """
    cfg = cfg or FeatureConfig()

    def core_cols(mat, lens, fe):
        high, low, close = tokens_to_ohlcv_batched(mat)
        out = core_loop_batched(high, low, close, cfg.atr_period,
                                cfg.adaptive_offset, copy_out=False)
        return {k: out[k].ravel()[fe] for k in CORE_OUTPUTS}

    return _long_form_job(doc_df, core_cols, CORE_OUTPUTS, num_partitions)


def feature_columns_for(cfg: FeatureConfig) -> list[str]:
    """Output feature columns for a config (43 / 169 / 121)."""
    from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
    from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
        multi_interval_columns,
    )

    if cfg.is_multi_interval:
        return multi_interval_columns(cfg.filter_redundancy)
    return list(FEATURE_COLUMNS)


def features_long_schema(cfg: FeatureConfig) -> StructType:
    return _long_schema(feature_columns_for(cfg))


def _projected_columns(cfg: FeatureConfig,
                       columns: list[str] | None) -> list[str]:
    """The config's feature columns, narrowed to ``columns`` (in the
    config's order) when given; an unknown name raises ``ValueError``."""
    feat_cols = feature_columns_for(cfg)
    if columns is None:
        return feat_cols
    unknown = sorted(set(columns) - set(feat_cols))
    if unknown:
        raise ValueError(f"unknown feature columns: {unknown}")
    return [c for c in feat_cols if c in set(columns)]


def _long_batch(src_col, did_col, idx, lens, chunk_flat, cols, value_cols):
    """One long-form RecordBatch for a kernel chunk: the doc keys repeated
    per token, the offsets, the tokens passed through, then ``cols[c]``
    for each of ``value_cols`` wrapped zero-copy.  Its Arrow schema
    carries the same nullability as :func:`_long_schema`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rep = pa.array(np.repeat(idx.astype(np.int64), lens))
    arrays = [
        pc.take(src_col, rep),
        pc.take(did_col, rep),
        pa.array(_flat_explode_idx(lens, 0).astype(np.int32)),
        pa.array(chunk_flat.astype(np.int32, copy=False)),
    ]
    arrays += [pa.array(cols[c]) for c in value_cols]
    schema = pa.schema(
        [pa.field("source", src_col.type), pa.field("doc_id", did_col.type),
         pa.field("offset", pa.int32(), nullable=False),
         pa.field("token", pa.int32(), nullable=False)]
        + [pa.field(c, pa.float64(), nullable=False) for c in value_cols])
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _arrow_doc_chunks(rb, cell_budget: int = CELL_BUDGET):
    """Parse a doc-grain Arrow RecordBatch and yield padding-efficient
    chunks: (doc_row_idx, chunk_flat_tokens, lengths, padded_int64_matrix,
    flat_idx), where ``flat_idx`` selects the real cells of the matrix.

    Zero pandas involvement: token values come straight out of the Arrow
    list buffer; the padded matrix is one vectorized scatter.
    """
    import pyarrow.compute as pc

    tokens = rb.column(rb.schema.get_field_index("tokens"))
    if tokens.null_count:
        dids = rb.column(rb.schema.get_field_index("doc_id"))
        i = pc.index(pc.is_null(tokens), True).as_py()
        raise ValueError(
            f"null tokens array for doc_id {dids[i].as_py()!r} "
            f"({tokens.null_count} such rows in this batch); "
            f"empty documents must carry [] not NULL")
    lengths = pc.list_value_length(tokens).to_numpy().astype(np.int64)
    flat = tokens.flatten().to_numpy(zero_copy_only=False)
    starts = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    for idx in _length_chunks(lengths, cell_budget):
        lens = lengths[idx]
        t_max = int(lens.max())
        fe = _flat_explode_idx(lens, t_max)
        # doc i's token j sits at fe = i*t_max + j and at starts[idx[i]] + j
        chunk_flat = flat[fe + np.repeat(
            starts[idx] - np.arange(len(idx), dtype=np.int64) * t_max, lens)]
        mat = np.empty((len(idx), t_max), np.int64)
        mat.ravel()[fe] = chunk_flat
        yield idx, chunk_flat, lens, mat, fe


def _long_form_job(doc_df: DataFrame, chunk_cols, value_cols,
                   num_partitions: int | None,
                   cell_budget: int = CELL_BUDGET) -> DataFrame:
    """The long-form ``mapInArrow`` shared by :func:`features_long` and
    :func:`core_features_long`: one batch per kernel chunk, with
    ``chunk_cols(mat, lens, flat_idx)`` returning the chunk's
    ``value_cols`` as fresh 1-D arrays that the batch then owns."""
    if num_partitions:
        doc_df = doc_df.repartition(num_partitions)

    def run(batches):
        for rb in batches:
            src_col = rb.column(rb.schema.get_field_index("source"))
            did_col = rb.column(rb.schema.get_field_index("doc_id"))
            for idx, chunk_flat, lens, mat, fe in _arrow_doc_chunks(
                    rb, cell_budget):
                cols = chunk_cols(mat, lens, fe)
                yield _long_batch(src_col, did_col, idx, lens, chunk_flat,
                                  cols, value_cols)

    return doc_df.mapInArrow(run, schema=_long_schema(value_cols))


def features_long(doc_df: DataFrame, cfg: FeatureConfig | None = None,
                  num_partitions: int | None = None,
                  cell_budget: int = CELL_BUDGET,
                  columns: list[str] | None = None) -> DataFrame:
    """Doc-grain input -> long-form full feature matrix.

    43 columns single-interval; 169/121 multi-interval (resample, align,
    cross-interval interactions, redundancy filter — all inside the one
    Arrow kernel, mirroring the reference's in-process fusion).  Zero
    shuffle unless ``num_partitions`` forces a spread.

    Physical path: ``mapInArrow`` — token values are read straight from
    the Arrow list buffers and every output column is a fresh NumPy
    gather that its Arrow batch wraps zero-copy and owns (no pandas block
    consolidation, which would copy the whole 121-column matrix once
    more).  The task's generator computes a chunk, yields its batch and
    computes the next.

    ``columns`` projects the OUTPUT at the worker: Catalyst cannot push
    a projection through a Python map node, so a downstream select still
    pays Arrow transfer + row conversion for all 121 columns — the
    dominant cost of this job (BENCH/BASELINE.md: the funnel moves
    ~1-2 GB/s while the kernel computes ~3M tokens/s).  Passing the
    needed subset here keeps the kernel fused (it computes everything;
    compute is cheap) but ships only the requested features.
    """
    cfg = cfg or FeatureConfig()
    feat_cols = _projected_columns(cfg, columns)

    def feature_cols(mat, lens, _fe):
        return _chunk_feature_cols(mat, lens, cfg)

    return _long_form_job(doc_df, feature_cols, feat_cols, num_partitions,
                          cell_budget)


def features_doc(doc_df: DataFrame, cfg: FeatureConfig | None = None,
                 num_partitions: int | None = None,
                 columns: list[str] | None = None) -> DataFrame:
    """Doc-grain input -> doc-grain output: one row per entity carrying
    the original ``tokens`` array (bit-exact pass-through) plus each
    feature as an ``array<double>`` aligned to the token positions.

    Same information as :func:`features_long` at ~1/500th the row count:
    the per-row JVM ingest cost (columnar->row conversion, row accounting)
    collapses, which matters when the 121-column matrix is the dominant
    byte stream.  List columns are assembled zero-copy from the kernel's
    freshly gathered 1-D outputs (ListArray.from_arrays over the chunk
    offsets).

    ``columns`` worker-projects the output exactly like
    :func:`features_long` (Catalyst cannot prune through the Python map
    node; the kernel stays fused, only requested features ship).

    Exploding this output on the JVM is no faster route to long form
    when the sink consumes every column.  Measured with all 121 columns
    consumed against :func:`features_long`: ``posexplode("tokens")``
    beside the array columns ran 16x slower (every exploded row re-copies
    every array), and ``posexplode(arrays_zip(...))`` 1.6x slower.
    """
    import pyarrow as pa

    cfg = cfg or FeatureConfig()
    if num_partitions:
        doc_df = doc_df.repartition(num_partitions)
    feat_cols = _projected_columns(cfg, columns)
    schema = ("source string, doc_id string, n_tok int, tokens array<int>, "
              + ", ".join(f"{c} array<double>" for c in feat_cols))

    def run(batches):
        import pyarrow.compute as pc

        for rb in batches:
            src_col = rb.column(rb.schema.get_field_index("source"))
            did_col = rb.column(rb.schema.get_field_index("doc_id"))
            for idx, chunk_flat, lens, mat, _fe in _arrow_doc_chunks(rb):
                cols = _chunk_feature_cols(mat, lens, cfg)
                offs = np.zeros(len(lens) + 1, dtype=np.int32)
                np.cumsum(lens, out=offs[1:])
                pa_offs = pa.array(offs)
                take_idx = pa.array(idx.astype(np.int64))
                arrays = [
                    pc.take(src_col, take_idx),
                    pc.take(did_col, take_idx),
                    pa.array(lens.astype(np.int32)),
                    pa.ListArray.from_arrays(
                        pa_offs,
                        pa.array(chunk_flat.astype(np.int32, copy=False))),
                ]
                arrays += [pa.ListArray.from_arrays(pa_offs, pa.array(cols[c]))
                           for c in feat_cols]
                yield pa.RecordBatch.from_arrays(
                    arrays, ["source", "doc_id", "n_tok", "tokens"]
                    + feat_cols)
            # n_tok==0 entities are skipped by the chunker (no long-form
            # rows) but the doc grain contracts ONE row per entity —
            # emit them with empty arrays
            tok_col = rb.column(rb.schema.get_field_index("tokens"))
            all_lens = pc.list_value_length(tok_col).to_numpy()
            empty = np.flatnonzero(all_lens == 0)
            if len(empty):
                z_offs = pa.array(np.zeros(len(empty) + 1, dtype=np.int32))
                take_idx = pa.array(empty.astype(np.int64))
                arrays = [
                    pc.take(src_col, take_idx),
                    pc.take(did_col, take_idx),
                    pa.array(np.zeros(len(empty), dtype=np.int32)),
                    pa.ListArray.from_arrays(
                        z_offs, pa.array(np.empty(0, dtype=np.int32))),
                ]
                arrays += [pa.ListArray.from_arrays(
                    z_offs, pa.array(np.empty(0, dtype=np.float64)))
                    for _ in feat_cols]
                yield pa.RecordBatch.from_arrays(
                    arrays, ["source", "doc_id", "n_tok", "tokens"]
                    + feat_cols)

    return doc_df.mapInArrow(run, schema=schema)


def features_checksum(doc_df: DataFrame, cfg: FeatureConfig | None = None,
                      num_partitions: int | None = None) -> DataFrame:
    """Compute the full feature matrix and emit per-chunk integrity
    checksums (row count + per-column sums) instead of the vectors —
    the map-side-combined plan for "compute features and verify them".

    Every feature value is materialized in the worker exactly as in
    :func:`features_long`; only ~1 KB per chunk crosses to the JVM, so
    this job's throughput measures the compute fabric rather than the
    single-box byte funnel.

    Sums are ``nansum`` (multi-interval runs emit NaN mult columns for
    docs shorter than the multiplier), so ``agg(sum(...))`` over
    :func:`features_long` equals them only where Spark's NaN-propagating
    sum sees no NaN; the ``n_nan`` column carries the per-chunk NaN count
    across all feature columns so NaN corruption cannot pass unnoticed —
    ``agg(sum(n_nan))`` must equal the isnan-count over
    :func:`features_long` (tested on a corpus with short docs).
    """
    import pyarrow as pa

    cfg = cfg or FeatureConfig()
    if num_partitions:
        doc_df = doc_df.repartition(num_partitions)
    feat_cols = feature_columns_for(cfg)
    schema = ("n_rows long, n_nan long, " +
              ", ".join(f"{c}_sum double" for c in feat_cols))

    def run(batches):
        for rb in batches:
            for idx, chunk_flat, lens, mat, _fe in _arrow_doc_chunks(rb):
                cols = _chunk_feature_cols(mat, lens, cfg)
                n_nan = sum(int(np.isnan(cols[c]).sum())
                            for c in feat_cols)
                arrays = [pa.array([int(lens.sum())], pa.int64()),
                          pa.array([n_nan], pa.int64())]
                arrays += [pa.array([float(np.nansum(cols[c]))])
                           for c in feat_cols]
                yield pa.RecordBatch.from_arrays(
                    arrays,
                    ["n_rows", "n_nan"] + [f"{c}_sum" for c in feat_cols])

    return doc_df.mapInArrow(run, schema=schema)
