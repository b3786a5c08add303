"""Streaming maintenance of the persisted semantic (IVF) index —
the ``add()`` half of the FAISS index lifecycle as a continuous
pipeline.

`build_semantic_index` (operators/similarity.py) trains the Lloyd
codebook once and persists cell-partitioned inverted lists; this module
keeps that index CURRENT as new vectors arrive: each micro-batch is
assigned to its nearest trained cell (one broadcast join against the
O(cells x dim) codebook — the codebook is NOT retrained, exactly FAISS
``IndexIVF.add`` semantics) and appended to the inverted lists under its
own ``batch=<id>`` directory.  Every consumer that reads the index
(`ann_ivf_from_index`, `knn_graph_from_index`, `kmeans_from_index`,
`dedup_semantic_from_index`) sees the grown corpus transparently.

Idempotence: each micro-batch OVERWRITES its own
``asgn_inc/batch=<id>`` subtree, so a batch retried after a crash
rewrites the same paths instead of duplicating vectors — the same
dynamic-partition-overwrite discipline as the manifest waves and the
streaming near-dup index.

Scale shape: per micro-batch, one codebook broadcast join + one
cell-partitioned write of ONLY the batch's vectors; the standing
corpus is never rewritten.  Codebook drift (enough new mass that the
trained cells stop being tight) is a periodic re-BUILD, not a streaming
concern — the standard IVF operating model.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from atr_adaptive_laguerre_spark.streaming.stateful import drain

#: vectors arriving on a stream
VEC_SCHEMA = "vec_id long, embedding array<float>"


def stream_semantic_index_append(spark: SparkSession, input_dir: str,
                                 index_dir: str,
                                 checkpoint_dir: str) -> None:
    """File-source stream of ``(vec_id, embedding)`` -> nearest-cell
    assignment under the PERSISTED codebook -> cell-partitioned append
    to the index's incremental inverted lists."""
    from atr_adaptive_laguerre_spark.operators.similarity import (
        _assign_cells, _norm,
    )

    def process(batch, batch_id: int) -> None:
        sp = batch.sparkSession
        cent = sp.read.parquet(f"{index_dir}/cells")
        e = (batch.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"))
            .withColumn("nrm", _norm(F.col("v"))))
        (_assign_cells(e, cent)
         .write.mode("overwrite").partitionBy("cell")
         .parquet(f"{index_dir}/asgn_inc/batch={batch_id}"))

    sdf = spark.readStream.schema(VEC_SCHEMA).parquet(input_dir)
    drain(sdf.writeStream.foreachBatch(process), checkpoint_dir)
