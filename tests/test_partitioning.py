"""Salted entity partitioning and skew handling invariants."""

import numpy as np
from pyspark.sql import functions as F

from atr_adaptive_laguerre_spark.engine.partitioning import (
    repartition_by_entity, salted_entity_key, split_oversized,
)


def test_entities_never_split_across_partitions(spark, corpus_parquet):
    doc = spark.read.parquet(corpus_parquet)
    long_df = doc.select("source", "doc_id",
                         F.posexplode("tokens").alias("offset", "token"))
    parted = repartition_by_entity(long_df, 7)
    pid = parted.withColumn("pid", F.spark_partition_id())
    per_entity = (pid.groupBy("source", "doc_id")
                  .agg(F.countDistinct("pid").alias("n_pids")))
    assert per_entity.agg(F.max("n_pids")).collect()[0][0] == 1


def test_salting_decorrelates_lexicographic_ranges(spark, corpus_parquet):
    """Without salting, range partitioning on (source, doc_id) puts each
    source's docs in contiguous ranges; the hash-mixed key spreads every
    source across partitions."""
    doc = spark.read.parquet(corpus_parquet)
    parted = repartition_by_entity(doc, 6)
    spread = (parted.withColumn("pid", F.spark_partition_id())
              .groupBy("source")
              .agg(F.countDistinct("pid").alias("n_pids"))
              .agg(F.min("n_pids")).collect()[0][0])
    assert spread >= 3, f"source confined to too few partitions: {spread}"


def test_salted_key_deterministic(spark, corpus_parquet):
    doc = spark.read.parquet(corpus_parquet)
    k1 = salted_entity_key(doc).select("doc_id", "_ekey").toPandas()
    k2 = salted_entity_key(doc).select("doc_id", "_ekey").toPandas()
    m = k1.merge(k2, on="doc_id", suffixes=("_a", "_b"))
    np.testing.assert_array_equal(m["_ekey_a"].to_numpy(),
                                  m["_ekey_b"].to_numpy())


def test_split_oversized_tiers(spark, corpus_parquet):
    doc = spark.read.parquet(corpus_parquet)
    normal, oversized = split_oversized(doc, oversize_threshold=800)
    n_all = doc.count()
    n_norm = normal.count()
    n_big = oversized.count()
    assert n_norm + n_big == n_all
    assert n_big > 0  # the corpus's heavy tail exists
    assert oversized.agg(F.min("n_tok")).collect()[0][0] > 800
    assert normal.agg(F.max("n_tok")).collect()[0][0] <= 800


def test_tiered_repartition_isolates_giants(spark):
    """tiered_repartition gives every oversized doc a SINGLETON
    partition (no giant shares a task with anything) while the normal
    tier spreads over the requested partitions; with no giants it
    degrades to a plain round-robin."""
    import pandas as pd

    from atr_adaptive_laguerre_spark.engine.partitioning import (
        tiered_repartition,
    )

    rows = [("s0", f"d{i}", list(range(50)), 50) for i in range(200)]
    rows += [("s0", f"g{i}", list(range(5000)), 5000) for i in range(3)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "doc_id", "tokens", "n_tok"]))
    tiered = tiered_repartition(df, 8, oversize_threshold=1000)
    pid = (tiered.select("doc_id", "n_tok",
                         F.spark_partition_id().alias("pid"))
           .toPandas())
    assert len(pid) == 203                   # nothing lost
    giant_pids = pid[pid["n_tok"] > 1000]["pid"]
    per_pid = pid.groupby("pid").size()
    for p in giant_pids:
        assert per_pid[p] == 1, (p, per_pid[p])   # giants are alone
    assert giant_pids.nunique() == 3              # and never share

    no_giants = tiered_repartition(df.filter(F.col("n_tok") <= 1000),
                                   8, oversize_threshold=1000)
    assert no_giants.rdd.getNumPartitions() == 8


def test_work_balance_by_bytes(spark, corpus_parquet):
    """Under salted range partitioning of doc-grain rows, per-partition
    token mass (∝ kernel work) stays within a sane skew factor."""
    doc = spark.read.parquet(corpus_parquet)
    parted = repartition_by_entity(doc, 4)
    loads = (parted.withColumn("pid", F.spark_partition_id())
             .groupBy("pid").agg(F.sum("n_tok").alias("w"))
             .toPandas()["w"].to_numpy())
    assert len(loads) == 4
    assert loads.max() / max(loads.mean(), 1) < 2.5, loads
