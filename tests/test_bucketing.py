"""Bucketed co-located joins: the one-time bucketed write must buy
shuffle-free joins and aggregations on the bucket key afterwards."""

import pytest
from conftest import SF_DIR as SF
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_tables(spark):
    from atr_adaptive_laguerre_spark.engine.bucketing import write_bucketed

    ev = spark.read.parquet(f"{SF}/events.parquet") \
        .select("user_id", "ts", "value")
    orders = spark.read.parquet(f"{SF}/orders.parquet") \
        .select(F.col("o_custkey").alias("user_id"), "o_totalprice")
    write_bucketed(ev, "bktest_events", ["user_id"], 4)
    write_bucketed(orders, "bktest_orders", ["user_id"], 4)
    yield "bktest_events", "bktest_orders"
    spark.sql("DROP TABLE IF EXISTS bktest_events")
    spark.sql("DROP TABLE IF EXISTS bktest_orders")


def test_cobucketed_join_has_no_exchange(spark, bucketed_tables):
    """Same key, same bucket count on both sides: the join must read
    co-located buckets with ZERO exchanges (the scans satisfy the
    distribution), while the un-bucketed twin of the same join needs
    shuffles — proving the layout, not the optimizer, removed them."""
    from atr_adaptive_laguerre_spark.engine.bucketing import (
        cobucketed_join,
    )

    left, right = bucketed_tables
    # force the sort-merge path so the comparison is layout vs layout,
    # not broadcast-vs-shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, left, right, ["user_id"])
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan

        flat = (spark.read.parquet(f"{SF}/events.parquet")
                .select("user_id", "ts", "value")
                .join(spark.read.parquet(f"{SF}/orders.parquet")
                      .select(F.col("o_custkey").alias("user_id"),
                              "o_totalprice"), ["user_id"]))
        assert "Exchange hashpartitioning" in _plan(flat)

        # row parity: the layout changes the plan, never the result
        assert joined.count() == flat.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key also rides the layout: groupBy
    user_id over the bucketed table must not shuffle."""
    left, _ = bucketed_tables
    agg = spark.table(left).groupBy("user_id").agg(
        F.sum("value").alias("s"))
    plan = _plan(agg)
    assert "Exchange hashpartitioning" not in plan, plan
    base = (spark.read.parquet(f"{SF}/events.parquet")
            .groupBy("user_id").agg(F.sum("value").alias("s")))
    assert agg.count() == base.count()


def test_incremental_dedup_index_join_shuffles_only_the_batch(spark):
    """The incremental-dedup shape: the corpus's LSH band signatures
    written ONCE as a table bucketed on the join key — the daily
    increment's candidate join then shuffles ONLY the batch side (one
    exchange), while the same join against a path-written index
    shuffles both sides."""
    from atr_adaptive_laguerre_spark.engine.bucketing import write_bucketed
    from atr_adaptive_laguerre_spark.operators.dedup import band_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    write_bucketed(band_signatures(idx_docs), "bktest_lshindex",
                   ["band", "bucket"], 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nb = band_signatures(new_docs)
        bucketed = nb.join(spark.table("bktest_lshindex").withColumnRenamed(
            "doc_id", "old_id"), ["band", "bucket"])
        plan = _plan(bucketed)
        # the batch side is hashed on (band, bucket) exactly once; the
        # index side is satisfied by the bucketed layout (zero join-key
        # exchanges — the scan itself reports SelectedBucketsCount).
        assert plan.count("Exchange hashpartitioning(band") == 1, plan
        assert "SelectedBucketsCount" in plan, plan

        flat = nb.join(band_signatures(idx_docs).withColumnRenamed(
            "doc_id", "old_id"), ["band", "bucket"])
        flat_plan = _plan(flat)
        assert flat_plan.count("Exchange hashpartitioning(band") == 2, \
            flat_plan
        assert bucketed.count() == flat.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bktest_lshindex")
