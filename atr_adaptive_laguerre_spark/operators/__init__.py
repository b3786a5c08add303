"""Spark-native operator library: dedup, similarity search, text
analysis, multimodal plumbing, validation aggregates.  Each module
exposes ``QUERIES`` (name -> callable(spark, sf_dir) -> DataFrame) and
``ORACLES`` (name -> DuckDB SQL twin) that the driver contract merges.

The two cross-engine quantizers live here, in a module that imports no
catalog module: ``queries`` imports the operator modules while it is
still initializing, so they cannot import it back."""

from __future__ import annotations

from pyspark.sql import functions as F


def _r6(col):
    """Quantize a double to 6 decimals with *identical IEEE ops* in both
    engines: floor(x*1e6 + 0.5)/1e6.  Unlike round(), whose decimal-tie
    handling differs between Spark and DuckDB, this sequence is plain
    binary float math and therefore bit-identical across engines.
    (SQL twin: FLOOR(x * 1000000 + 0.5) / 1000000.)"""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _u6(col):
    """Micro-units as BIGINT: floor(x*1e6 + 0.5).  Quantizing each term
    BEFORE a cross-partition SUM makes the total an exact integer sum —
    identical in any partial-aggregation / shuffle-fetch order, so the
    result is stable across engines AND across partitionings.  (SQL
    twin: CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT).)"""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
