"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: tokenize sf0.001 documents Spark-natively and
run the 121-column ATR-Adaptive Laguerre RSI feature pipeline (zero-shuffle
mapInArrow path).

``queries()`` / ``oracle_sql()`` — operator catalog with DuckDB twins; see
``atr_adaptive_laguerre_spark/queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: tokenize documents
    Spark-natively and run the full 121-column multi-interval
    feature pipeline (driver checks rows>0, stable schema)."""
    from atr_adaptive_laguerre_spark.queries import q_features_121

    return q_features_121(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from atr_adaptive_laguerre_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from atr_adaptive_laguerre_spark.queries import ORACLES

    return dict(ORACLES)
