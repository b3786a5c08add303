"""Second-config oracle gate (VERDICT r2 item 3).

The flagship Spark-vs-DuckDB gates all run at the default config
(atr_period=14, multipliers 3/12, thresholds 0.85/0.15), so a constant
accidentally baked into either the kernel or the oracle generators —
a hardcoded 14 inside the recursive CTE, a fixed 0.85 in the expander —
would still pass.  This module re-runs the full value-hash comparison at
a config that changes EVERY tunable the reference exposes:

    atr_period=10, multipliers 2/8, level_up/down 0.8/0.2,
    adaptive_offset=0.6, velocity_span=4, stats_window=15

(The 100-bar vol-of-vol window and the min_periods=20 spike gate stay
fixed — they are literals in the reference, expander_batched.py:266-276.)
"""

import os
import sys

import duckdb
import pytest
from conftest import SF_DIR as SF

from atr_adaptive_laguerre_spark import oracles
from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.engine.features_job import features_long
from atr_adaptive_laguerre_spark.engine.tokens import (
    tokenize_documents_portable,
)
from atr_adaptive_laguerre_spark.queries import _quantized

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import value_hash  # noqa: E402

CFG_121 = FeatureConfig.multi_interval(
    multiplier_1=2, multiplier_2=8, atr_period=10,
    level_up=0.8, level_down=0.2, adaptive_offset=0.6, velocity_span=4,
    stats_window=15)
CFG_43 = FeatureConfig(
    atr_period=10, level_up=0.8, level_down=0.2, adaptive_offset=0.6,
    velocity_span=4, stats_window=15)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{SF}/documents.parquet')")
    yield con
    con.close()


def _compare(spark, duck, spark_df, oracle_sql):
    spdf = spark_df.toPandas()
    opdf = duck.execute(oracle_sql).fetchdf()
    assert len(spdf) == len(opdf)
    assert sorted(spdf.columns) == sorted(opdf.columns)
    assert value_hash(spdf) == value_hash(opdf)


def test_features_43_second_config(spark, duck):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = _quantized(features_long(tokenize_documents_portable(docs),
                                   CFG_43))
    _compare(spark, duck, got, oracles.oracle_features_43(CFG_43))


def test_features_121_second_config(spark, duck):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = _quantized(features_long(tokenize_documents_portable(docs),
                                   CFG_121))
    _compare(spark, duck, got,
             oracles.oracle_features_121(False, CFG_121))


def test_features_121_availability_second_config(spark, duck):
    cfg = CFG_121.with_(availability=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = _quantized(features_long(tokenize_documents_portable(docs), cfg))
    _compare(spark, duck, got, oracles.oracle_features_121(True, CFG_121))
