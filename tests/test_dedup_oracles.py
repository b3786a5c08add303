"""Every dedup and curation query against its DuckDB twin
(``dedup.ORACLES``, ``curation.ORACLES``) on the test corpus: row count,
column-name set and the order-insensitive value hash of
``tools/check_correctness.py`` — the cross-engine gate, run inside the
suite.  Both families' oracles read only ``documents``."""

import os
import sys

import duckdb
import pytest
from conftest import SF_DIR

from atr_adaptive_laguerre_spark.operators import curation, dedup

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import value_hash  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    yield con
    con.close()


def _check(spark, duck, module, name):
    got = module.QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.execute(module.ORACLES[name]).fetchdf()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_query_matches_its_oracle(spark, duck, name):
    _check(spark, duck, dedup, name)


@pytest.mark.parametrize("name", sorted(curation.QUERIES))
def test_curation_query_matches_its_oracle(spark, duck, name):
    _check(spark, duck, curation, name)
