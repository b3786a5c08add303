"""The long-form output schema: NOT NULL offset, token and features.

The Spark schema of ``features_long`` / ``core_features_long`` and the
Arrow schema of every batch their workers emit must agree column for
column; with the columns declared NOT NULL, a null that reaches the
boundary must fail the job rather than be written.  The JVM reads the
batches without Arrow's null-checked ``get`` (its properties are checked
here on the live session), so the worker's ``_long_batch`` refuses them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.engine import features_job
from atr_adaptive_laguerre_spark.engine.features_job import (
    CORE_LONG_SCHEMA, core_features_long, features_long,
    features_long_schema,
)

CFG121 = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                      atr_period=14)
KEYS = ["source", "doc_id"]
#: one feature column of the 121-column config
ONE = "rsi_percentile_20_base"


def _nullability(schema) -> list[tuple[str, bool]]:
    return [(f.name, f.nullable) for f in schema]


def _doc_batch() -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({
        "source": ["s0", "s1"], "doc_id": ["d0", "d1"],
        "tokens": pa.array([[3, 1, 4, 1, 5], [9, 2, 6]],
                           pa.list_(pa.int32())),
    })


def _emitted_schema(value_cols) -> pa.Schema:
    """Arrow schema of the batch a worker emits for one chunk."""
    rb = _doc_batch()
    (idx, chunk_flat, lens, _mat, _fe), = features_job._arrow_doc_chunks(rb)
    cols = {c: np.zeros(int(lens.sum())) for c in value_cols}
    return features_job._long_batch(rb.column(0), rb.column(1), idx, lens,
                                    chunk_flat, cols, value_cols).schema


def _one_null(n):
    return np.ma.masked_array(np.zeros(n), mask=np.arange(n) == 1)


@pytest.mark.parametrize("column", ["offset", "token", ONE])
def test_long_batch_refuses_a_null(column, monkeypatch):
    rb = _doc_batch()
    (idx, chunk_flat, lens, _mat, _fe), = features_job._arrow_doc_chunks(rb)
    n = int(lens.sum())
    value = np.zeros(n)
    if column == "offset":
        monkeypatch.setattr(features_job, "_flat_explode_idx",
                            lambda *_: _one_null(n))
    elif column == "token":
        chunk_flat = _one_null(n)
    else:
        value = _one_null(n)
    with pytest.raises(ValueError,
                       match=f"1 null.* NOT NULL column '{column}'"):
        features_job._long_batch(rb.column(0), rb.column(1), idx, lens,
                                 chunk_flat, {ONE: value}, [ONE])


def test_long_batch_passes_nan():
    rb = _doc_batch()
    (idx, chunk_flat, lens, _mat, _fe), = features_job._arrow_doc_chunks(rb)
    out = features_job._long_batch(
        rb.column(0), rb.column(1), idx, lens, chunk_flat,
        {ONE: np.full(int(lens.sum()), np.nan)}, [ONE])
    assert out.column(4).null_count == 0
    assert np.isnan(out.column(4).to_numpy()).all()


@pytest.mark.parametrize("schema", [features_long_schema(CFG121),
                                    CORE_LONG_SCHEMA], ids=["121", "core"])
def test_emitted_batches_match_spark_schema(schema):
    value_cols = [f.name for f in schema][4:]
    assert _nullability(_emitted_schema(value_cols)) == _nullability(schema)
    assert [n for n, nullable in _nullability(schema) if nullable] == KEYS


def test_job_schemas_declare_not_null(spark, corpus_parquet):
    docs = spark.read.parquet(corpus_parquet)
    assert (_nullability(features_long(docs, CFG121).schema)
            == _nullability(features_long_schema(CFG121)))
    assert (_nullability(core_features_long(docs).schema)
            == _nullability(CORE_LONG_SCHEMA))
    projected = features_long(docs, CFG121, columns=[ONE]).schema
    assert _nullability(projected) == [
        ("source", True), ("doc_id", True), ("offset", False),
        ("token", False), (ONE, False)]


def test_null_feature_value_fails_the_job(spark, tmp_path):
    """A null in a NOT NULL feature column fails the job in the worker's
    ``_long_batch``; nothing is written."""
    docs = spark.createDataFrame(
        [("s0", "d0", [3, 1, 4])],
        "source string, doc_id string, tokens array<int>")

    def run(batches):
        for rb in batches:
            for idx, chunk_flat, lens, _mat, _fe in (
                    features_job._arrow_doc_chunks(rb)):
                n = int(lens.sum())
                bad = np.ma.masked_array(np.zeros(n),
                                         mask=np.arange(n) == 1)
                yield features_job._long_batch(
                    rb.column(rb.schema.get_field_index("source")),
                    rb.column(rb.schema.get_field_index("doc_id")),
                    idx, lens, chunk_flat, {ONE: bad}, [ONE])

    out = tmp_path / "out"
    df = docs.mapInArrow(run, schema=features_job._long_schema([ONE]))
    with pytest.raises(Exception, match=f"NOT NULL column '{ONE}'"):
        df.write.parquet(str(out))
    assert not list(out.glob("*.parquet"))


def test_session_jvm_reads_arrow_without_per_value_checks(spark):
    """The JVM ``build_session`` starts carries both Arrow properties, on
    its command line as well."""
    jvm = spark.sparkContext._jvm
    prop = jvm.java.lang.System.getProperty
    assert prop("arrow.enable_null_check_for_get") == "false"
    assert prop("arrow.enable_unsafe_memory_access") == "true"
    pid = jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        pytest.skip("no /proc to read the JVM's command line from")
    assert b"-Darrow.enable_null_check_for_get=false" in argv
    assert b"-Darrow.enable_unsafe_memory_access=true" in argv
