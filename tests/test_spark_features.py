"""Spark features_long (43 and 121 cols) == local batched kernel output."""

import numpy as np
import pandas as pd
import pytest

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.engine.features_job import (
    features_doc, features_long, feature_columns_for,
)

CFG43 = FeatureConfig(atr_period=14)
CFG121 = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                      atr_period=14)


@pytest.fixture(scope="module")
def doc_df(spark, corpus_parquet):
    return spark.read.parquet(corpus_parquet)


def _local_expected(doc_pdf, cfg):
    """Long-form reference built one document at a time (B=1 padded
    matrix, no chunker), so it shares no batching code with the job."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        _chunk_feature_cols,
    )
    from atr_adaptive_laguerre_spark.kernel.batched import pad_sequences

    frames = []
    for r in doc_pdf.itertuples(index=False):
        toks = np.asarray(r.tokens, dtype=np.int32)
        if len(toks) == 0:
            continue
        mat, lens = pad_sequences([toks], dtype=np.int64)
        frames.append(pd.DataFrame({
            "source": r.source, "doc_id": r.doc_id,
            "offset": np.arange(len(toks), dtype=np.int32),
            "token": toks,
            **_chunk_feature_cols(mat, lens, cfg),
        }))
    return (pd.concat(frames)
            .sort_values(["source", "doc_id", "offset"])
            .reset_index(drop=True))


@pytest.mark.parametrize("cfg", [CFG43, CFG121], ids=["43", "121"])
def test_spark_features_match_local(spark, doc_df, cfg):
    got = (features_long(doc_df, cfg).toPandas()
           .sort_values(["source", "doc_id", "offset"])
           .reset_index(drop=True))
    doc_pdf = doc_df.toPandas()
    want = _local_expected(doc_pdf, cfg)
    cols = feature_columns_for(cfg)
    assert list(got.columns) == ["source", "doc_id", "offset", "token"] + cols
    assert len(got) == len(want) == doc_pdf["n_tok"].sum()
    np.testing.assert_array_equal(got["token"].to_numpy(np.int64),
                                  want["token"].to_numpy(np.int64))
    for c in cols:
        np.testing.assert_array_equal(
            got[c].to_numpy(), want[c].to_numpy(), err_msg=c)


@pytest.mark.parametrize("cfg", [CFG43, CFG121], ids=["43", "121"])
def test_features_doc_grain_matches_long(spark, doc_df, cfg):
    """Doc-grain (array-per-entity) output carries the same values as the
    long form, and the tokens array survives bit-exactly."""
    from atr_adaptive_laguerre_spark.engine.features_job import features_doc

    cols = feature_columns_for(cfg)
    doc_out = features_doc(doc_df, cfg).toPandas().set_index("doc_id")
    long_out = (features_long(doc_df, cfg).toPandas()
                .sort_values(["doc_id", "offset"]))
    src = doc_df.select("doc_id", "tokens").toPandas().set_index("doc_id")
    assert set(doc_out.index) == set(src.index)
    for doc_id, row in src.iterrows():
        np.testing.assert_array_equal(
            np.asarray(doc_out.loc[doc_id, "tokens"], dtype=np.int64),
            np.asarray(row["tokens"], dtype=np.int64))
    sub_cols = cols[:3] + cols[-2:]
    for doc_id in list(src.index)[:10]:
        lsub = long_out[long_out["doc_id"] == doc_id]
        for c in sub_cols:
            np.testing.assert_array_equal(
                np.asarray(doc_out.loc[doc_id, c]),
                lsub[c].to_numpy(), err_msg=f"{doc_id}.{c}")


def test_features_checksum_matches_long(spark, doc_df):
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.engine.features_job import (
        features_checksum,
    )

    cfg = CFG121
    cols = feature_columns_for(cfg)
    chk = (features_checksum(doc_df, cfg)
           .agg(F.sum("n_rows").alias("n"),
                *[F.sum(f"{c}_sum").alias(c) for c in cols[:5]])
           .collect()[0])
    want = (features_long(doc_df, cfg)
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(c).alias(c) for c in cols[:5]])
            .collect()[0])
    assert chk["n"] == want["n"]
    for c in cols[:5]:
        if want[c] is None:
            continue
        np.testing.assert_allclose(chk[c], want[c], rtol=1e-9,
                                   err_msg=c)


def test_features_parquet_round_trip(spark, doc_df, tmp_path):
    """The production sink: features written as zstd parquet read back
    value-identical, with tokens array<int> type preserved (no upcast)."""
    out = str(tmp_path / "feat_out")
    df = features_long(doc_df, CFG43)
    df.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["token"] == "int"
    a = (df.toPandas().sort_values(["source", "doc_id", "offset"])
         .reset_index(drop=True))
    b = (back.toPandas().sort_values(["source", "doc_id", "offset"])
         .reset_index(drop=True))
    assert len(a) == len(b)
    for c in ("token", "rsi", "bars_in_regime", "tail_risk_score"):
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy(),
                                      err_msg=c)


def test_checksum_nan_count_on_short_docs(spark, tmp_path):
    """ADVICE r1: NaN integrity — on a corpus containing docs shorter
    than multiplier_2 (NaN mult columns), features_checksum's n_nan must
    equal the isnan count over features_long, and the nansum columns must
    match pandas nansum of the full matrix."""
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.data.corpus import write_corpus_parquet
    from atr_adaptive_laguerre_spark.engine.features_job import (
        features_checksum,
    )

    path = str(tmp_path / "short.parquet")
    write_corpus_parquet(path, n_docs=30, seed=7, min_len=6, max_len=60,
                         heavy_every=0)
    doc_df = spark.read.parquet(path)
    cols = feature_columns_for(CFG121)

    long_pdf = features_long(doc_df, CFG121).toPandas()
    want_nan = int(np.isnan(long_pdf[cols].to_numpy()).sum())
    assert want_nan > 0, "corpus must contain short docs (NaN mult cols)"

    chk = (features_checksum(doc_df, CFG121)
           .agg(F.sum("n_rows").alias("n"), F.sum("n_nan").alias("nn"),
                *[F.sum(f"{c}_sum").alias(c) for c in cols[:5]])
           .collect()[0])
    assert chk["n"] == len(long_pdf)
    assert chk["nn"] == want_nan
    for c in cols[:5]:
        np.testing.assert_allclose(
            chk[c], np.nansum(long_pdf[c].to_numpy()), rtol=1e-9,
            err_msg=c)


def test_zero_copy_arrow_yield_across_chunks(spark, doc_df):
    """ADVICE r1: the mapInArrow path yields RecordBatches that wrap the
    kernel's output columns zero-copy.  A tiny cell budget forces MANY
    chunks per task; the values must equal a run with the default budget,
    so no chunk's batch may be changed by the chunks computed after it,
    whenever the serializer writes it."""
    small = (features_long(doc_df, CFG121, cell_budget=2048).toPandas()
             .sort_values(["source", "doc_id", "offset"])
             .reset_index(drop=True))
    normal = (features_long(doc_df, CFG121).toPandas()
              .sort_values(["source", "doc_id", "offset"])
              .reset_index(drop=True))
    cols = feature_columns_for(CFG121)
    assert len(small) == len(normal)
    for c in cols:
        a = small[c].to_numpy()
        b = normal[c].to_numpy()
        ok = (a == b) | (np.isnan(a) & np.isnan(b))
        assert ok.all(), (c, int((~ok).sum()))


def test_yielded_batches_own_their_columns(corpus_parquet):
    """Every batch the long-form generator yields owns its columns: with
    all batches held at once (no serializer between chunks), every value
    still equals the per-document reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    class _Stub:
        def mapInArrow(self, fn, schema):
            return fn

    table = pq.read_table(corpus_parquet).combine_chunks()
    rb, = table.to_batches()
    run = features_long(_Stub(), CFG121, cell_budget=2048)
    batches = list(run(iter([rb])))
    assert len(batches) > 1
    got = (pa.Table.from_batches(batches).to_pandas()
           .sort_values(["source", "doc_id", "offset"])
           .reset_index(drop=True))
    want = _local_expected(table.to_pandas(), CFG121)
    assert len(got) == len(want)
    for c in ["offset", "token"] + feature_columns_for(CFG121):
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(),
                                      err_msg=c)


def test_features_long_column_projection(spark, doc_df):
    """`columns=` ships only the requested features through the Arrow
    funnel (a projection Catalyst cannot push through the Python map
    node) while keeping values identical to the full run."""
    import pytest

    want = ["rsi_change_1_base", "rsi_percentile_20_base",
            "mean_rsi_across_intervals"]
    proj = features_long(doc_df, CFG121, columns=want).toPandas() \
        .sort_values(["source", "doc_id", "offset"]).reset_index(drop=True)
    assert list(proj.columns) == ["source", "doc_id", "offset",
                                  "token"] + want
    full = features_long(doc_df, CFG121).toPandas() \
        .sort_values(["source", "doc_id", "offset"]).reset_index(drop=True)
    for c in want:
        a, b = proj[c].to_numpy(), full[c].to_numpy()
        ok = (a == b) | (np.isnan(a) & np.isnan(b))
        assert ok.all(), c

    with pytest.raises(ValueError, match="unknown feature columns"):
        features_long(doc_df, CFG121, columns=["nope"])


def test_read_sequences_table_and_path(spark, doc_df):
    """sources.read_sequences resolves catalog table references via
    spark.read.table (the Iceberg path — exercised through a temp view,
    the catalog machinery is identical) and paths via parquet; snapshot
    pins are rejected on paths instead of silently ignored."""
    import pytest

    from atr_adaptive_laguerre_spark.engine.sources import (
        is_table_ref, read_sequences,
    )

    assert is_table_ref("db.tokens") and is_table_ref("cat.db.tokens")
    assert not is_table_ref("/data/tokens.parquet")
    assert not is_table_ref("rel/dir")
    # URI schemes are paths, not tables
    assert not is_table_ref("file:data.parquet")
    assert not is_table_ref("s3a:bucket")

    doc_df.createOrReplaceTempView("seq_view")
    via_table = read_sequences(spark, "seq_view")
    assert via_table.count() == doc_df.count()
    assert set(via_table.columns) == set(doc_df.columns)

    with pytest.raises(ValueError, match="snapshot pinning"):
        read_sequences(spark, "/tmp/x.parquet", snapshot_id=123)

    # bare-name ambiguity rule (ADVICE r2 + review): a name the catalog
    # knows is ALWAYS the table, even if a same-named directory exists
    # in the CWD; an unregistered bare name that exists on disk reads
    # as a parquet path instead of a confusing table-not-found.
    # (Relative paths must resolve in the REAL CWD — the JVM's working
    # dir is fixed at launch, so os.chdir tricks would diverge.)
    import shutil
    import uuid

    decoy = None
    bare = f"bare_{uuid.uuid4().hex[:8]}"
    try:
        doc_df.limit(3).write.parquet("seq_view")            # decoy dir
        decoy = "seq_view"
        assert read_sequences(spark, "seq_view").count() \
            == doc_df.count()                                # catalog wins
        doc_df.limit(5).write.parquet(bare)
        assert read_sequences(spark, bare).count() == 5
        # a valid directory name that is NOT a valid SQL identifier
        # must not blow up in tableExists — it's a path
        hyph = f"{bare}-v2"
        doc_df.limit(4).write.parquet(hyph)
        try:
            assert read_sequences(spark, hyph).count() == 4
        finally:
            shutil.rmtree(hyph, ignore_errors=True)
    finally:
        if decoy:
            shutil.rmtree(decoy, ignore_errors=True)
        shutil.rmtree(bare, ignore_errors=True)


def test_features_doc_column_projection(spark, doc_df):
    """Doc-grain output honors the same worker-side projection."""
    want = ["rsi_change_1_base"]
    proj = features_doc(doc_df, CFG121, columns=want).toPandas()
    assert list(proj.columns) == ["source", "doc_id", "n_tok",
                                  "tokens"] + want
    full = features_doc(doc_df, CFG121).toPandas()
    a = proj.sort_values("doc_id").reset_index(drop=True)
    b = full.sort_values("doc_id").reset_index(drop=True)
    for i in range(len(a)):
        x = np.asarray(a.loc[i, "rsi_change_1_base"])
        y = np.asarray(b.loc[i, "rsi_change_1_base"])
        ok = (x == y) | (np.isnan(x) & np.isnan(y))
        assert ok.all(), i


def test_empty_token_docs_are_skipped(spark):
    """Zero-length sequences produce no feature rows and must not crash
    the chunker (a (B, 0) padded matrix would be unindexable); mixing
    many empty docs with real ones leaves the real rows bit-intact."""
    import pandas as pd

    rows = [("s0", f"e{i}", [], 0) for i in range(40)]
    rows += [("s0", f"r{i}", list(range(1, 60 + i)), 59 + i)
             for i in range(3)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "doc_id", "tokens", "n_tok"]))
    out = features_long(df, CFG43).toPandas()
    assert len(out) == sum(59 + i for i in range(3))
    assert set(out["doc_id"]) == {"r0", "r1", "r2"}

    from atr_adaptive_laguerre_spark.engine.features_job import (
        core_features_long,
    )

    core = core_features_long(df, FeatureConfig(atr_period=14)).toPandas()
    assert len(core) == sum(59 + i for i in range(3))

    # doc grain contracts ONE row per entity: empty docs must appear
    # with empty arrays, not silently vanish (ADVICE r2)
    doc_out = features_doc(df, CFG43).toPandas()
    assert len(doc_out) == 43
    empties = doc_out[doc_out["n_tok"] == 0]
    assert len(empties) == 40
    assert all(len(t) == 0 for t in empties["tokens"])
    assert all(len(v) == 0 for v in empties["rsi"])


def test_null_tokens_fail_loud(spark):
    """A NULL tokens array (vs []) is a contract violation: both kernel
    paths must raise a named ValueError, not an opaque numpy conversion
    error deep in the worker."""
    import pandas as pd
    import pytest

    from atr_adaptive_laguerre_spark.engine.features_job import (
        core_features_long,
    )

    df = spark.createDataFrame(pd.DataFrame({
        "source": ["s0", "s0"], "doc_id": ["ok", "badnull"],
        "tokens": [[1, 2, 3] * 20, None], "n_tok": [60, 0]}))
    with pytest.raises(Exception, match="null tokens array.*badnull"):
        features_long(df, CFG43).toPandas()
    with pytest.raises(Exception, match="null tokens array.*badnull"):
        core_features_long(df, FeatureConfig(atr_period=14)).toPandas()


def test_overlapped_kernel_paths_survive_partial_consumption(spark, tmp_path):
    """features_long/core_features_long are plain generators whose
    batches own freshly gathered columns.  Contract under test: (1)
    repeated full passes give identical values, (2) a task abandoned
    mid-generator (limit/early termination) neither hangs nor changes the
    values of a SUBSEQUENT full pass in the same session, which reuses
    the same workers and their kernel workspaces."""
    import os

    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.config import FeatureConfig
    from atr_adaptive_laguerre_spark.data.corpus import write_corpus_parquet
    from atr_adaptive_laguerre_spark.engine.features_job import (
        core_features_long, features_long,
    )

    p = os.path.join(str(tmp_path), "c.parquet")
    write_corpus_parquet(p, n_docs=200, seed=13)
    df = spark.read.parquet(p)
    cfg = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                       atr_period=14)

    # partial consumption first — abandons generators mid-task
    assert len(features_long(df, cfg, num_partitions=4)
               .limit(5).collect()) == 5
    assert len(core_features_long(df, num_partitions=4)
               .limit(7).collect()) == 7

    def chk(d, col):
        r = d.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(col).alias("s")).collect()[0]
        return r["n"], r["s"]

    a = chk(features_long(df, cfg, num_partitions=4),
            "rsi_percentile_20_base")
    b = chk(features_long(df, cfg, num_partitions=4),
            "rsi_percentile_20_base")
    assert a == b and a[0] > 0
    ca = chk(core_features_long(df, num_partitions=4), "rsi")
    cb = chk(core_features_long(df, num_partitions=4), "rsi")
    assert ca == cb and ca[0] == a[0]
