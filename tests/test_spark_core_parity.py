"""Spark pipeline == local oracle, token round-trip, and the single
kernel boundary.

This is the distributed-correctness gate: the mapInArrow scan path must
agree bit-for-bit with the local loop oracle at every entity x offset,
the ``tokens`` array<int32> must survive the pipeline exactly
(BASELINE.json input_hint per-row invariant), and every feature job must
cross into Python through one ``mapInArrow`` with no exchange.
"""

import numpy as np
import pandas as pd
import pytest

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import make_corpus, tokens_to_ohlcv
from atr_adaptive_laguerre_spark.engine.features_job import (
    core_features_long, features_checksum, features_doc, features_long,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import (
    CORE_OUTPUTS, core_loop,
)

CFG = FeatureConfig(atr_period=14)


def _oracle_frame(rows):
    """Long-form expected output computed locally with the loop oracle."""
    recs = []
    for r in rows:
        h, l, c = tokens_to_ohlcv(r["tokens"])
        out = core_loop(h, l, c, CFG.atr_period, CFG.adaptive_offset)
        n = len(r["tokens"])
        df = pd.DataFrame({
            "source": r["source"], "doc_id": r["doc_id"],
            "offset": np.arange(n, dtype=np.int64),
            "token": r["tokens"].astype(np.int64),
        })
        for k in CORE_OUTPUTS:
            df[k] = out[k]
        recs.append(df)
    return (pd.concat(recs)
            .sort_values(["source", "doc_id", "offset"])
            .reset_index(drop=True))


@pytest.fixture(scope="module")
def small_rows():
    return make_corpus(30, seed=42, min_len=30, max_len=200,
                       heavy_every=7, heavy_len=500)


@pytest.fixture(scope="module")
def doc_df(spark, corpus_parquet):
    return spark.read.parquet(corpus_parquet)


def _collect_sorted(df):
    pdf = df.toPandas()
    pdf["offset"] = pdf["offset"].astype(np.int64)
    pdf["token"] = pdf["token"].astype(np.int64)
    return (pdf.sort_values(["source", "doc_id", "offset"])
            .reset_index(drop=True))


def test_scan_path_matches_oracle(spark, small_rows):
    pdf_in = pd.DataFrame({
        "doc_id": [r["doc_id"] for r in small_rows],
        "tokens": [r["tokens"].tolist() for r in small_rows],
        "n_tok": [int(r["n_tok"]) for r in small_rows],
        "source": [r["source"] for r in small_rows],
    })
    sdf = spark.createDataFrame(
        pdf_in, "doc_id string, tokens array<int>, n_tok int, source string")
    got = _collect_sorted(core_features_long(sdf, CFG))
    want = _oracle_frame(small_rows)
    assert len(got) == len(want)
    np.testing.assert_array_equal(got["token"].to_numpy(),
                                  want["token"].to_numpy())
    for k in CORE_OUTPUTS:
        np.testing.assert_array_equal(
            got[k].to_numpy(), want[k].to_numpy(), err_msg=k)


def test_token_array_round_trip_exact(spark, doc_df):
    """input_hint invariant: tokens array<int32> survives per row, exactly."""
    out = features_doc(doc_df, CFG).toPandas().set_index("doc_id")
    src = doc_df.select("doc_id", "tokens", "n_tok").toPandas().set_index("doc_id")
    assert set(out.index) == set(src.index)
    for doc_id, row in src.iterrows():
        got = np.asarray(out.loc[doc_id, "tokens"], dtype=np.int64)
        want = np.asarray(row["tokens"], dtype=np.int64)
        np.testing.assert_array_equal(got, want)
        assert len(got) == row["n_tok"]
        assert len(out.loc[doc_id, "rsi"]) == row["n_tok"]


def test_long_form_reassembles_to_original_tokens(spark, doc_df):
    """collect_list over the ordered long-form output == input arrays."""
    from pyspark.sql import functions as F

    long_out = core_features_long(doc_df, CFG)
    rebuilt = (long_out
               .groupBy("source", "doc_id")
               .agg(F.sort_array(F.collect_list(F.struct("offset", "token")))
                    .alias("seq"))
               .select("doc_id", F.col("seq.token").alias("tokens")))
    got = rebuilt.toPandas().set_index("doc_id")
    want = doc_df.select("doc_id", "tokens").toPandas().set_index("doc_id")
    for doc_id in want.index:
        np.testing.assert_array_equal(
            np.asarray(got.loc[doc_id, "tokens"], dtype=np.int64),
            np.asarray(want.loc[doc_id, "tokens"], dtype=np.int64))


def test_scan_path_has_no_shuffle(spark, doc_df):
    """Every feature job is one mapInArrow over the scan: no exchange and
    no pandas map or grouped-map node."""
    problems = []
    for job in (features_long, core_features_long, features_doc,
                features_checksum):
        plan = (job(doc_df, CFG)._jdf.queryExecution()
                .executedPlan().toString())
        if "Exchange" in plan:
            problems.append(f"{job.__name__}: unexpected shuffle")
        if "MapInArrow" not in plan:
            problems.append(f"{job.__name__}: no MapInArrow")
        for node in ("MapInPandas", "FlatMapGroupsInPandas"):
            if node in plan:
                problems.append(f"{job.__name__}: {node}")
    assert not problems, problems
