"""End-to-end corpus-preparation job: the composed pipeline must match
the standalone operators' decisions exactly and be run-to-run
deterministic."""

import numpy as np
import pandas as pd
import pytest
from conftest import SF_DIR as SF


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    from atr_adaptive_laguerre_spark.engine.corpus_job import (
        prepare_corpus,
    )

    base = tmp_path_factory.mktemp("corpus_job")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    summary = prepare_corpus(
        spark, docs, str(base / "out"),
        manifest_dir=str(base / "manifest"), run_id="testrun")
    out = (spark.read.parquet(str(base / "out")).toPandas()
           .sort_values("shuffle_pos").reset_index(drop=True))
    return summary, out, base


def test_counts_match_standalone_curation(spark, prepared):
    """Docs surviving the composed job == the neardup curation
    report's kept count (same gates, doc grain vs aggregate)."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_curation_neardup,
    )

    summary, out, _ = prepared
    rep = q_corpus_curation_neardup(spark, SF).toPandas()
    assert summary["n_docs_out"] == int(rep["n_kept"].sum())
    assert len(out) == summary["n_docs_out"]
    assert summary["n_tokens_out"] == out["n_tokens"].sum()


def test_shuffle_and_pack_structure(prepared):
    """Shuffle positions are a bijection onto [0, n); packing offsets
    are the running token sum in shuffle order; shards round-robin."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        SHUFFLE_SHARDS,
    )

    _, out, _ = prepared
    n = len(out)
    assert sorted(out["shuffle_pos"]) == list(range(n))
    want_off = np.concatenate(
        [[0], np.cumsum(out["n_tokens"].to_numpy())[:-1]])
    assert (out["tok_offset"].to_numpy() == want_off).all()
    assert (out["shard"] == out["shuffle_pos"] % SHUFFLE_SHARDS).all()


def test_shuffle_order_is_catalog_order_on_kept_docs(spark, prepared):
    """The job's training order is `corpus_shuffle`'s permutation
    restricted to the kept docs: the shuffle is a pure function of
    doc_id, so any subset keeps its relative order."""
    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_shuffle,
    )

    _, out, _ = prepared
    cat = q_corpus_shuffle(spark, SF).toPandas()
    want = (cat[cat["doc_id"].isin(out["doc_id"])]
            .sort_values("shuffle_pos")["doc_id"].tolist())
    assert len(want) == len(out)
    assert out["doc_id"].tolist() == want


def test_scrubbed_and_manifest(spark, prepared):
    """Output text is the redacted column (no PII in the synthetic
    corpus, so texts survive verbatim but n_pii exists and is 0), and
    the manifest carries one row per stage plus the canonicalization
    rounds."""
    summary, out, base = prepared
    assert (out["n_pii"] == 0).all()
    stages = spark.read.parquet(str(base / "manifest/stages")).toPandas()
    assert set(stages["stage"]) == {"near_dup_components",
                                    "gate_scrub_shuffle_pack_write"}
    assert (stages["run_id"] == "testrun").all()
    g = stages.set_index("stage")
    assert (g.loc["gate_scrub_shuffle_pack_write", "n_docs_out"]
            == summary["n_docs_out"])
    comp = spark.read.parquet(
        str(base / "manifest/components")).toPandas()
    assert (comp["run_id"] == "testrun").all()
    assert len(comp) >= 1          # at least one propagation round


def test_rerun_is_identical(spark, prepared, tmp_path):
    """The pipeline is a pure function of the input: a second run at a
    different parallelism writes the identical frame."""
    from atr_adaptive_laguerre_spark.engine.corpus_job import (
        prepare_corpus,
    )

    _, out, _ = prepared
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .repartition(7))     # different physical layout
    prepare_corpus(spark, docs, str(tmp_path / "out2"), near_dup=True)
    out2 = (spark.read.parquet(str(tmp_path / "out2")).toPandas()
            .sort_values("shuffle_pos").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        out[sorted(out.columns)], out2[sorted(out2.columns)])


def test_resumable_interrupt_and_resume(spark, prepared, tmp_path):
    """The wave-resumable variant, interrupted after its first shard
    wave, must resume from the manifest (no staging recompute, only
    missing shards written) and converge to the same corpus as the
    one-shot job."""
    from atr_adaptive_laguerre_spark.engine.corpus_job import (
        prepare_corpus_resumable,
    )
    from atr_adaptive_laguerre_spark.operators.curation import (
        SHUFFLE_SHARDS,
    )

    _, out, _ = prepared
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(output_dir=str(tmp_path / "out"),
              staging_dir=str(tmp_path / "staging"),
              manifest_dir=str(tmp_path / "manifest"),
              run_id="resume-test", shards_per_wave=3)

    s1 = prepare_corpus_resumable(spark, docs, max_waves=1, **kw)
    assert s1["resumed"] is False
    assert len(s1["shards_done"]) == 3

    s2 = prepare_corpus_resumable(spark, docs, **kw)
    assert s2["resumed"] is True
    assert s2["shards_done"] == list(range(SHUFFLE_SHARDS))

    got = (spark.read.parquet(str(tmp_path / "out")).toPandas()
           .sort_values("shuffle_pos").reset_index(drop=True))
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[sorted(got.columns)].astype({"shard": "int64"}),
        out[sorted(out.columns)].astype({"shard": "int64"}))

    # idempotence: a third call with everything committed is a no-op
    s3 = prepare_corpus_resumable(spark, docs, **kw)
    assert s3["resumed"] is True and s3["shards_done"] == s2["shards_done"]
    stages = spark.read.parquet(
        str(tmp_path / "manifest/stages")).toPandas()
    assert (stages["stage"] == "staging_commit").sum() == 1
    assert (stages["stage"].str.startswith("shard:")).sum() \
        == SHUFFLE_SHARDS


def test_chunk_dedup_stage(spark, tmp_path):
    """chunk_dedup=True physically removes globally-duplicated chunks
    from later docs, re-derives token counts from the cleaned text, and
    records a chunk_clean lineage stage."""
    from atr_adaptive_laguerre_spark.engine.corpus_job import (
        prepare_corpus,
    )

    shared = " ".join(f"w{i}" for i in range(64))
    filler = " ".join(f"u{i}" for i in range(64))
    rows = [
        (1, shared + " tail one alpha beta", "en", "src0", 0),
        (2, filler + " " + shared + " tail two gamma", "en", "src0", 0),
        (3, " ".join(f"v{i}" for i in range(70)), "en", "src1", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int")
    out_dir = str(tmp_path / "out")
    summary = prepare_corpus(
        spark, docs, out_dir, manifest_dir=str(tmp_path / "m"),
        run_id="ckrun", min_tokens=10, min_quality=0.0,
        near_dup=False, chunk_dedup=True)
    out = spark.read.parquet(out_dir).toPandas().set_index("doc_id")

    # doc 2 lost the shared 64-word chunk (first instance lives in doc 1)
    assert out.loc[2, "n_tokens"] == 64 + 3
    assert "w0" not in out.loc[2, "text"]
    assert "w0" in out.loc[1, "text"]
    # counts re-derived from cleaned text, packing consistent with them
    assert summary["n_tokens_out"] == int(out["n_tokens"].sum())
    stages = (spark.read.parquet(str(tmp_path / "m" / "stages"))
              .toPandas())
    ck = stages[stages["stage"] == "chunk_clean"]
    assert len(ck) == 1 and ck.iloc[0]["n_docs_out"] == 3


def test_dsir_stage_selects_target_domain(spark, tmp_path):
    """prepare_corpus(dsir_frac=0.5) keeps exactly the half of the
    gated corpus that looks like the target domain (planted two-vocab
    corpus: the 6 alpha-vocabulary docs must survive, the 6
    zulu-vocabulary docs must not), and the manifest carries the
    dsir_select stage row."""
    from atr_adaptive_laguerre_spark.engine.corpus_job import (
        prepare_corpus,
    )

    rows = []
    for i in range(1, 7):
        rows.append((i, " ".join(f"alpha{j % 7}"
                                 for j in range(i, i + 40)),
                     "en", "tgt" if i <= 2 else "pool", 0))
    for i in range(7, 13):
        rows.append((i, " ".join(f"zulu{j % 7}"
                                 for j in range(i, i + 40)),
                     "en", "pool", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int")
    out_dir = str(tmp_path / "out")
    summary = prepare_corpus(
        spark, docs, out_dir, manifest_dir=str(tmp_path / "m"),
        run_id="dsirrun", min_tokens=10, min_quality=0.0,
        near_dup=False, dsir_frac=0.5, dsir_target_sources=("tgt",))
    out = spark.read.parquet(out_dir).toPandas()
    assert sorted(out["doc_id"]) == [1, 2, 3, 4, 5, 6]
    assert summary["n_docs_out"] == 6
    stages = (spark.read.parquet(str(tmp_path / "m" / "stages"))
              .toPandas())
    ds = stages[stages["stage"] == "dsir_select"]
    assert len(ds) == 1
    assert ds.iloc[0]["n_docs_in"] == 12
    assert ds.iloc[0]["n_docs_out"] == 6
    assert "dsir_select" in summary["stages"]


def test_decontaminate_stage_drops_benchmark_overlap(spark, tmp_path):
    """prepare_corpus(decontaminate=True) removes the training doc that
    shares an 8-gram with the planted benchmark doc, removes the
    benchmark docs themselves from the training output, keeps the clean
    doc, and records a decontaminate lineage stage."""
    from atr_adaptive_laguerre_spark.engine.corpus_job import (
        prepare_corpus,
    )
    from atr_adaptive_laguerre_spark.operators.curation import (
        BENCHMARK_SOURCE,
    )

    leak = " ".join(f"leak{i}" for i in range(8))      # the shared 8-gram
    bench_text = leak + " " + " ".join(f"b{i}" for i in range(40))
    contaminated = (" ".join(f"c{i}" for i in range(20))
                    + " " + leak + " "
                    + " ".join(f"d{i}" for i in range(20)))
    clean = " ".join(f"e{i}" for i in range(48))
    rows = [
        (1, bench_text, "en", BENCHMARK_SOURCE, 0),
        (2, contaminated, "en", "src1", 0),
        (3, clean, "en", "src1", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int")
    out_dir = str(tmp_path / "out")
    summary = prepare_corpus(
        spark, docs, out_dir, manifest_dir=str(tmp_path / "m"),
        run_id="dcrun", min_tokens=10, min_quality=0.0,
        near_dup=False, decontaminate=True)
    out = spark.read.parquet(out_dir).toPandas()
    assert sorted(out["doc_id"]) == [3]
    assert summary["n_docs_out"] == 1
    stages = (spark.read.parquet(str(tmp_path / "m" / "stages"))
              .toPandas())
    dc = stages[stages["stage"] == "decontaminate"]
    assert len(dc) == 1
    assert dc.iloc[0]["n_docs_in"] == 3
    assert dc.iloc[0]["n_docs_out"] == 1
    assert "decontaminate" in summary["stages"]
