"""Checkpoint-resume: an interrupted run resumes without recomputing or
duplicating completed buckets, and the manifest carries per-bucket
lineage + metrics."""

import numpy as np
from pyspark.sql import functions as F

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.engine.manifest import run_resumable

CFG = FeatureConfig(atr_period=14)


def test_resume_after_interruption(spark, corpus_parquet, tmp_path):
    doc_df = spark.read.parquet(corpus_parquet)
    out_dir = str(tmp_path / "features")
    man_dir = str(tmp_path / "manifest")

    # first attempt "dies" after one wave
    r1 = run_resumable(spark, doc_df, CFG, out_dir, man_dir,
                       run_id="r1", n_buckets=8, buckets_per_wave=3,
                       max_waves=1)
    assert len(r1["completed_now"]) == 3
    assert len(r1["remaining"]) == 5

    # resume completes the rest, skipping finished buckets
    r2 = run_resumable(spark, doc_df, CFG, out_dir, man_dir,
                       run_id="r1", n_buckets=8, buckets_per_wave=3)
    assert sorted(r2["completed_before"]) == sorted(r1["completed_now"])
    assert r2["remaining"] == []
    assert not (set(r2["completed_now"]) & set(r1["completed_now"]))

    # output: exactly one row per token, no duplicates
    feats = spark.read.parquet(out_dir)
    n_tok_total = doc_df.agg(F.sum("n_tok")).collect()[0][0]
    assert feats.count() == n_tok_total
    dupes = (feats.groupBy("source", "doc_id", "offset").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0

    # manifest: one row per bucket, metrics consistent with the input;
    # n_rows is MEASURED from the committed files and must equal the
    # 1-row-per-token contract
    man = spark.read.parquet(man_dir).toPandas()
    assert sorted(man["bucket"]) == list(range(8))
    assert man["n_docs"].sum() == doc_df.count()
    assert man["n_tokens"].sum() == n_tok_total
    assert man["n_rows"].sum() == n_tok_total
    assert (man["n_rows"] == man["n_tokens"]).all()
    assert (man["wall_sec"] > 0).all()
    assert man["input_fingerprint"].nunique() == 8  # lineage is per-bucket

    # idempotent third call: nothing left to do
    r3 = run_resumable(spark, doc_df, CFG, out_dir, man_dir,
                       run_id="r1", n_buckets=8, buckets_per_wave=3)
    assert r3["completed_now"] == [] and r3["remaining"] == []


def test_fingerprint_stable_across_runs(spark, corpus_parquet, tmp_path):
    """Lineage: the same input produces the same per-bucket fingerprint
    in an independent run (auditable input identity)."""
    doc_df = spark.read.parquet(corpus_parquet)
    m1 = str(tmp_path / "m1")
    m2 = str(tmp_path / "m2")
    run_resumable(spark, doc_df, CFG, str(tmp_path / "o1"), m1,
                  run_id="a", n_buckets=4, buckets_per_wave=4)
    run_resumable(spark, doc_df, CFG, str(tmp_path / "o2"), m2,
                  run_id="b", n_buckets=4, buckets_per_wave=4)
    f1 = (spark.read.parquet(m1).select("bucket", "input_fingerprint")
          .toPandas().set_index("bucket").sort_index())
    f2 = (spark.read.parquet(m2).select("bucket", "input_fingerprint")
          .toPandas().set_index("bucket").sort_index())
    np.testing.assert_array_equal(f1["input_fingerprint"].to_numpy(),
                                  f2["input_fingerprint"].to_numpy())


def test_crash_between_output_and_manifest_is_idempotent(
        spark, corpus_parquet, tmp_path):
    """ADVICE r1: a crash in the window AFTER a wave's output commit but
    BEFORE its manifest append must not duplicate rows on resume — the
    unmarked bucket is recomputed and dynamic partition overwrite
    replaces its directories."""
    import shutil

    doc_df = spark.read.parquet(corpus_parquet)
    out_dir = str(tmp_path / "features")
    man_dir = str(tmp_path / "manifest")

    # wave 1 completes output + manifest...
    run_resumable(spark, doc_df, CFG, out_dir, man_dir,
                  run_id="r2", n_buckets=8, buckets_per_wave=3,
                  max_waves=1)
    # ...then the process "dies" in the unsafe window: output directories
    # exist but the manifest rows are gone
    shutil.rmtree(man_dir)

    # resume recomputes ALL buckets (manifest empty) including the three
    # whose output already exists on disk
    r = run_resumable(spark, doc_df, CFG, out_dir, man_dir,
                      run_id="r2", n_buckets=8, buckets_per_wave=3)
    assert r["remaining"] == []
    assert len(r["completed_now"]) == 8

    feats = spark.read.parquet(out_dir)
    n_tok_total = doc_df.agg(F.sum("n_tok")).collect()[0][0]
    assert feats.count() == n_tok_total          # no duplicate rows
    dupes = (feats.groupBy("source", "doc_id", "offset").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0


def test_completed_buckets_missing_vs_broken(spark, tmp_path):
    """ADVICE r2: only the missing-path case means 'first run' (empty
    set); a genuinely broken manifest read must raise, not silently
    disable resume and recompute every wave.  Checked for the feature
    job's bucket manifest and for the corpus job's stage manifest
    (``<manifest_dir>/stages``), which share the probe."""
    import pytest

    from atr_adaptive_laguerre_spark.engine.manifest import (
        committed_keys, completed_buckets,
    )

    probes = {
        "buckets": lambda root: completed_buckets(spark, root, "rid"),
        "stages": lambda root: committed_keys(spark, f"{root}/stages",
                                              "rid", "stage"),
    }
    for name, probe in probes.items():
        assert probe(str(tmp_path / f"no_such_{name}")) == set()

        broken = tmp_path / f"broken_{name}"
        data = broken / "stages" if name == "stages" else broken
        data.mkdir(parents=True)
        (data / "part-00000.parquet").write_bytes(b"this is not parquet")
        with pytest.raises(Exception) as ei:
            probe(str(broken))
        assert "PATH_NOT_FOUND" not in str(ei.value)


def test_resumable_with_column_projection(spark, corpus_parquet, tmp_path):
    """columns= flows through the checkpoint-resume job: the committed
    output carries only the requested features (plus keys)."""
    doc_df = spark.read.parquet(corpus_parquet)
    out_dir = str(tmp_path / "out_proj")
    man_dir = str(tmp_path / "man_proj")
    r = run_resumable(spark, doc_df, CFG, out_dir, man_dir,
                      run_id="proj1", n_buckets=4, buckets_per_wave=4,
                      columns=["rsi_change_1"])
    assert not r["remaining"]
    got = spark.read.parquet(out_dir)
    assert {"source", "doc_id", "offset", "token",
            "rsi_change_1"} <= set(got.columns)
    assert "rsi_change_5" not in got.columns


def test_canonicalize_with_manifest_telemetry(spark, tmp_path):
    """canonicalize_with_manifest must (a) return the same fixpoint as a
    bare connected_components call and (b) append one manifest row per
    propagation round with the graph size, a changed-count that hits 0
    on the final round, and monotone non-increasing changed counts are
    NOT required (pointer doubling can plateau) — but the first round
    must touch every non-minimal node of the 4-chain."""
    from atr_adaptive_laguerre_spark.engine.manifest import (
        canonicalize_with_manifest,
    )
    from atr_adaptive_laguerre_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain: diameter > 1
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 21)],                       # pair
        "doc_a bigint, doc_b bigint")
    mdir = str(tmp_path / "components_manifest")
    comp = canonicalize_with_manifest(spark, pairs, mdir, run_id="cc1")
    got = {(r["id"], r["comp"]) for r in comp.collect()}
    want = {(r["id"], r["comp"])
            for r in connected_components(pairs).collect()}
    assert got == want

    m = spark.read.parquet(mdir).toPandas().sort_values("round")
    assert (m["run_id"] == "cc1").all()
    assert m["round"].tolist() == list(range(1, len(m) + 1))
    assert (m["n_nodes"] == 9).all()
    assert (m["n_edges"] == 7).all()
    assert m["changed"].iloc[-1] == 0      # converged
    assert m["changed"].iloc[0] > 0        # the chain needs real work
    assert (m["wall_sec"] >= 0).all()


def test_canonicalize_manifest_survives_nonconvergence(spark, tmp_path):
    """When the propagation loop exhausts max_iter and raises, the
    rounds already executed must still land in the manifest — the
    diverging run is exactly when the lineage matters."""
    import pytest

    from atr_adaptive_laguerre_spark.engine.manifest import (
        canonicalize_with_manifest,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)],   # chain needs >1 round
        "doc_a bigint, doc_b bigint")
    mdir = str(tmp_path / "cc_manifest")
    with pytest.raises(RuntimeError, match="did not converge"):
        canonicalize_with_manifest(spark, pairs, mdir, run_id="ccfail",
                                   max_iter=1)
    m = spark.read.parquet(mdir).toPandas()
    assert len(m) == 1
    assert m["round"].iloc[0] == 1
    assert m["changed"].iloc[0] > 0
    assert m["n_nodes"].iloc[0] == 5 and m["n_edges"].iloc[0] == 4
