"""Streaming incremental updates == batch kernel, across micro-batch and
checkpoint-restart boundaries (reference S1/S2 surface)."""

import os

import numpy as np
import pandas as pd
import pytest
from conftest import SF_DIR

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import make_tokens, tokens_to_ohlcv
from atr_adaptive_laguerre_spark.kernel.reference_impl import (
    CORE_OUTPUTS, core_loop,
)
from atr_adaptive_laguerre_spark.kernel.batched import core_loop_resumed
from atr_adaptive_laguerre_spark.streaming.stateful import (
    new_core_state, stream_rsi,
)

CFG = FeatureConfig(atr_period=14)


@pytest.mark.slow
def test_stream_matches_batch_with_checkpoint_restart(spark, tmp_path):
    """Feed bars in 3 file drops across 2 stream restarts; the streaming
    output must equal the batch kernel bit-for-bit, with state restored
    from the checkpoint between passes, and replayed rows deduped."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    docs = {f"d{i}": tokens_to_ohlcv(make_tokens(i, 90)) for i in range(4)}

    def drop(name, lo, hi):
        rows = []
        for did, (h, l, c) in docs.items():
            for i in range(lo, min(hi, len(c))):
                rows.append(("s0", did, i, h[i], l[i], c[i]))
        pdf = pd.DataFrame(rows, columns=["source", "doc_id", "offset",
                                          "high", "low", "close"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    drop("a", 0, 30)
    stream_rsi(spark, in_dir, out_dir, ckpt, CFG)
    drop("b", 30, 60)
    # overlap 50-60 replays already-seen offsets -> must be ignored
    drop("c", 50, 90)
    stream_rsi(spark, in_dir, out_dir, ckpt, CFG)

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values(["doc_id", "offset"]).reset_index(drop=True))
    assert len(got) == 4 * 90
    assert got.groupby(["doc_id", "offset"]).size().max() == 1

    for did, (h, l, c) in docs.items():
        want = core_loop(h, l, c, CFG.atr_period, CFG.adaptive_offset)
        sub = got[got["doc_id"] == did].sort_values("offset")
        for k in CORE_OUTPUTS:
            np.testing.assert_array_equal(
                sub[k if k != "rsi" else "rsi"].to_numpy(), want[k],
                err_msg=f"{did}.{k}")


@pytest.mark.parametrize("p", [2, 14, 40])
@pytest.mark.parametrize("backend", ["compiled", "numpy"])
def test_resumed_kernel_bit_exact_across_splits(backend, p, request):
    """core_loop_resumed (the vectorized micro-batch path) == the scalar
    reference loop, bit-for-bit, across arbitrary split points including
    mid-warm-up, on both backends; the state a block leaves behind
    continues bar by bar."""
    if backend == "numpy":
        request.getfixturevalue("numpy_backend")
    toks = make_tokens(11, 400)
    h, l, c = tokens_to_ohlcv(toks)
    want = core_loop(h, l, c, p, CFG.adaptive_offset)

    for splits in ([0, 1, 2, 400], [0, p - 1, p, p + 1, 100, 400],
                   [0, 200, 400]):
        st = new_core_state(p)
        got = {k: [] for k in CORE_OUTPUTS}
        for a, b in zip(splits[:-1], splits[1:]):
            out = core_loop_resumed(h[a:b], l[a:b], c[a:b], st,
                                    p, CFG.adaptive_offset)
            for k in CORE_OUTPUTS:
                got[k].append(out[k])
        for k in CORE_OUTPUTS:
            assert (np.concatenate(got[k]) == want[k]).all(), (k, splits)

    # a 250-bar block, then one bar per call from the state it left
    st = new_core_state(p)
    core_loop_resumed(h[:250], l[:250], c[:250], st, p, CFG.adaptive_offset)
    for i in range(250, 400):
        out = core_loop_resumed(h[i:i + 1], l[i:i + 1], c[i:i + 1], st, p,
                                CFG.adaptive_offset)
        for k in CORE_OUTPUTS:
            assert out[k][0] == want[k][i], (k, i)


def test_resumed_kernel_speedup_vs_step():
    """The vectorized micro-batch path must be well clear of a per-bar
    Python loop on a 10k-bar micro-batch (VERDICT r1 item 3).  The
    baseline is the loop oracle ``reference_impl.core_loop``: the same
    per-bar Python work as the replaced itertuples + scalar-step path,
    without its pandas overhead.  The assertion uses 5x to stay robust
    against neighbor load (wall times vary 3-8x on shared hosts)."""
    toks = make_tokens(5, 10_000)
    h, l, c = tokens_to_ohlcv(toks)
    p = CFG.atr_period

    core_loop_resumed(h[:100], l[:100], c[:100], new_core_state(p), p)

    t_vec = min(_timed(lambda: core_loop_resumed(h, l, c,
                                                 new_core_state(p), p))
                for _ in range(3))
    t_loop = min(_timed(lambda: core_loop(h, l, c, p)) for _ in range(3))
    assert t_loop / t_vec >= 5, (t_loop, t_vec)


def _timed(fn):
    import time

    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@pytest.mark.slow
def test_state_ttl_eviction_and_reinit(spark, tmp_path):
    """S3: an idle entity's state times out and is evicted; when it later
    reappears, it re-initializes from scratch (its output equals a fresh
    kernel run over the new bars only, NOT a continuation)."""
    from atr_adaptive_laguerre_spark.streaming.stateful import stream_rsi

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    h, l, c = tokens_to_ohlcv(make_tokens(8, 60))

    def drop(doc, lo, hi):
        pdf = pd.DataFrame({
            "source": "s0", "doc_id": doc,
            "offset": np.arange(lo, hi, dtype=np.int64),
            "high": h[lo:hi], "low": l[lo:hi], "close": c[lo:hi]})
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    import time as _time

    drop("dA", 0, 30)
    stream_rsi(spark, in_dir, out_dir, ckpt, CFG, ttl_ms=1)
    _time.sleep(0.2)
    drop("dB", 0, 10)          # unrelated key: lets dA's timeout fire
    stream_rsi(spark, in_dir, out_dir, ckpt, CFG, ttl_ms=1)
    drop("dA", 30, 60)         # dA reappears after eviction
    stream_rsi(spark, in_dir, out_dir, ckpt, CFG, ttl_ms=1)

    got = (spark.read.parquet(out_dir).filter("doc_id = 'dA'")
           .orderBy("offset").toPandas())
    assert list(got["offset"]) == list(range(60))
    # bars 30..60 must equal a FRESH run over h[30:60] (state was evicted)
    fresh = core_loop(h[30:60], l[30:60], c[30:60],
                      CFG.atr_period, CFG.adaptive_offset)
    tail = got[got["offset"] >= 30]
    assert (tail["rsi"].to_numpy() == fresh["rsi"]).all()
    # and NOT the continuation of the original series
    cont = core_loop(h, l, c, CFG.atr_period, CFG.adaptive_offset)
    assert not (tail["rsi"].to_numpy() == cont["rsi"][30:]).all()


@pytest.mark.slow
def test_watermark_drops_late_data(spark, tmp_path):
    """S5: event-time windowed aggregation with a watermark — a row
    arriving later than the watermark bound is dropped; windows finalize
    (append mode) only after the watermark passes their end."""
    from atr_adaptive_laguerre_spark.streaming.stateful import (
        stream_windowed_stats,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def drop(rows):
        pdf = pd.DataFrame(rows, columns=["source", "doc_id", "ts", "close"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    # batch 1: two bars in window [00:00, 05:00), max event time 00:20:00
    drop([("s0", "d0", "2024-01-01 00:00:30", 10.0),
          ("s0", "d0", "2024-01-01 00:01:30", 20.0),
          ("s0", "d0", "2024-01-01 00:20:00", 99.0)])
    stream_windowed_stats(spark, in_dir, out_dir, ckpt,
                          watermark="1 minute", window="5 minutes")
    # batch 2: a LATE bar for the long-closed first window (would change
    # n_bars to 3) + a fresh bar advancing the watermark further
    drop([("s0", "d0", "2024-01-01 00:02:00", 1000.0),   # late -> dropped
          ("s0", "d0", "2024-01-01 00:40:00", 50.0)])
    stream_windowed_stats(spark, in_dir, out_dir, ckpt,
                          watermark="1 minute", window="5 minutes")

    got = spark.read.parquet(out_dir).orderBy("w_start").toPandas()
    first = got[got["w_start"] == pd.Timestamp("2024-01-01 00:00:00")]
    assert len(first) == 1
    # late row excluded: 2 bars, avg 15, max 20 (not 3 bars / max 1000)
    assert int(first["n_bars"].iloc[0]) == 2
    assert float(first["max_close"].iloc[0]) == 20.0


@pytest.mark.slow
def test_stream_features43_matches_batch(spark, tmp_path):
    """Streaming 43-column expansion (beyond-reference surface) ==
    batch expander bit-for-bit across micro-batch splits, including a
    replay overlap — the windowed stats, EWM velocity and unbounded
    counters all resume from carried state."""
    from atr_adaptive_laguerre_spark.kernel.batched import core_loop_batched
    from atr_adaptive_laguerre_spark.kernel.expander_batched import (
        expand_batched,
    )
    from atr_adaptive_laguerre_spark.streaming.expanded import (
        stream_features43,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    n = 400       # > HIST + margin so state truncation is exercised
    docs = {f"d{i}": tokens_to_ohlcv(make_tokens(20 + i, n))
            for i in range(3)}

    def drop(lo, hi):
        rows = []
        for did, (h, l, c) in docs.items():
            for i in range(lo, min(hi, n)):
                rows.append(("s0", did, i, h[i], l[i], c[i]))
        pdf = pd.DataFrame(rows, columns=["source", "doc_id", "offset",
                                          "high", "low", "close"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    drop(0, 150)
    stream_features43(spark, in_dir, out_dir, ckpt, CFG)
    drop(150, 290)
    drop(280, 400)       # replay overlap 280-290 must be deduped
    stream_features43(spark, in_dir, out_dir, ckpt, CFG)

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values(["doc_id", "offset"]).reset_index(drop=True))
    assert len(got) == 3 * n
    assert got.groupby(["doc_id", "offset"]).size().max() == 1

    from atr_adaptive_laguerre_spark.kernel.expander_ref import (
        FEATURE_COLUMNS,
    )

    for did, (h, l, c) in docs.items():
        core = core_loop_batched(h[None, :], l[None, :], c[None, :],
                                 CFG.atr_period, CFG.adaptive_offset)
        core["close"] = np.asarray(c)[None, :]
        want = expand_batched(core, CFG)
        sub = got[got["doc_id"] == did].sort_values("offset")
        for col in FEATURE_COLUMNS:
            g = sub[col].to_numpy()
            w = want[col][0]
            ok = (g == w) | (np.isnan(g) & np.isnan(w))
            assert ok.all(), (did, col, int((~ok).sum()),
                              int(np.argmax(~ok)))


def test_stream_dedup_exact_bounded_state(spark, tmp_path):
    """Streaming exact dedup: exactly one survivor per content group
    within the watermark window, agreeing with the batch operator's
    groups; duplicates arriving in a later micro-batch (same run) are
    still suppressed by checkpointed state."""
    from datetime import datetime, timedelta

    from atr_adaptive_laguerre_spark.streaming.dedup import (
        stream_dedup_exact,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    texts = [f"unique document number {i} with shared filler words"
             for i in range(10)]

    def drop(doc_rows):
        pdf = pd.DataFrame(doc_rows, columns=["doc_id", "text", "ts"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    # batch 1: 10 originals + 10 exact dups (whitespace-jittered)
    rows = []
    for i, t in enumerate(texts):
        rows.append((f"o{i:02d}", t, t0 + timedelta(seconds=i)))
        rows.append((f"d{i:02d}", "  " + t.upper().lower() + " ",
                     t0 + timedelta(seconds=i, milliseconds=500)))
    drop(rows)
    stream_dedup_exact(spark, in_dir, out_dir, ckpt, watermark="10 minutes")

    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 10                      # one survivor per group
    assert got["chash"].nunique() == 10

    # batch 2 (restart from checkpoint): more dups inside the watermark
    # window + 2 genuinely new docs -> only the new docs are emitted
    rows2 = [(f"x{i:02d}", texts[i], t0 + timedelta(seconds=90 + i))
             for i in range(5)]
    rows2 += [(f"n{j}", f"brand new content {j}",
               t0 + timedelta(seconds=120 + j)) for j in range(2)]
    drop(rows2)
    stream_dedup_exact(spark, in_dir, out_dir, ckpt, watermark="10 minutes")

    got2 = spark.read.parquet(out_dir).toPandas()
    assert len(got2) == 12, got2.sort_values("doc_id")
    assert got2["chash"].nunique() == 12

    # parity with the batch operator's grouping on the same corpus
    all_rows = spark.read.parquet(in_dir)
    from pyspark.sql import functions as F
    norm = F.concat_ws(" ", F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    batch_groups = all_rows.select(F.md5(norm).alias("chash")).distinct()
    assert batch_groups.count() == 12
    assert (set(got2["chash"]) ==
            {r["chash"] for r in batch_groups.collect()})


def test_stream_121_short_entity_emits_nothing_then_catches_up(spark,
                                                               tmp_path):
    """An entity shorter than multiplier_2 has no complete mult2 window:
    no row is final, nothing is emitted (the batch bfill for its early
    rows is still open). Once enough bars arrive in a later drop, the
    backlog emits and matches batch."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        tokens_to_availability,
    )
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        stream_features121_incremental,
    )

    cfg = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                       atr_period=14, availability=True)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    toks = make_tokens(99, 30)
    h, l, c = tokens_to_ohlcv(toks)
    av = tokens_to_availability(toks)

    def drop(lo, hi):
        rows = [("s0", "dshort", j, float(h[j]), float(l[j]), float(c[j]),
                 float(av[j])) for j in range(lo, hi)]
        pdf = pd.DataFrame(rows, columns=["source", "doc_id", "offset",
                                          "high", "low", "close", "avail"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    drop(0, 8)       # < multiplier_2: nothing final
    stream_features121_incremental(spark, in_dir, out_dir, ckpt, cfg)
    import glob
    files = glob.glob(f"{out_dir}/*.parquet")
    n0 = (spark.read.parquet(out_dir).count()
          if files else 0)
    assert n0 == 0, n0

    drop(8, 30)      # 2 complete mult2 windows now
    stream_features121_incremental(spark, in_dir, out_dir, ckpt, cfg)
    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("offset").reset_index(drop=True))
    av_cap = min(av[(30 // 3) * 3 - 1], av[(30 // 12) * 12 - 1])
    exp_hi = int(np.searchsorted(av, av_cap, side="right"))
    assert got["offset"].tolist() == list(range(exp_hi))
    want = multi_interval_long(h[None, :], l[None, :], c[None, :],
                               np.array([30], dtype=np.int64), cfg,
                               avail=av[None, :])
    a = got["mean_rsi_across_intervals"].to_numpy()
    b = want["mean_rsi_across_intervals"][:exp_hi]
    ok = (a == b) | (np.isnan(a) & np.isnan(b))
    assert ok.all()


def test_stream_121_offset_gap_raises():
    """The availability-121 stepper resamples positionally (history
    position == offset), so a missing offset must fail loud, naming the
    entity, rather than emit misaligned windows."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        tokens_to_availability,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        make_update121_inc_fn,
    )

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, tup):
            self.saved = tup

    cfg = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                       atr_period=14, availability=True)
    toks = make_tokens(7, 21)
    h, l, c = tokens_to_ohlcv(toks)
    av = tokens_to_availability(toks)

    def chunk(lo, hi):
        return pd.DataFrame({
            "source": "s0", "doc_id": "dgap",
            "offset": np.arange(lo, hi, dtype=np.int64),
            "high": h[lo:hi], "low": l[lo:hi], "close": c[lo:hi],
            "avail": av[lo:hi]})

    fn = make_update121_inc_fn(cfg)
    with pytest.raises(ValueError, match="offset gap for entity 'dgap'"):
        list(fn(("s0", "dgap"), iter([chunk(0, 10), chunk(11, 21)]),
                FakeState()))


def test_out_of_order_chunks_within_microbatch():
    """Regression: a group's micro-batch can arrive as several Arrow
    chunks whose ORDER is not offset-ordered (multiple files, >1 Arrow
    batch). Per-chunk `offset > last_offset` filtering would drop the
    later-arriving earlier offsets as replays; the gather-first fix must
    process all 100 bars and stay bit-exact, including a replayed
    overlap chunk."""
    from atr_adaptive_laguerre_spark.streaming.stateful import (
        make_update_fn,
    )

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, tup):
            self.saved = tup

    toks = make_tokens(5, 100)
    h, l, c = tokens_to_ohlcv(toks)

    def chunk(lo, hi):
        return pd.DataFrame({
            "source": "s0", "doc_id": "d0",
            "offset": np.arange(lo, hi, dtype=np.int64),
            "high": h[lo:hi], "low": l[lo:hi], "close": c[lo:hi]})

    # later offsets arrive FIRST, plus a duplicate overlap chunk
    fn = make_update_fn(CFG)
    outs = list(fn(("s0", "d0"),
                   iter([chunk(50, 100), chunk(0, 50), chunk(40, 60)]),
                   FakeState()))
    got = (pd.concat(outs).sort_values("offset").reset_index(drop=True))
    assert got["offset"].tolist() == list(range(100))
    want = core_loop(h, l, c, CFG.atr_period, CFG.adaptive_offset)
    np.testing.assert_array_equal(got["rsi"].to_numpy(), want["rsi"])
    np.testing.assert_array_equal(got["atr"].to_numpy(), want["atr"])


def test_bars_since_event_exactly_hist_bars_back():
    """Regression: when the ONLY oversold bar in a micro-batch's
    (hist + new) slab sits exactly at slab position 0 (the event is
    precisely HIST bars before the batch boundary), the old
    cum_not*event reset trick couldn't distinguish it from 'no event'
    and drifted bars_since_* by 1. Craft a series whose last oversold
    bar is at 41, split at 41 + HIST = 159, and require bit-exact batch
    parity for every column of the second micro-batch."""
    from atr_adaptive_laguerre_spark.kernel.batched import core_loop_batched
    from atr_adaptive_laguerre_spark.kernel.expander_batched import (
        expand_batched,
    )
    from atr_adaptive_laguerre_spark.kernel.expander_ref import (
        FEATURE_COLUMNS,
    )
    from atr_adaptive_laguerre_spark.streaming.expanded import (
        HIST, make_update43_fn,
    )

    n = 220
    c = np.empty(n)
    c[0] = 100.0
    for i in range(1, n):
        if i <= 36:
            c[i] = c[i - 1] - 1.0 - 0.1 * np.sin(i)
        else:
            c[i] = c[i - 1] + 0.35 + 0.3 * np.sin(i * 0.7)
    h, l = c + 0.5, c - 0.5

    core = core_loop_batched(h[None, :], l[None, :], c[None, :],
                             CFG.atr_period, CFG.adaptive_offset)
    rsi = core["rsi"][0]
    os_idx = np.where(rsi < CFG.level_down)[0]
    assert len(os_idx) and os_idx[-1] == 41, os_idx  # series shape pin
    split = 41 + HIST      # = 159: slab pos 0 of batch 2 IS the event

    class FakeState:
        exists = False
        hasTimedOut = False
        saved = None

        def update(self, tup):
            self.saved = tup

        @property
        def get(self):
            return self.saved

    def chunk(lo, hi):
        return pd.DataFrame({
            "source": "s0", "doc_id": "d0",
            "offset": np.arange(lo, hi, dtype=np.int64),
            "high": h[lo:hi], "low": l[lo:hi], "close": c[lo:hi]})

    fn = make_update43_fn(CFG)
    st = FakeState()
    out1 = list(fn(("s0", "d0"), iter([chunk(0, split)]), st))
    st.exists = True
    out2 = list(fn(("s0", "d0"), iter([chunk(split, n)]), st))
    got = (pd.concat(out1 + out2).sort_values("offset")
           .reset_index(drop=True))

    core["close"] = c[None, :]
    want = expand_batched(core, CFG)
    for col in FEATURE_COLUMNS:
        a = got[col].to_numpy()
        b = want[col][0]
        ok = (a == b) | (np.isnan(a) & np.isnan(b))
        assert ok.all(), (col, np.where(~ok)[0][:5])


def test_stream_incremental_neardup_grows_index(spark, tmp_path):
    """Crawl-increment streaming dedup: batch 1's near-dup of an
    INDEXED doc is dropped and its fresh docs are kept (within-batch
    exact dups collapse to min doc_id); after batch 1 commits, the
    index has grown, so batch 2's near-copy of a batch-1 doc is also
    dropped.  Re-running the stream on the same checkpoint is a no-op."""
    from atr_adaptive_laguerre_spark.operators.dedup import (
        band_signatures, shingles_col,
    )
    from atr_adaptive_laguerre_spark.streaming.dedup import (
        stream_incremental_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again while the indexing pipeline watches every word")
    fresh = ("totally novel crawl content mentioning catalyst plans "
             "and arrow batches and nothing else that was seen before")
    idx = spark.createDataFrame([(1, base)], "doc_id long, text string")
    index_dir = str(tmp_path / "index")
    band_signatures(idx).write.parquet(f"{index_dir}/bands/batch=init")
    (idx.select("doc_id", shingles_col().alias("sh"))
     .write.parquet(f"{index_dir}/shingles/batch=init"))

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [(100, base + " with a tiny suffix edit"),   # near-dup of indexed
         (101, fresh),                                # fresh -> kept+indexed
         (102, fresh + " extra exact"), (103, fresh + " extra exact")],
        "doc_id long, text string")
    b1.coalesce(1).write.mode("append").parquet(input_dir)
    stream_incremental_neardup(spark, input_dir, index_dir, out_dir, ckpt)

    out = spark.read.parquet(out_dir).toPandas()
    assert sorted(out["doc_id"]) == [101, 102]   # 100 dropped, 103 exact-dup

    # idempotent re-run: no new input -> nothing changes
    stream_incremental_neardup(spark, input_dir, index_dir, out_dir, ckpt)
    assert sorted(spark.read.parquet(out_dir).toPandas()["doc_id"]) \
        == [101, 102]

    # batch 2: near-copy of the batch-1 doc 101 -> caught by the GROWN index
    b2 = spark.createDataFrame(
        [(200, fresh + " trailing tweak"), (201, "another entirely new "
          "document about watermark semantics and state stores")],
        "doc_id long, text string")
    b2.coalesce(1).write.mode("append").parquet(input_dir)
    stream_incremental_neardup(spark, input_dir, index_dir, out_dir, ckpt)
    out2 = spark.read.parquet(out_dir).toPandas()
    assert sorted(out2["doc_id"]) == [101, 102, 201]


def test_stream_dsir_select_matches_batch(spark, tmp_path):
    """Streaming DSIR selection: micro-batches score against the
    persisted model exactly as score_dsir_batch does in batch (same
    s_micro per doc), the integer per-gram threshold keeps only
    target-lookalike docs, and a checkpointed re-run is a no-op."""
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.operators.curation import (
        build_dsir_model, score_dsir_batch,
    )
    from atr_adaptive_laguerre_spark.streaming.dedup import (
        stream_dsir_select,
    )

    train = []
    for i in range(8):
        train.append((i, " ".join(f"alpha{j % 5}"
                                  for j in range(i, i + 30))))
    for i in range(8, 16):
        train.append((i, " ".join(f"zulu{j % 5}"
                                  for j in range(i, i + 30))))
    docs = spark.createDataFrame(train, "doc_id long, text string")
    model_dir = str(tmp_path / "model")
    build_dsir_model(docs, F.col("doc_id") < 4, model_dir)

    b1 = spark.createDataFrame(
        [(100, " ".join(f"alpha{j % 5}" for j in range(3, 33))),
         (101, " ".join(f"zulu{j % 5}" for j in range(3, 33)))],
        "doc_id long, text string")
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.mode("append").parquet(input_dir)
    stream_dsir_select(spark, input_dir, model_dir, out_dir, ckpt,
                       min_micro_per_gram=0)

    out = spark.read.parquet(out_dir).toPandas()
    assert sorted(out["doc_id"]) == [100]   # alpha kept, zulu below 0

    # streamed score == batch score against the same model
    batch_scores = (score_dsir_batch(spark, b1, model_dir).toPandas()
                    .set_index("doc_id")["s_micro"])
    assert out.set_index("doc_id")["s_micro"].loc[100] \
        == batch_scores.loc[100]
    assert batch_scores.loc[101] < 0

    # checkpointed re-run with no new input: nothing changes
    stream_dsir_select(spark, input_dir, model_dir, out_dir, ckpt,
                       min_micro_per_gram=0)
    assert sorted(spark.read.parquet(out_dir).toPandas()["doc_id"]) \
        == [100]


def test_stream_chunk_clean_matches_batch(spark, tmp_path):
    """Streaming chunk dedup vs the batch operator: streaming the
    corpus in two doc_id-ordered micro-batches through the persisted
    chunk-hash index yields EXACTLY the frame one batch
    chunk_clean_frame produces over the concatenated corpus — including
    a batch-2 doc whose chunk first appeared in batch 1.  A re-run on
    the same checkpoint with no new input is a no-op."""
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.operators.dedup import (
        CHUNK_W, chunk_clean_frame,
    )
    from atr_adaptive_laguerre_spark.streaming.dedup import (
        stream_chunk_clean,
    )

    boiler = " ".join(f"w{i}" for i in range(CHUNK_W))   # shared chunk
    rows_b1 = [
        (1, boiler + " tail one alpha"),
        (2, " ".join(f"u{i}" for i in range(CHUNK_W)) + " " + boiler),
    ]
    rows_b2 = [
        (3, boiler + " " + " ".join(f"v{i}" for i in range(CHUNK_W))),
        (4, " ".join(f"x{i}" for i in range(CHUNK_W + 5))),
    ]
    schema = "doc_id long, text string"
    input_dir = str(tmp_path / "in")
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(rows_b1, schema).coalesce(1) \
        .write.mode("append").parquet(input_dir)
    stream_chunk_clean(spark, input_dir, index_dir, out_dir, ckpt)
    spark.createDataFrame(rows_b2, schema).coalesce(1) \
        .write.mode("append").parquet(input_dir)
    stream_chunk_clean(spark, input_dir, index_dir, out_dir, ckpt)

    streamed = (spark.read.parquet(out_dir)
                .select("doc_id", "n_chunks", "n_kept", "clean_text")
                .toPandas().sort_values("doc_id").reset_index(drop=True))
    full = spark.createDataFrame(rows_b1 + rows_b2, schema)
    batch = (chunk_clean_frame(full)
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert streamed.equals(batch), (streamed, batch)

    # doc 2's copy of the boiler chunk fell within batch 1, doc 3's
    # fell ACROSS batches (via the index): both cleaned
    by_id = streamed.set_index("doc_id")
    assert "w0" in by_id.loc[1, "clean_text"]
    assert "w0" not in by_id.loc[2, "clean_text"]
    assert "w0" not in by_id.loc[3, "clean_text"]
    assert by_id.loc[4, "n_kept"] == 1

    # no new input -> checkpointed re-run changes nothing
    stream_chunk_clean(spark, input_dir, index_dir, out_dir, ckpt)
    again = (spark.read.parquet(out_dir)
             .select("doc_id", "n_chunks", "n_kept", "clean_text")
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert again.equals(streamed)


def test_stream_semantic_index_append_grows_served_corpus(spark, tmp_path):
    """Streaming IVF add(): vectors arriving after build_semantic_index
    are assigned to their nearest TRAINED cell (codebook untouched) and
    appended under asgn_inc/batch=<id>; the streamed assignments are
    bit-identical to _assign_cells run in batch under the same codebook,
    every index consumer transparently sees the grown corpus, and a
    checkpointed re-run with no new input is a no-op."""
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.operators.similarity import (
        _assign_cells, _norm, _read_semantic_index, build_semantic_index,
        kmeans_from_index,
    )
    from atr_adaptive_laguerre_spark.streaming.similarity import (
        stream_semantic_index_append,
    )

    raw = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb = raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx = str(tmp_path / "semantic_index")
    build_semantic_index(emb.filter(F.col("vec_id") < 300), idx)
    base_n = spark.read.parquet(f"{idx}/asgn").count()
    assert base_n == 300

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    (raw.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
     .select("vec_id", "embedding")
     .coalesce(1).write.mode("append").parquet(input_dir))
    stream_semantic_index_append(spark, input_dir, idx, ckpt)

    cent, asgn = _read_semantic_index(spark, idx)
    assert asgn.count() == 400

    # streamed assignment == batch _assign_cells under the SAME codebook
    inc = (asgn.filter(F.col("vec_id") >= 300)
           .toPandas().sort_values("vec_id").reset_index(drop=True))
    want = (_assign_cells(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
        .withColumn("nrm", _norm(F.col("v"))), cent)
        .select("vec_id", "v", "nrm", "acos", "cell")
        .toPandas().sort_values("vec_id").reset_index(drop=True))
    assert inc[["vec_id", "acos", "cell"]].equals(
        want[["vec_id", "acos", "cell"]])

    # consumers see the grown corpus: one summary row per vector, and
    # each streamed vector's cluster_size counts its streamed peers
    km = kmeans_from_index(spark, idx).toPandas()
    assert len(km) == 400
    sizes = km.groupby("cell")["cluster_size"].first()
    assert sizes.sum() == 400

    # checkpointed re-run with no new input: nothing appended
    stream_semantic_index_append(spark, input_dir, idx, ckpt)
    _, again = _read_semantic_index(spark, idx)
    assert again.count() == 400

    # a second micro-batch grows it further (cross-batch accumulation)
    (raw.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
     .coalesce(1).write.mode("append").parquet(input_dir))
    stream_semantic_index_append(spark, input_dir, idx, ckpt)
    _, grown = _read_semantic_index(spark, idx)
    assert grown.count() == 500


def test_jsonl_stream_ingest_matches_batch(spark, tmp_path):
    """Streaming JSONL ingest == batch JSONL read on the same files:
    the schema-required file-stream source drains the backlog with
    availableNow and delivers exactly the batch reader's rows — clean
    rows identical, the planted malformed line routed to the
    corrupt-record dead-letter column in BOTH modes."""
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.operators.io import (
        read_jsonl, read_jsonl_stream, read_table, write_jsonl,
    )

    docs = read_table(spark, SF_DIR, "documents")
    src = tmp_path / "stream_src"
    write_jsonl(docs.limit(200), str(src))
    good = ('{"doc_id": 9000001, "text": "late shard", "lang": "en", '
            '"source": "crawl", "n_chars": 10}')
    (src / "late-shard.json").write_text(
        good + "\n" + '{"doc_id": 9000002, OOPS' + "\n")

    batches = []
    q = (read_jsonl_stream(spark, str(src), docs.schema)
         .writeStream
         .foreachBatch(lambda bdf, bid: batches.append(bdf.toPandas()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    import pandas as pd
    got = pd.concat(batches, ignore_index=True)
    want = read_jsonl(spark, str(src), docs.schema).cache().toPandas()
    assert len(got) == len(want)
    key = [c for c in want.columns if c != "_corrupt_record"]
    g = got.sort_values("doc_id", na_position="last").reset_index(drop=True)
    w = want.sort_values("doc_id", na_position="last").reset_index(drop=True)
    assert g[key].equals(w[key]), (g.head(), w.head())
    dead_g = got["_corrupt_record"].dropna().tolist()
    dead_w = want["_corrupt_record"].dropna().tolist()
    assert dead_g == dead_w and len(dead_g) == 1 and "OOPS" in dead_g[0]


def test_stream_sample_weighted_matches_batch(spark, tmp_path):
    """The streaming weighted reservoir equals the batch priority
    sample over the concatenated corpus: after two stream invocations
    (second shard arriving later, resuming from the checkpoint), the
    persisted n-row sample is row-identical — same docs, same order,
    same keys — to corpus_sample_weighted over the full corpus."""
    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_sample_weighted,
    )
    from atr_adaptive_laguerre_spark.streaming.dedup import (
        stream_sample_weighted,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    inp = tmp_path / "in"
    inp.mkdir()
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    half_a.coalesce(1).write.mode("overwrite") \
        .parquet(str(inp / "shard_a"))
    # file source watches a flat dir of files; move the part file up
    import glob
    import shutil
    for i, d in enumerate(["shard_a"]):
        part = glob.glob(str(inp / d / "part-*.parquet"))[0]
        shutil.move(part, str(inp / f"{d}.parquet"))
        shutil.rmtree(str(inp / d))

    sample_dir = str(tmp_path / "sample")
    ckpt = str(tmp_path / "ckpt")
    stream_sample_weighted(spark, str(inp), sample_dir, ckpt)
    got_a = spark.read.parquet(sample_dir).toPandas()
    assert len(got_a) == 50

    half_b.coalesce(1).write.mode("overwrite") \
        .parquet(str(inp / "shard_b"))
    part = glob.glob(str(inp / "shard_b" / "part-*.parquet"))[0]
    shutil.move(part, str(inp / "shard_b.parquet"))
    shutil.rmtree(str(inp / "shard_b"))
    stream_sample_weighted(spark, str(inp), sample_dir, ckpt)

    got = (spark.read.parquet(sample_dir).toPandas()
           .sort_values(["key_q", "doc_id"],
                        ascending=[False, True]).reset_index(drop=True))
    want = (q_corpus_sample_weighted(spark, SF_DIR).toPandas()
            .sort_values("rank").reset_index(drop=True))
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["key_q"]) == list(want["key_q"])


def test_stream_sample_weighted_crash_window_recovers(spark, tmp_path):
    """r6 crash-safety: the reservoir swap leaves the pre-batch sample
    readable from the ".old" fallback if a crash lands between the two
    renames (live dir moved aside, replacement not yet in place).  A
    later stream invocation must recover that state and still converge
    to the exact batch sample over the full corpus."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from atr_adaptive_laguerre_spark.operators.curation import (
        q_corpus_sample_weighted,
    )
    from atr_adaptive_laguerre_spark.streaming.dedup import (
        stream_sample_weighted,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    inp = tmp_path / "in"
    inp.mkdir()

    def ship(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(inp / name))
        part = glob.glob(str(inp / name / "part-*.parquet"))[0]
        shutil.move(part, str(inp / f"{name}.parquet"))
        shutil.rmtree(str(inp / name))

    ship(docs.filter(F.col("doc_id") % 2 == 0), "shard_a")
    sample_dir = str(tmp_path / "sample")
    ckpt = str(tmp_path / "ckpt")
    stream_sample_weighted(spark, str(inp), sample_dir, ckpt)

    # simulate the crash window: live dir renamed aside, replacement
    # never arrived — the primary path is GONE
    shutil.move(sample_dir, sample_dir + ".old")
    assert not glob.glob(sample_dir)

    ship(docs.filter(F.col("doc_id") % 2 == 1), "shard_b")
    stream_sample_weighted(spark, str(inp), sample_dir, ckpt)

    got = (spark.read.parquet(sample_dir).toPandas()
           .sort_values(["key_q", "doc_id"],
                        ascending=[False, True]).reset_index(drop=True))
    want = (q_corpus_sample_weighted(spark, SF_DIR).toPandas()
            .sort_values("rank").reset_index(drop=True))
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["key_q"]) == list(want["key_q"])
    # the stale fallback snapshot was cleaned up by the swap
    assert not glob.glob(sample_dir + ".old")
