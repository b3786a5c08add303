"""The benchmark workloads.

Each workload owns its seeded inputs, one timed iteration (one job
submitted and awaited: a closed loop with one client), the cheap checks
on each iteration's result, the output checks against references run
once per run outside the timed region, and the per-layer probes of a
traced run.  The warm-up runs the same iteration on the same input a few
times before the first timed one.

Layer names follow the package's modules: ``engine.session``,
``engine.partitioning``, ``kernel``, ``engine.features_job`` (the Arrow
boundary), ``queries`` and ``engine.manifest``.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import (
    tokens_to_ohlcv, tokens_to_ohlcv_batched,
)
from atr_adaptive_laguerre_spark.engine.features_job import (
    CELL_BUDGET, feature_columns_for, features_checksum, features_doc,
    features_long,
)
from atr_adaptive_laguerre_spark.engine.manifest import run_resumable
from atr_adaptive_laguerre_spark.engine.partitioning import tiered_repartition
from atr_adaptive_laguerre_spark.kernel.batched import (
    core_loop_batched, get_workspace, pad_sequences,
)
from atr_adaptive_laguerre_spark.kernel.expander_batched import expand_batched
from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
    multi_interval_long,
)
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    multi_interval_features,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import (
    CORE_OUTPUTS, core_loop,
)
from atr_adaptive_laguerre_spark.queries import ORACLES, QUERIES
from perfbench import checks, kernel_child
from perfbench.inputs import CorpusShape, InputCache, TableShape
from perfbench.trace import NullTracer, in_span

#: the headline 121-column multi-interval config (mult 3/12, atr 14)
CFG121 = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                      atr_period=14)
N_FEATURES = len(feature_columns_for(CFG121))
#: the one column of the 1-column sink
ONE_COLUMN = "rsi_percentile_20_base"
#: repetitions of each traced probe; the median is reported
PROBE_REPS = 3

#: buckets of the manifest probe, run in two waves
MANIFEST_BUCKETS = 4

PIT_QUERIES = ("asof_join_orders", "events_lag_lead", "events_rolling_stats",
               "events_sessionize", "events_ffill_bfill", "true_range_atr",
               "resample_ohlcv_1h")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int, tr, name: str) -> float:
    """Median wall of ``reps`` calls, each in its own span."""
    walls = []
    for _ in range(reps):
        with tr.span(name):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _median_call(fn, reps: int) -> float:
    fn()                                   # grow the kernel workspaces once
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Workload:
    name = ""
    #: untimed iterations before the timed loop, measured per workload as
    #: the number after which iteration walls stop falling: the first pays
    #: plan compilation and Python worker start-up, the next ones run slow
    #: while the JIT and the workers' and the JVM's allocators settle
    warm_up_iterations = 2

    def __init__(self, seed: int, smoke: bool, cores: int, work: str,
                 corrupt_expected: bool = False):
        self.seed = seed
        self.smoke = smoke
        self.cores = cores
        self.work = work
        # a deliberately wrong expectation, for testing that a failed
        # check is reported
        self.skew = 1 if corrupt_expected else 0
        self.tokens = 0                    # input units per iteration

    def prepare(self, cache: InputCache) -> None:
        """Generate or load the seeded inputs (not timed)."""
        raise NotImplementedError

    def iteration(self, spark, i: int, tr) -> None:
        """One timed job, submitted and awaited.  Iteration -1 is the
        warm-up."""
        raise NotImplementedError

    def after_iteration(self, i: int) -> list[str]:
        """Cheap checks of the iteration's result (not timed)."""
        return []

    def deep_checks(self, spark) -> list[str]:
        """Output checks against the references, once per run."""
        raise NotImplementedError

    def probes(self, spark, tr) -> dict[str, float]:
        """Per-layer measurements of a traced run."""
        raise NotImplementedError

    def warm_up(self, spark) -> list[str]:
        errors = []
        for _ in range(self.warm_up_iterations):
            self.iteration(spark, -1, NullTracer())
            errors += self.after_iteration(-1)
        return errors

    def input_files(self) -> list[str]:
        raise NotImplementedError

    def scan_probe(self, spark, tr) -> dict[str, float]:
        """Every input read to the noop sink.  Bytes are the files' size on
        disk: the tasks' "Bytes Read" metric under-reports this reader."""
        def scan():
            for f in self.input_files():
                _noop(spark.read.parquet(f))

        return {"scan.s": _timed(scan, PROBE_REPS, tr, "scan"),
                "scan.bytes_read": float(sum(os.path.getsize(f)
                                             for f in self.input_files()))}

    def layer_metrics(self, tasks: list[dict], tr) -> dict[str, float]:
        """Per-layer metrics read from the event log and the spans."""
        return {}


# -- doc-corpus workload ---------------------------------------------------

@dataclasses.dataclass
class Corpus:
    path: str
    doc_ids: list[str]
    sources: list[str]
    toks: list[np.ndarray]
    n_tok: np.ndarray
    tokens: int
    token_sum: int

    @classmethod
    def load(cls, path: str) -> "Corpus":
        t = pq.read_table(path)
        toks = [np.asarray(a, dtype=np.int32) for a in
                t.column("tokens").to_numpy(zero_copy_only=False)]
        n_tok = np.array([len(a) for a in toks])
        return cls(path, t.column("doc_id").to_pylist(),
                   t.column("source").to_pylist(), toks, n_tok,
                   int(n_tok.sum()), int(sum(int(a.sum()) for a in toks)))

    def long_bytes(self) -> int:
        """Bytes one long-form 121-column run ships from the Python worker
        to the JVM, from the Arrow schema: per row two strings (4-byte
        offset plus characters), two int32 and N_FEATURES doubles."""
        chars = sum(int(n) * (len(s) + len(d)) for n, s, d
                    in zip(self.n_tok, self.sources, self.doc_ids))
        return self.tokens * (2 * 4 + 2 * 4 + 8 * N_FEATURES) + chars


class Feat121Long(Workload):
    name = "feat121_long"
    manifest_errors: list[str] = []     # set by the traced manifest probe
    shape_full = CorpusShape(n_docs=1000)
    shape_smoke = CorpusShape(n_docs=30, min_len=40, max_len=300,
                              heavy_every=13, heavy_len=900)

    def prepare(self, cache: InputCache) -> None:
        shape = self.shape_smoke if self.smoke else self.shape_full
        self.body_max = shape.max_len
        self.main = Corpus.load(cache.corpus(shape, self.seed))
        self.tokens = self.main.tokens
        # sample docs for the reference checks: two seeded body docs and
        # the longest (heavy) doc
        rng = random.Random(self.seed)
        body = [i for i, n in enumerate(self.main.n_tok)
                if n <= self.body_max]
        self.samples = sorted(set(rng.sample(body, 2))
                              | {int(np.argmax(self.main.n_tok))})

    def docs(self, spark):
        return spark.read.parquet(self.main.path)

    def input_files(self) -> list[str]:
        return [self.main.path]

    def iteration(self, spark, i: int, tr) -> None:
        from pyspark.sql import Observation

        # counted on the JVM inside the same job, for the row check
        self._observed = Observation(f"feat121_{i}")
        with tr.span("features_job"):
            feats = features_long(self.docs(spark), CFG121,
                                  num_partitions=self.cores)
            _noop(feats.observe(
                self._observed, F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("token").cast("long")).alias("tok")))

    def after_iteration(self, i: int) -> list[str]:
        got = self._observed.get
        errors = []
        if got["rows"] != self.main.tokens + self.skew:
            errors.append(f"rows {got['rows']} != sum(n_tok) "
                          f"{self.main.tokens + self.skew}")
        if got["tok"] != self.main.token_sum:
            errors.append(f"token sum {got['tok']} != input "
                          f"{self.main.token_sum}")
        return errors

    # -- output checks

    def deep_checks(self, spark) -> list[str]:
        ids = [self.main.doc_ids[i] for i in self.samples]
        pdf = features_long(
            self.docs(spark).filter(F.col("doc_id").isin(ids)),
            CFG121).toPandas()
        return (self.core_errors() + self.long_errors(pdf)
                + self.manifest_errors)

    def core_errors(self) -> list[str]:
        """The batched kernel on the padded sample batch must equal the
        reference loop bit for bit on every core output."""
        hlc = [tokens_to_ohlcv(self.main.toks[i]) for i in self.samples]
        mats = [pad_sequences([x[k] for x in hlc])[0] for k in range(3)]
        got = core_loop_batched(*mats, CFG121.atr_period,
                                CFG121.adaptive_offset)
        errors = []
        for b, (i, (h, l, c)) in enumerate(zip(self.samples, hlc)):
            want = core_loop(h, l, c, CFG121.atr_period,
                             CFG121.adaptive_offset)
            for k in CORE_OUTPUTS:
                if not np.array_equal(got[k][b, :len(h)], want[k],
                                      equal_nan=True):
                    errors.append(f"core {k} of {self.main.doc_ids[i]} "
                                  f"differs from reference_impl")
        return errors

    def long_errors(self, pdf) -> list[str]:
        """Long-form output rows of the sample docs against the reference:
        the token column exact, the 121 features within tolerance."""
        errors = []
        for i in self.samples:
            did = self.main.doc_ids[i]
            got = pdf[pdf["doc_id"] == did].sort_values("offset")
            if not np.array_equal(got["token"].to_numpy(np.int64),
                                  self.main.toks[i].astype(np.int64)):
                errors.append(f"token column of {did} differs from input")
                continue
            h, l, c = tokens_to_ohlcv(self.main.toks[i])
            errors += checks.compare_features(
                did, got, multi_interval_features(h, l, c, CFG121))
        return errors

    # -- traced probes

    def probes(self, spark, tr) -> dict[str, float]:
        out = {**self.scan_probe(spark, tr),
               # what one iteration ships across the boundary
               "boundary.rows": float(self.tokens),
               "boundary.bytes": float(self.main.long_bytes())}
        with tr.span("kernel"):
            out.update(self.kernel_probe())
        out.update(self.features_probe(spark, tr))
        out.update(self.partition_probe(spark, tr, out["scan.s"]))
        with tr.span("manifest"):
            out.update(self.manifest_probe(spark, tr))
        return out

    def kernel_probe(self) -> dict[str, float]:
        """The public kernel calls, in this process on one thread, over one
        engine-sized chunk (at most CELL_BUDGET padded cells) of the
        median-length docs; and, in a fresh child process, the longest doc
        as a B=1 row."""
        m = self.main
        body = sorted((i for i, n in enumerate(m.n_tok)
                       if n <= self.body_max), key=lambda i: m.n_tok[i])
        mid = len(body) // 2
        k = max(1, min(len(body), CELL_BUDGET // int(m.n_tok[body[mid]])))
        lo = max(0, mid - k // 2)
        mat, lens = pad_sequences([m.toks[i] for i in body[lo: lo + k]],
                                  dtype=np.int64)
        h, l, c = tokens_to_ohlcv_batched(mat)
        n = int(lens.sum())
        cfg = CFG121

        core_s = _median_call(lambda: core_loop_batched(
            h, l, c, cfg.atr_period, cfg.adaptive_offset, copy_out=False), 3)

        def expand() -> float:
            # inputs exactly as multi_interval_long hands them over
            core = core_loop_batched(h, l, c, cfg.atr_period,
                                     cfg.adaptive_offset, copy_out=False)
            core["close"] = get_workspace().view("close", *h.shape)
            t0 = time.perf_counter()
            expand_batched(core, cfg)
            return time.perf_counter() - t0

        expand()
        expand_s = statistics.median(expand() for _ in range(3))
        mi_s = _median_call(
            lambda: multi_interval_long(h, l, c, lens, cfg), 3)
        b1_s, b1_rss = kernel_child.b1_call(
            m.toks[int(np.argmax(m.n_tok))], cfg, self.work)
        return {
            "kernel.core_us_per_tok": core_s / n * 1e6,
            "kernel.expand_us_per_tok": expand_s / n * 1e6,
            "kernel.mi121_us_per_tok": mi_s / n * 1e6,
            "kernel.b1_us_per_tok": b1_s / int(m.n_tok.max()) * 1e6,
            "kernel.b1_peak_rss_mb": b1_rss,
        }

    def features_probe(self, spark, tr) -> dict[str, float]:
        """Sink subtraction over the iteration's layout: the kernel with a
        checksum sink, 1-column and 121-column long form, and doc grain."""
        df = self.docs(spark).repartition(self.cores)
        chk = _timed(lambda: features_checksum(df, CFG121)
                     .agg(F.sum("n_rows")).collect(), PROBE_REPS, tr,
                     "features.checksum")
        one = _timed(lambda: _noop(features_long(df, CFG121,
                                                 columns=[ONE_COLUMN])),
                     PROBE_REPS, tr, "features.long1")
        full = _timed(lambda: _noop(features_long(df, CFG121)),
                      PROBE_REPS, tr, "features.long121")
        doc = _timed(lambda: _noop(features_doc(df, CFG121)),
                     PROBE_REPS, tr, "features.doc121")
        return {"features.checksum_s": chk, "features.long1_s": one,
                "features.long121_s": full, "features.doc121_s": doc,
                "boundary.long121_s": full - chk,
                "boundary.share": (full - chk) / full}

    def partition_probe(self, spark, tr, scan_s: float) -> dict[str, float]:
        """``tiered_repartition`` of the corpus, the heavy docs (longer
        than 4x the body's longest) as the oversized tier: the layout
        materialized to noop minus the scan, and the token mass per Spark
        partition."""
        layout = tiered_repartition(self.docs(spark), self.cores,
                                    4 * self.body_max)
        part_s = _timed(lambda: _noop(layout), PROBE_REPS, tr, "partition")
        mass = (layout.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.sum("n_tok").alias("t")).toPandas()["t"])
        return {"partition.s": part_s - scan_s,
                "partition.max_tokens": float(mass.max()),
                "partition.max_over_median_tokens":
                    float(mass.max() / mass.median())}

    def manifest_probe(self, spark, tr) -> dict[str, float]:
        """``run_resumable`` on the corpus into fresh parquet and manifest
        dirs: interrupted after one wave, resumed to completion, then
        resumed again with every bucket done."""
        root = os.path.join(self.work, f"write-{os.getpid()}")
        out_dir, man = (os.path.join(root, "out"),
                        os.path.join(root, "manifest"))
        shutil.rmtree(root, ignore_errors=True)
        df = self.docs(spark)
        kw = dict(run_id="probe", n_buckets=MANIFEST_BUCKETS,
                  buckets_per_wave=MANIFEST_BUCKETS // 2)
        try:
            t0 = time.perf_counter()
            with tr.span("manifest.interrupted"):
                run_resumable(spark, df, CFG121, out_dir, man, max_waves=1,
                              **kw)
            with tr.span("manifest.resume"):
                run_resumable(spark, df, CFG121, out_dir, man, **kw)
            calls = time.perf_counter() - t0
            noop = _timed(lambda: run_resumable(spark, df, CFG121, out_dir,
                                                man, **kw),
                          PROBE_REPS, tr, "resume.noop")
            m = pq.read_table(man).to_pandas()
            self.manifest_errors = checks.manifest_errors(
                m, n_buckets=MANIFEST_BUCKETS, tokens=self.tokens,
                parquet_rows=checks.parquet_rows(out_dir))
            waves = sorted(set(m["wall_sec"]))
            files = checks.parquet_files(out_dir)
            nbytes = sum(os.path.getsize(f) for f in files)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return {"manifest.wave_s": statistics.median(waves),
                "manifest.bookkeeping_s": calls - sum(waves),
                "resume.noop_s": noop,
                "write.bytes": float(nbytes),
                "write.files": float(len(files)),
                "stored_bytes_per_token": nbytes / self.tokens}


# -- relational point-in-time workload -------------------------------------

class PitWindows(Workload):
    name = "pit_windows"
    warm_up_iterations = 3
    shape_full = TableShape(n_events=50_000, n_users=750,
                            n_orders=75_000, n_customers=7500)
    shape_smoke = TableShape(n_events=2000, n_users=50, n_orders=3000,
                             n_customers=500)

    def prepare(self, cache: InputCache) -> None:
        shape = self.shape_smoke if self.smoke else self.shape_full
        self.sf_dir = cache.tables(shape, self.seed)
        # one event is one bar of a per-user price stream: the relational
        # analogue of a token
        self.tokens = shape.n_events
        self.order = list(PIT_QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def input_files(self) -> list[str]:
        return [f"{self.sf_dir}/{t}.parquet" for t in ("events", "orders")]

    def iteration(self, spark, i: int, tr) -> None:
        # results come back to the driver (as Arrow) rather than to the
        # noop sink: it measured no slower here, and the output check then
        # reads the very rows the timed iteration produced
        self._results = {}
        for q in self.order:
            with tr.span(f"query.{q}"):
                self._results[q] = QUERIES[q](spark, self.sf_dir).toArrow()

    def deep_checks(self, spark) -> list[str]:
        return checks.oracle_errors(
            self.sf_dir, {q: t.to_pandas() for q, t in self._results.items()},
            ORACLES, skew=self.skew)

    def probes(self, spark, tr) -> dict[str, float]:
        return self.scan_probe(spark, tr)

    def layer_metrics(self, tasks: list[dict], tr) -> dict[str, float]:
        out = {}
        for q in PIT_QUERIES:
            name = f"query.{q}"
            walls = tr.durations(name)
            out[f"{name}.s"] = statistics.median(walls)
            out[f"{name}.shuffle_bytes"] = (
                sum(t["shuffle_write"] for t in in_span(tasks, name))
                / len(walls))
        return out


WORKLOADS = {w.name: w for w in (Feat121Long, PitWindows)}
