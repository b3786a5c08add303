"""spark-submit entry point for the resumable feature job.

Package the library and submit:

    python tools/make_pyfiles.py                       # -> dist/atr_adaptive_laguerre_spark.zip
    spark-submit --master local[32] \\
        --driver-java-options "-Darrow.enable_unsafe_memory_access=true \\
                               -Darrow.enable_null_check_for_get=false" \\
        --py-files dist/atr_adaptive_laguerre_spark.zip \\
        tools/submit_job.py \\
        --input /path/tokens.parquet \\
        --output /path/features \\
        --manifest /path/manifest \\
        --run-id nightly-2026-08-16 \\
        --multi-interval --n-buckets 64 --buckets-per-wave 8

Re-submitting with the same --run-id resumes from the manifest.

The Python workers start under the retaining allocator the kernel's
fresh per-chunk arrays rely on: ``MALLOC_ENV`` and, when it builds, the
``native/bigcache`` shim of this checkout, passed as
``spark.executorEnv.*`` (see ``engine.session.worker_env``).  On a
cluster the shim's path must exist on the executors too, or the loader
skips it.

The JVMs read the Python workers' Arrow batches without Arrow Java's
per-value bounds and null checks (``engine.session.ARROW_JAVA_OPTIONS``).
spark-submit starts the driver JVM before this script runs, so the driver
(which is also the executor under ``local[N]``) takes them from
``--driver-java-options`` as above; the script appends them to
``spark.executor.extraJavaOptions`` for cluster executors, keeping any
value passed with ``--conf``.
"""

from __future__ import annotations

import argparse
import json
import os

#: the checkout's ``native/`` (the package may be imported from the zip)
NATIVE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "native")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--atr-period", type=int, default=14)
    ap.add_argument("--multi-interval", action="store_true")
    ap.add_argument("--multiplier-1", type=int, default=3)
    ap.add_argument("--multiplier-2", type=int, default=12)
    ap.add_argument("--availability", action="store_true")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="pin an Iceberg snapshot (table inputs only)")
    ap.add_argument("--columns", default=None,
                    help="comma-separated feature columns to ship "
                         "(worker-side projection; default all)")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-wave", type=int, default=4)
    args = ap.parse_args()

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from atr_adaptive_laguerre_spark.config import FeatureConfig
    from atr_adaptive_laguerre_spark.engine.manifest import run_resumable
    from atr_adaptive_laguerre_spark.engine.session import (
        java_options, worker_env,
    )
    from atr_adaptive_laguerre_spark.engine.sources import read_sequences

    b = SparkSession.builder.appName("atr-adaptive-laguerre-features")
    for k, v in worker_env(NATIVE_DIR).items():
        b = b.config(f"spark.executorEnv.{k}", v)
    # connect to spark-submit's JVM first: without it SparkConf() is an
    # empty Python dict that misses the caller's --conf values
    SparkContext._ensure_initialized()
    key = "spark.executor.extraJavaOptions"
    b = b.config(key, java_options(SparkConf().get(key, None)))
    spark = b.getOrCreate()

    if args.multi_interval:
        cfg = FeatureConfig.multi_interval(
            multiplier_1=args.multiplier_1, multiplier_2=args.multiplier_2,
            atr_period=args.atr_period, availability=args.availability)
    else:
        cfg = FeatureConfig(atr_period=args.atr_period)

    # --input: Iceberg/catalog table reference OR parquet path
    doc_df = read_sequences(spark, args.input,
                            snapshot_id=args.snapshot_id)
    cols = args.columns.split(",") if args.columns else None
    summary = run_resumable(
        spark, doc_df, cfg, args.output, args.manifest,
        run_id=args.run_id, n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave, columns=cols)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
