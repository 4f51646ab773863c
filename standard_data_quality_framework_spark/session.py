"""SparkSession factory tuned for the quality-filter workload.

Local mode for tests/bench; the same config block is what we'd ship in
spark-defaults for a real cluster (AQE, Arrow, sensible shuffle sizing).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sdqf_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to the
    core count — on a real cluster this would be ~2-3× total executor
    cores; AQE coalescing makes the exact number non-critical.

    Reusing a running session applies the ``spark.sql.*`` settings, but
    the master and every other conf were fixed when its SparkContext
    started: each one requested with a different value is named in a
    ``RuntimeWarning`` (``spark.conf.get`` would echo the requested
    value back while the context keeps running with the old one).
    """
    cores_s = "*" if cores is None else str(cores)
    n_shuffle = shuffle_partitions or (os.cpu_count() if cores is None else cores)
    master = f"local[{cores_s}]"
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Byte-bound Arrow batches (Spark 4 knob) for the batches sent
        # to pandas-UDF workers: multi-KB text rows would otherwise
        # ship ~40 MB batches (10k records) — measured on the
        # 600k-page pipeline at 32 cores, clamping to 8 MB (~2k text
        # rows/batch) cut the median ~10% and removed a 2-3× long-tail
        # of memory-spike runs, while narrow numeric traffic
        # (embeddings etc.) stays at the 10k-record bound. Per Spark's
        # own conf doc it does not govern createDataFrame/toPandas
        # with Arrow/pandas instances.
        "spark.sql.execution.arrow.maxBytesPerBatch": "8388608",
        "spark.driver.memory": os.environ.get("SDQF_DRIVER_MEM", "16g"),
        # HotSpot refuses to JIT-compile methods past 8000 bytecodes
        # (-XX:DontCompileHugeMethods default) and runs them in the
        # bytecode interpreter; whole-stage codegen over wide
        # projections and aggregates can emit such methods. The flag
        # was measured (r6) on the unrolled vector math, since
        # deleted; whether a remaining plan emits a huge method is
        # UNVERIFIED — the flag changes nothing when none does. On a
        # cluster it goes in spark.executor.extraJavaOptions too
        # (local mode has one JVM, so driver covers both roles here).
        "spark.driver.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        "spark.executor.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        "spark.ui.enabled": "false",
        # parquet split sizing: at 100 TB this keeps scan tasks ~128 MB
        "spark.sql.files.maxPartitionBytes": "134217728",
        **(extra_conf or {}),
    }
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    running = dict(sc.getConf().getAll())
    stale = [] if sc.master == master else [
        f"master={master!r} (running {sc.master!r})"]
    for k, v in conf.items():
        have = running.get(k)
        # Spark prepends its own JVM flags to *.extraJavaOptions
        if k.startswith("spark.sql.") or have == v or (
                have or "").endswith(" " + v):
            continue
        stale.append(f"{k}={v!r} (running {have!r})")
    if stale:
        warnings.warn(
            "get_spark reused a running SparkContext; these settings did "
            "not take effect (stop the session to change them): "
            + ", ".join(stale), RuntimeWarning, stacklevel=2)
    return spark
