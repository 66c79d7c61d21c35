"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are chosen so the
same code would behave on a multi-executor cluster (AQE on, sane shuffle
partition counts, Arrow enabled for all pandas UDF exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import search_engine_spark


def get_spark(
    app_name: str = "search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    cores=None → ``local[*]``. shuffle_partitions defaults to the core count
    (local mode: one JVM; 200 default partitions would just add task overhead).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_str = env if env else "*"
    else:
        cores_str = str(cores)
    n_shuffle = shuffle_partitions or (
        int(cores_str) * 2 if cores_str.isdigit() else 32
    )
    # Python workers import the engine from wherever this package lives,
    # not from the driver's working directory
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(search_engine_spark.__file__))
    )
    worker_path = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p
    )
    builder = (
        SparkSession.builder.master(f"local[{cores_str}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Below this input size a LIGHT (plain-tokenize-grade) pipeline finishes
# faster on one task than the round-robin exchange costs: a full
# repartition is a fixed ~0.4 s stage + a write+read of the data, while
# regex tokenize+explode of a few MB is sub-second single-core. Measured
# break-even on the sf0.1 documents table (0.6 MB): no-widen 0.49 s vs
# widen 0.71 s for term_frequencies. Heavy pipelines (shingling, k-gram
# signatures: 10-100× the per-byte cost) widen unconditionally.
LIGHT_WIDEN_MIN_BYTES = 8 * 1024 * 1024


def widen_small_input(df, min_ratio: int = 2, light: bool = False):
    """Parallelize tiny scans before expression-heavy pipelines.

    A small table often arrives as ONE file → ONE task (splits are
    file/row-group granular), serializing everything downstream —
    tokenize/shingle expressions then run 1-core regardless of cluster
    size. When the scan has fewer than cores/min_ratio partitions,
    round-robin repartition to default parallelism; at real scale the
    input has splits >> cores and this is a no-op (no shuffle inserted).
    Only order-insensitive consumers (keyed aggregations) may rely on it.

    ``light=True`` declares the downstream expressions cheap per byte
    (simple tokenize/regex rather than shingle/signature work): then a
    local input smaller than LIGHT_WIDEN_MIN_BYTES skips the exchange —
    for tiny tables the repartition costs more than it buys back. Sizes
    are only stat-able for ``file:`` URIs; remote stores skip the check
    (at real scale the fast path below already no-ops).

    Streaming DataFrames pass through untouched (``df.rdd`` would throw).
    The many-files fast path skips the RDD-conversion probe entirely —
    at scale the scan always has splits >> cores, so the (mildly
    expensive) ``df.rdd.getNumPartitions()`` analysis only ever runs for
    genuinely tiny local inputs.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = df.inputFiles()

        def _total_local_bytes():
            paths = [
                f[len("file:"):] if f.startswith("file:") else None
                for f in files
            ]
            if files and all(p and os.path.exists(p) for p in paths):
                return sum(os.path.getsize(p) for p in paths)
            return None  # remote / non-file source: not stat-able

        if len(files) * min_ratio >= target:
            # Many files ≠ many partitions: the scan BIN-PACKS small files
            # (openCostInBytes / maxPartitionBytes), so 64 tiny chunk
            # commits can still land in 2 tasks. Short-circuit only when
            # the bytes say packing cannot collapse below target; tiny
            # many-file scans fall through to the authoritative probe.
            total = _total_local_bytes()
            if total is None or total >= target * (8 << 20):
                return df
        elif light:
            total = _total_local_bytes()
            if total is not None and total < LIGHT_WIDEN_MIN_BYTES:
                return df
    except Exception:
        pass
    if df.rdd.getNumPartitions() * min_ratio < target:
        return df.repartition(target)
    return df
