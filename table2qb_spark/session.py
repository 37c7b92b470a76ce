"""SparkSession factory.

Defaults tuned for correctness + scale-minded local runs:
- AQE on (runtime re-plan, skew-join splitting, coalesced shuffle partitions)
- Arrow on (vectorized pandas UDF exchange)
- shuffle partitions sized to the local core count; on a real cluster this is
  overridden by --conf at spark-submit time.

The same builder config works unchanged on a multi-executor cluster — only
``master`` changes (spark-submit provides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "table2qb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[", 1)[1].rstrip("]")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(n, os.cpu_count() or 8) if n else (os.cpu_count() or 8)

    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floors partitions at minPartitionSize of COMPRESSED
        # shuffle bytes (default 1 MB). zstd compresses narrow/repetitive
        # columns ~10-30x, so a CPU-heavy stage fed by a few MB of
        # compressed data (e.g. quadratic pair generation from band-bucket
        # keys) coalesces to a handful of tasks and strands the other
        # cores (measured: the simhash band join ran 4 tasks x 55 s at
        # sf1.0; 32 tasks after this change). With parallelismFirst (the
        # default) the target is max(totalBytes/parallelism,
        # minPartitionSize), so lowering the floor only lets parallelism
        # win for small-compressed shuffles — production-sized shuffles
        # still coalesce by bytes exactly as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # no per-call origin capture: with the default (true) PySpark wraps
        # every functions.* / Column call to record its Python file:line for
        # the "== DataFrame ==" part of error messages, at 4-5 extra py4j
        # round trips, a Python stack walk and a failed `import IPython`
        # per call. Measured on 4 cores at perfbench stream_tail size, one
        # JVM with the arms interleaved: py4j round trips per point lookup
        # 191 -> 51, per lake-cube build 968 -> 388, per stream trigger
        # ~1,900 -> ~800; lookup median 0.086 -> 0.074 s, cube build
        # 0.373 -> 0.297 s (BENCH.md). Pass it back on through extra_conf
        # when debugging a query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # task-side output commit (v2): v1's job commit renames every task's
        # output SERIALLY on the driver — a non-scaling term on
        # many-partition writes. Atomicity of OUR commits comes from the
        # snapshot/manifest swap, not the _SUCCESS marker, so v2 is safe.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        # zstd for shuffle AND parquet: trades bytes for CPU. On a
        # bandwidth-bound fan-out (many cores per memory system — this box,
        # or dense executors) that trade is what lets throughput keep
        # scaling: measured 14.4s -> 6.6s on the 32-core replay level while
        # the 8-core level was unchanged (A/B in BENCH.md).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "1")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # split scans on 32 MB of COMPRESSED bytes (default 128 MB): with
        # zstd's ~4:1 ratio on this data a default split is ~512 MB of
        # logical work, so scans of a few-GB table plan only ~1.3 waves of
        # tasks and the ragged last wave idles most cores (measured: the
        # 48M-event narrow scan ran as 43 tasks = 2 waves at 32 cores, 28%
        # idle). 32 MB compressed ~ one default-sized logical split; more,
        # smaller tasks = even waves at any core count — exactly how a real
        # cluster sizes file splits
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # window buffers sized so per-bucket merge windows (10^5-10^6 rows)
        # never hit the 4096-row in-memory default mid-merge; 1M rows
        # (~300MB worst case per concurrent task) stays within executor
        # heap at our bucket sizing
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
