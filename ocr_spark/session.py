"""SparkSession factory with engine-tuned defaults.

Centralizes the configuration the extraction jobs rely on:
Arrow-vectorized Python exchange, AQE (runtime re-plan + skew-join
handling), and an explicit shuffle-partition count sized to the
parallelism level (the scaling-efficiency knob for the N vs 4N
cluster-size evidence).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``); ``shuffle_partitions`` defaults to the core
    count so one reduce wave saturates the machine without tiny-task
    overhead.  On a real cluster these come from spark-submit and this
    factory only layers the SQL confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(int(cpus), 1)
        else:
            shuffle_partitions = os.cpu_count() or 8

    if master.startswith("local[") and master != "local[*]":
        cores = int(master[len("local["):-1])
    else:
        cores = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle/spill on tmpfs when available: the sandbox's /tmp is
        # VM-disk-backed and its I/O variance dominates run-to-run
        # noise; a real cluster would use fast local SSD/NVMe here.
        .config("spark.local.dir",
                "/dev/shm/ocr_spark_local" if os.path.isdir("/dev/shm") else "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # defaultParallelism sets the slice count of spark.range and
        # parallelized lists (so the synthetic inputs' file layout) and
        # the partition target of AQE's parallelism-first coalescing: at
        # exactly 1 partition per core a 38-on-32 style remainder leaves
        # most cores idle for a whole straggler wave (measured: 24% of
        # a shuffled stage), while 4 waves of smaller tasks pack within
        # ~3% of ideal, so target 4x cores.
        .config("spark.default.parallelism", str(4 * cores))
        # The file-scan split floor would otherwise also be
        # defaultParallelism: maxSplitBytes = max(openCost 4 MB,
        # totalBytes / 4x cores), so small-file input gets one ~4 MB
        # split per file (16 tasks for 16 files of ~82 KB on 4 cores),
        # and each task of a zero-shuffle scan -> Python UDF -> sink
        # stage costs a fixed ~75 ms of host CPU (4-core VM).  A floor of one
        # split per core packs such input into one task per core; the
        # 128 MB split cap still bounds the tasks of large input.
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parallelism-first AQE coalescing floors at minPartitionSize;
        # the 1m default collapses small compressed shuffles to a handful
        # of tasks.  The flagship extraction does not shuffle; the
        # catalog queries, dedup rounds and bucket staging do, and 64k
        # keeps their reduce side ~= cores wide at test scale (kept, not
        # measured on them).  It is a no-op at 100 TB, where
        # totalBytes/parallelism dominates the floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Pin the session timezone: events.ts is TIMESTAMP_NTZ and the
        # value-range window queries order by unix_micros(ts.cast(
        # 'timestamp')) — the NTZ->TIMESTAMP cast applies the session
        # zone, and on a DST-observing host zone the offset changes
        # across transitions, shifting trailing-frame membership away
        # from the DuckDB oracle (epoch_us treats NTZ as absolute).
        # UTC makes the cast a fixed-offset no-op everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds Arrow-UDF memory per task.  It is not a
        # speed lever on the per-turn flagship: over 54,280 synth texts
        # span_udf took 27.3 ms in 4,000-row batches and 24.0 ms in
        # 10,000-row ones, token_count_udf 18.1 and 18.4 ms (4-core VM),
        # so 4k stays for its smaller per-batch memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column / functions call to walk the Python
        # stack and send the call site to the JVM: 4-5 extra py4j round
        # trips per op.  Off, building extract_conversations sends ~215
        # py4j commands instead of ~675, and a warm render_skewed pass
        # ~600 instead of ~2,900, not counting py4j's memory commands
        # (0.2-0.3 s less driver + py4j-thread CPU per pass, 4-core
        # VM).  Lost: an error's DataFrame query context names the
        # operator but no longer the Python file:line.  extra_conf can
        # turn it back on while debugging (PySpark reads it once per
        # process, at the first Column call).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
