"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning + skew-join splitting), shuffle partitions sized to
cores (not the 200 default), Arrow enabled for the pandas-UDF parse path,
and a pinned UTC session timezone so results compare bit-for-bit against
the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "sqllog_analysis_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cores=None`` uses ``local[*]``.  On a real cluster the master comes
    from spark-submit and everything here still applies unchanged.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)

    # Under spark-submit the launcher's JVM gateway already exists (it
    # exports PYSPARK_GATEWAY_PORT to the python driver) and carries the
    # --master the user chose; forcing local[...] here would silently turn
    # a cluster submission into a single-node run.  Everything else below
    # (AQE, shuffle sizing, Arrow, UTC) applies unchanged on a cluster.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    b = SparkSession.builder if under_submit else SparkSession.builder.master(master)
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r6 (guide §3.1/§9): joins.  The 10 MB default broadcast threshold
        # under-uses a 128 GiB-class node — a few-tens-of-MB dimension side
        # (e.g. TPC-H orders projected to two longs) is far cheaper to
        # broadcast than to shuffle the fact side.  Estimate-driven, so it
        # stays scale-adaptive: at 100 TB the big tables' size estimates
        # blow past any threshold and the planner falls back to shuffle
        # joins.  ``extra_conf`` overrides it for smaller executors.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # prefer shuffled-hash over sort-merge when the per-partition build
        # side fits (guide §9) — skips both sort passes
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parse UDF ships whole turns; bigger Arrow batches amortize the
        # Python worker round-trip and the per-batch pandas fixed costs
        # without blowing memory (turns are ~300 B → ~6 MB/batch; r6
        # measured the parse hot path ~11% faster at 20k than 10k rows)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # single-node: shuffle files + cache spill on tmpfs instead of the (slow,
    # jittery) VM disk; on a real cluster spark.local.dir is the node's SSDs
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parse_byte_conf(s: str) -> int:
    """Spark byte-string conf value ('8m', '128mb', '134217728') → bytes."""
    s = str(s).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def scan_partitions(df: DataFrame) -> int | None:
    """How many partitions Spark's file scan splits ``df``'s input into,
    from file metadata alone (``inputFiles()`` + stat): no job and no
    plan→RDD conversion.  None when ``df`` reads no files (an in-memory
    frame, the raw log reader's chunk table).

    Mirrors Spark's FilePartition packing for one scan of splittable files
    (parquet): each file is cut into chunks of maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, padded_total /
    minPartitionNum)), every file padded by openCostInBytes, and the
    chunks, largest first, fill partitions of that size next-fit.  Many
    small files therefore still land in few partitions."""
    files = df.inputFiles()
    if not files:
        return None
    from sqllog_analysis_spark.sinks.lineage import _resolve

    spark = df.sparkSession
    conf = spark.conf
    max_bytes = parse_byte_conf(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = parse_byte_conf(conf.get("spark.sql.files.openCostInBytes", "4m"))
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    fs, _ = _resolve(files[0])
    sizes = [i.size or 0 for i in fs.get_file_info([_resolve(f)[1] for f in files])]
    padded = sum(sizes) + open_cost * len(sizes)
    split = max(1, min(max_bytes, max(open_cost, padded // min_parts)))
    chunks = sorted(
        (min(split, n - off) for n in sizes for off in range(0, n, split)),
        reverse=True,
    )
    parts, filled = 0, 0
    for c in chunks:
        if filled and filled + c > split:
            parts, filled = parts + 1, 0
        filled += c + open_cost
    return parts + (filled > 0)
