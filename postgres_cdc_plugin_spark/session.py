"""SparkSession factory tuned for the engine.

Scale posture (100 TB): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold generous so dimension tables
(region/nation/customer-as-credentials) never shuffle, UTC session timezone
so timestamp semantics are engine-independent, Arrow for any
pandas-boundary transfer. Shuffle partitions default to the local core
count; on a real cluster this is expected to be overridden to ~2-3x total
cores (or left to AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon


_MAX_DRIVER_HEAP_MB = 32 * 1024


def default_driver_memory() -> str:
    """spark.driver.memory when SPARK_GRAFT_DRIVER_MEM is unset: half of
    the machine's physical memory, at most 32g. A heap cap above what
    the machine has lets the JVM keep growing instead of collecting
    until the kernel kills it; half leaves room for the Python workers
    and the JVM's off-heap memory. Where physical memory cannot be read,
    the cap itself."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "32g"
    half_mb = phys // 2 // 2**20
    return "32g" if half_mb >= _MAX_DRIVER_HEAP_MB else f"{half_mb}m"


def get_spark(
    app_name: str = "postgres-cdc-plugin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); see load() below
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # Python workers fork from the engine's daemon, which skips the
        # per-task re-read of zip archives that have not changed
        # (worker_daemon.py); the module ships with the package the
        # delivery closures already import on the executors.
        .config("spark.python.daemon.module", worker_daemon.__name__)
        # local-mode driver == the only executor: the JVM default heap is
        # 1g, which starves 32 task threads + session-level persisted
        # kernels + 64MB broadcasts (the full-surface bench's warm pass
        # deterministically failed broadcast builds at 1g, and every
        # pass ran under constant cache-eviction GC). Only effective at
        # JVM launch — harmless on an already-running session.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(),
        )
    )
    # Cluster profile (r15, guide §9), OFF by default so the local
    # bench keeps the settings the driver's record was measured under.
    # SPARK_GRAFT_PROFILE=cluster layers the large-deployment knobs:
    #   * zstd shuffle/spill + parquet codec — markedly better ratio
    #     than lz4/snappy for a little CPU; at 100 TB shuffle and
    #     storage bytes dominate (§2.3/§6). Measured locally on the
    #     shuffle-heaviest rows: a wash (see OPTIMIZATION_r15.md) —
    #     local shuffles are MBs, so the ratio never pays here, which
    #     is exactly why it is profile-gated instead of default.
    #   * 1 GiB scan splits + 256 MiB AQE advisory partitions — fewer,
    #     larger map tasks and reduce partitions (§2.2/§6); the local
    #     testdata is single-split either way.
    #   * preferSortMergeJoin=false — lets the planner pick shuffled
    #     hash join when its size conditions hold (§3.1).
    # Arrow-for-pandas is already on unconditionally above; no scalar
    # Python UDFs exist in query paths, so pythonUDF.arrow stays out.
    if os.environ.get("SPARK_GRAFT_PROFILE", "") == "cluster":
        builder = (
            builder.config("spark.io.compression.codec", "zstd")
            .config("spark.sql.parquet.compression.codec", "zstd")
            .config("spark.sql.files.maxPartitionBytes", str(1024**3))
            .config(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                str(256 * 1024**2),
            )
            .config("spark.sql.join.preferSortMergeJoin", "false")
        )
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver testdata table (TESTDATA.md). Column pruning and
    predicate pushdown reach the parquet scan because callers compose
    select/filter declaratively on the returned DataFrame.

    The `events` table carries a parquet TIMESTAMP(NANOS) column, which
    Spark's vectorized reader rejects; read it as raw nanos and convert to
    a microsecond TimestampType column JVM-side (`div`, not `/` — the
    nano epoch exceeds double's 2^53 integer range). The testdata's values
    are exact microseconds, so this is lossless.
    """
    if name == "events":
        # Idempotent CONSTANT, not a session-conf flip: always the same
        # value, never restored/toggled, and required here because the
        # correctness driver calls queries with a session it owns (one
        # get_spark never built). There is no per-read DataFrameReader
        # option for this legacy conf; get_spark() also pins it at
        # build time for sessions we create.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def spread(df, *cols):
    """Hash-repartition pinned at the scheduler's default parallelism,
    immune to AQE's size-based partition coalescing.

    Used upstream of operators whose per-row work is orders of
    magnitude larger than their input bytes — gram/shingle/token
    explodes, per-document higher-order lambdas, media decode. AQE
    sizes post-shuffle partitions by pre-shuffle BYTES
    (advisoryPartitionSizeInBytes / minPartitionSize), which is the
    wrong proxy when a ~1 KB text row explodes into ~1000 hashed grams
    downstream: at sf0.1 the ~5 MB pre-explode document relation
    coalesces to a handful of partitions and the gram pass runs 4-8x
    slower than the pinned form (measured on docs_winnowing,
    OPTIMIZATION_r14.md). An explicit numPartitions makes the exchange
    REPARTITION_BY_NUM, which AQE's coalescer leaves alone.

    Scale posture: the pin is a starvation guard, not cluster tuning —
    the value is the scheduler's own defaultParallelism (total executor
    cores), so it scales with the cluster; on a 100 TB input the
    pre-shuffle relation is big enough that AQE would never coalesce
    below it anyway, and hash-partitioning thousands of documents per
    core keeps the pinned layout balanced.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def _is_scan_rooted(df) -> bool:
    """True when the analyzed logical plan is a pure scan pipeline
    (project/filter over a file relation) — the precondition for
    probing df.rdd.getNumPartitions() cheaply. Under AQE, .rdd on a
    plan containing exchanges EXECUTES the upstream query stages
    (hidden jobs at plan-construction time); a plan with any
    join/aggregate/distinct/window/repartition node upstream is never
    probed, and the guards below fall back to the identity arm (their
    scale-side behavior). The check walks the plan's node names
    (children and subquery plans), so a column name, literal or path
    that happens to contain one of the tokens does not count."""
    blocked = (
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Repartition",
        "Exchange",
        "GlobalLimit",
        "Generate",
        "Union",
        "Deduplicate",
        "Distinct",
        "Intersect",
        "Except",
    )
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if any(tok in name for tok in blocked):
            return False
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return True


def spread_scan(df, *cols):
    """Conditional `spread`: repartition only when the relation's
    current partitioning is starved below the scheduler's default
    parallelism — i.e. when the source is a one-file/one-rowgroup scan
    (every sfN testdata table) that would otherwise run its entire
    downstream zero-shuffle compute in ONE task.

    Scale posture: on a real (100 TB) input the scan already carries
    thousands of splits, the predicate is false, and NO shuffle is
    added — which is exactly why this is not an unconditional
    `spread`: paying a full-corpus exchange in front of a projection
    that the scan could have parallelized for free is the regression
    this guard exists to avoid. Apply to scan-rooted relations only;
    a non-scan-rooted input (public entry points accept arbitrary
    DataFrames) skips the partition probe — probing .rdd under AQE
    would eagerly execute upstream shuffle stages — and takes the
    identity arm, its at-scale behavior.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if not _is_scan_rooted(df):
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *cols)


def spread_scan_by(df, *cols):
    """Conditional KEY repartition, AQE-sized: shuffle by `cols` only
    when the scan is starved below the scheduler's default parallelism
    (the one-split local testdata file); IDENTITY on a many-split
    input, so at 100 TB no exchange exists at all.

    The unpinned sibling of spread_scan for the cheap-explode →
    map-side-combinable-aggregation family (token statistics): the r14
    calibration measured the defaultParallelism pin ~2x SLOWER there
    (32-way partial-agg state where AQE's byte-sizing was right), so
    the starved arm keeps the bare repartition(cols) form those sites
    always had — the LOCAL plan is byte-identical to r13/r14 — while
    the scale arm removes what would be a full corpus exchange in
    front of an aggregation that re-keys anyway (r14 verdict ask #7).
    """
    sc = df.sparkSession.sparkContext
    if not _is_scan_rooted(df):
        return df
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(*cols)
