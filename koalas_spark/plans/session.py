"""SparkSession factory with scale-aware defaults.

Local mode is a single JVM with one thread per core this process may
run on and a heap of half the physical memory (at most 16g); the
configs below are chosen so the same logical plans translate to a
1000-executor cluster: AQE for
runtime re-planning (skew join splitting, partition coalescing),
shuffle partitions sized to cores locally (on a cluster this would be
2-3x total cores), Arrow for any Python exchange, UTC timezone so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from koalas_spark.memo import workdir


def get_spark(app_name: str = "koalas_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) the SparkSession with engine defaults."""
    package = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    heap = f"{max(1, min(16, ram_gb // 2))}g"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing merges post-shuffle partitions by BYTES
        # (parallelismFirst honors minPartitionSize, default 1m). An
        # r13 experiment dropped the default to 64k so narrow-row
        # graph shuffles (two-long edges compressing to a few MB while
        # carrying millions of rows) would stay parallel, but a 10-
        # query mid-tier A/B (tfidf, baskets, q21, littles-law, ...)
        # measured 64k a 13% LOSS (18.9s vs 16.3s) and even the graph
        # family itself was net faster at 1m (49.6s vs 46.9s) once the
        # label-propagation round-1 rewrite removed the pathological
        # vote aggregate — more tiny post-shuffle tasks cost more in
        # scheduling than they recover in parallelism (guide §2.2:
        # fewer, larger partitions). So the Spark default stands, and
        # truly compute-heavy-but-small-byte stages fix their
        # parallelism locally (explicit repartition at the operator).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size checks
        # pass (guide §3.1/§9): the iterative graph rounds join a
        # checkpointed multi-million-row edge frame against a |V|-sized
        # label/degree frame every round, and sort-merge re-sorts the
        # edge side per round for no benefit. Sort-merge remains the
        # planner's fallback whenever the build side could not fit.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # half of RAM up to 16g, NOT most-of-RAM: measured at sf0.1, a
        # 48g heap made G1 pathological — lazy heap commit page-faulted
        # in kernel mode (97% sys CPU bursts) and rare giant mixed
        # collections turned the array-heavy dedup pipelines bimodal
        # (2.9s vs 37s for the same query). A right-sized heap keeps
        # collections small and RSS bounded; every benched query runs at
        # sf0.1 in a 7g heap. On a real cluster this is per-executor
        # memory and the same rule holds: size the heap to the working
        # set, not the machine.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The broadcast policy. Any join side the planner sizes under
        # 64 MB broadcasts without a hint (1-row aggregates, nation/
        # region, literal frames), and AQE can still upgrade a join at
        # runtime. A frame carries an explicit F.broadcast only where
        # the planner cannot size it: a checkpoint with no estimate, or
        # a frame bounded by construction whose estimate grows with the
        # input (probe sets, per-probe top-k beams). A hint whose bound
        # depends on input size compares memo.source_bytes of its
        # source with a named limit (mining.V_GATE_BYTES, E_GATE_BYTES,
        # similarity.WALK_GATE_BYTES); forcing source_bytes high (the
        # tier-1 above-gate sweep) exercises every above-gate plan.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # an inferred parquet TIMESTAMP(NANOS) column reads as its long
        # instead of failing; micros files read as before
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # recursive_subtree_rollup's ~|docs| * depth (<= 64) rows pass
        # the 1M-row recursion guard at sf>=1 (sf1 sweep); structural
        # termination still bounds the loop
        .config("spark.sql.cteRecursionRowLimit", str((1 << 31) - 1))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Python workers (UDFs, Python data sources) import koalas_spark
        # from the package's parent, whatever the working directory
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(package))
        # managed tables land in the per-process work directory, not
        # the working directory
        .config("spark.sql.warehouse.dir", os.path.join(workdir(), "spark-warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

