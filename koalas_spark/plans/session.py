"""SparkSession factory with scale-aware defaults.

Local mode is a 32-thread single JVM; the configs below are chosen so
the same logical plans translate to a 1000-executor cluster: AQE for
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
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
        # fewer, larger partitions). So the SPARK default stands; the
        # env knob remains for clusters that need to move it either
        # way, and truly compute-heavy-but-small-byte stages fix their
        # parallelism locally (explicit repartition at the operator).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size checks
        # pass (guide §3.1/§9): the iterative graph rounds join a
        # checkpointed multi-million-row edge frame against a |V|-sized
        # label/degree frame every round, and sort-merge re-sorts the
        # edge side per round for no benefit. Sort-merge remains the
        # planner's fallback whenever the build side could not fit.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # 16g, NOT most-of-RAM: measured at sf0.1, a 48g heap made G1
        # pathological — lazy heap commit page-faulted in kernel mode
        # (97% sys CPU bursts) and rare giant mixed collections turned
        # the array-heavy dedup pipelines bimodal (2.9s vs 37s for the
        # same query). A right-sized heap keeps collections small and
        # RSS bounded; at sf0.1 peak usage is well under 16g. On a real
        # cluster this is per-executor memory and the same rule holds:
        # size the heap to the working set, not the machine.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims under 64MB broadcast automatically; AQE can upgrade at runtime
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
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


# Dimension tables whose cardinality is CONSTANT in the scale factor
# (TPC-H: nation = 25 rows, region = 5 rows at every SF). Only these
# are safe to force-broadcast: a forced hint OVERRIDES AQE's size
# check, so hinting an SF-linear table (customer 150k×SF, supplier
# 10k×SF, part 200k×SF) is fatal at the 100 TB target (sf≈1e5 → 1e9+
# rows) — the job OOMs instead of degrading to a shuffle join.
CONSTANT_DIMS = frozenset({"nation", "region"})


def dim(df, table: str):
    """Scale-aware broadcast hint for a dimension-table join side.

    Force-broadcasts only constant-cardinality dims (CONSTANT_DIMS);
    everything else is returned unhinted so AQE owns the decision —
    at bench SFs AQE still broadcasts customer/supplier/part (they sit
    under spark.sql.autoBroadcastJoinThreshold), and at cluster scale
    it degrades gracefully to a shuffle join. Matches the reference's
    hint-free semantics (dataframe.d declares no join hints at all).
    """
    from pyspark.sql import functions as F

    if table in CONSTANT_DIMS:
        return F.broadcast(df)
    return df
