"""Round-8 operators: partition pruning, round-trip idempotence, and
semantic pins the oracle sweep can't express."""

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _plan(df):
    jvm = df.sparkSession._jvm  # noqa: SLF001
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )


def test_partitioned_scan_prunes(spark):
    """#223's day filter must resolve against the directory manifest:
    the scan reads exactly the 3 selected day directories, not the
    whole staged lake."""
    from koalas_spark.queries.analytics10 import (
        _PRUNE_DAYS,
        partitioned_scan_source,
    )

    pruned = partitioned_scan_source(spark, SF_SMOKE)
    plan = _plan(pruned)
    # the day predicate must land in PartitionFilters (directory-level
    # pruning at file-listing time), NOT as a data Filter above the scan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf is not None and "day" in pf.group(1) and "IN" in pf.group(1)
    # and the scan returns exactly the selected days' data
    # (partition discovery infers the day dir values as DATE)
    days_read = {
        str(r["day"]) for r in pruned.select("day").distinct().collect()
    }
    assert days_read == set(_PRUNE_DAYS)


def test_jsonl_roundtrip_idempotent(spark):
    """Re-running #224 in one session must reuse the staged JSONL and
    return identical per-language stats."""
    from koalas_spark.queries.analytics10 import jsonl_roundtrip_stats

    a = sorted(map(tuple, jsonl_roundtrip_stats(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, jsonl_roundtrip_stats(spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0


def test_doc_sample_exact_k_partition_invariant(spark):
    """#220 must return the SAME 100 docs regardless of partitioning —
    the property rand()-based sampling lacks."""
    from koalas_spark.queries.analytics10 import doc_sample_exact_k
    from koalas_spark.queries.analytics import _t

    base = {r["doc_id"] for r in doc_sample_exact_k(spark, SF_SMOKE).collect()}
    assert len(base) == 100
    docs = _t(spark, SF_SMOKE, "documents").repartition(7)
    re = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("k")
    ).orderBy("k").limit(100)
    assert {r["doc_id"] for r in re.collect()} == base


def test_asof_tolerance_both_branches(spark):
    """The 8300-day window is chosen so some events keep their match
    and others null out — both branches must occur, and kept matches
    must agree with the untoleranced as-of join."""
    from koalas_spark.queries.analytics10 import asof_join_tolerance
    from koalas_spark.queries.analytics import asof_join_events_orders

    tol = asof_join_tolerance(spark, SF_SMOKE).persist()
    n_null = tol.filter(F.col("asof_orderkey").isNull()).count()
    n_kept = tol.filter(F.col("asof_orderkey").isNotNull()).count()
    assert n_null > 0 and n_kept > 0
    base = {
        r["event_id"]: r["asof_orderkey"]
        for r in asof_join_events_orders(spark, SF_SMOKE).collect()
    }
    for r in tol.filter(F.col("asof_orderkey").isNotNull()).collect():
        assert base[r["event_id"]] == r["asof_orderkey"]
    tol.unpersist()


def test_backlog_never_negative_and_ends_zero(spark):
    """Difference-array sanity: the running backlog is >= 0 everywhere
    and returns to exactly 0 after the last close day."""
    from koalas_spark.queries.analytics10 import orders_backlog_daily

    rows = orders_backlog_daily(spark, SF_SMOKE).orderBy("day").collect()
    assert all(r["open_orders"] >= 0 for r in rows)
    assert rows[-1]["open_orders"] == 0
