"""Unit tests for the unpartitioned-Window justification gate
(VERDICT r10 #8, tools/audit_plans.py::_global_window_audit).

The registry-wide enforcement lives in tests/test_plan_audit.py (any
UnboundedGlobalWindow! flag is unallowlistable there); these tests pin
the DETECTOR's behavior on the four canonical shapes so a parser
regression can't quietly turn the gate off. The last test pins the
Python-stage detector of ``inspect_plan`` the same way."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tools.audit_plans import (
    _bounded_rdd_scan_ids,
    _global_window_audit,
    _partitionless_window_ids,
    inspect_plan,
)


def _fmt(spark, df):
    jvm = spark._jvm  # noqa: SLF001
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )


def _li(spark):
    return spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")


def test_corpus_scale_global_window_is_flagged(spark):
    # the trap: row_number over the whole table through ONE task
    bad = _li(spark).withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    n_gw, n_unbounded = _global_window_audit(_fmt(spark, bad), "unit_test")
    assert n_gw == 1 and n_unbounded == 1


def test_global_window_over_aggregate_is_bounded(spark):
    good = (
        _li(spark)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
        .withColumn("rn", F.row_number().over(Window.orderBy("l_returnflag")))
    )
    n_gw, n_unbounded = _global_window_audit(_fmt(spark, good), "unit_test")
    assert n_gw == 1 and n_unbounded == 0


def test_partitioned_window_is_not_global(spark):
    part = _li(spark).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_orderkey")
        ),
    )
    plan = _fmt(spark, part)
    assert _partitionless_window_ids(plan) == set()
    assert _global_window_audit(plan, "unit_test") == (0, 0)


def test_join_with_raw_leg_is_unbounded(spark):
    # aggregate on one leg does NOT bound a window over the join when
    # the other leg is a raw scan
    li = _li(spark)
    agg = li.groupBy("l_orderkey").agg(F.count("*").alias("c"))
    mixed = li.join(agg, "l_orderkey").withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    n_gw, n_unbounded = _global_window_audit(_fmt(spark, mixed), "unit_test")
    assert n_gw == 1 and n_unbounded == 1


def test_daily_artifact_scan_is_a_named_bound(spark):
    # the day-domain daily_revenue artifact (localCheckpoint → Scan
    # ExistingRDD) is the one checkpointed frame the signature
    # allowlist blesses; a window straight over it must pass
    from koalas_spark.queries.analytics import daily_revenue_table

    d = daily_revenue_table(spark, SF_SMOKE)
    w = d.withColumn("prev", F.lag("x").over(Window.orderBy("d")))
    plan = _fmt(spark, w)
    # the allowlist is scoped per consumer query (ADVICE r11): a
    # known daily_revenue consumer is blessed, any other name is NOT
    assert _bounded_rdd_scan_ids(plan, "acf_daily_revenue"), (
        "artifact signature not matched for a known consumer"
    )
    n_gw, n_unbounded = _global_window_audit(plan, "acf_daily_revenue")
    assert n_gw == 1 and n_unbounded == 0
    # name-collision defense: same signature under a non-consumer
    # query name stays unbounded
    assert _bounded_rdd_scan_ids(plan, "some_future_query") == set()
    n_gw2, n_unbounded2 = _global_window_audit(plan, "some_future_query")
    assert n_gw2 == 1 and n_unbounded2 == 1


def test_pandas_window_partitionless_is_detected(spark):
    # ADVICE r11: Spark 4.1 prints pandas windows as
    # ArrowWindowPython — the detector must see the same one-task
    # global funnel there as on a plain Window node
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pmean(v: pd.Series) -> float:
        return float(v.mean())

    w = Window.orderBy("l_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bad = _li(spark).withColumn("m", _pmean("l_quantity").over(w))
    plan = _fmt(spark, bad)
    assert "ArrowWindowPython" in plan
    assert len(_partitionless_window_ids(plan)) == 1
    assert _global_window_audit(plan, "unit_test") == (1, 1)
    # the partitioned form must NOT be flagged
    wp = Window.partitionBy("l_returnflag").orderBy("l_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    good = _li(spark).withColumn("m", _pmean("l_quantity").over(wp))
    assert _partitionless_window_ids(_fmt(spark, good)) == set()


def test_window_group_limit_partitioned_not_flagged(spark):
    # a partitioned rank filter compiles to WindowGroupLimit nodes
    # (Partial + Final); neither may trip the partition-less detector
    ranked = _li(spark).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_orderkey")
        ),
    ).filter("rn <= 3")
    plan = _fmt(spark, ranked)
    assert "WindowGroupLimit" in plan
    assert _partitionless_window_ids(plan) == set()
    assert _global_window_audit(plan, "unit_test") == (0, 0)
    # synthetic partition-less WindowGroupLimit detail block (Spark
    # 4.1 compiles the global case away, so pin the parser directly)
    synth = (
        "== Physical Plan ==\n"
        "WindowGroupLimit (1)\n"
        "\n\n"
        "(1) WindowGroupLimit\n"
        "Input [1]: [id#0L]\n"
        "Arguments: [], [id#0L ASC NULLS FIRST], row_number(), 3, Final\n"
    )
    assert _partitionless_window_ids(synth) == {1}


def test_cogroup_and_map_in_arrow_are_python_stages(spark):
    # Spark 4.1 prints a cogrouped applyInPandas as
    # FlatMapCoGroupsInPandas and mapInArrow as MapInArrow; both run
    # Python workers, so both must raise the Python flag
    left = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, x double")
    right = spark.createDataFrame([(1, 3.0)], "k long, y double")
    cog = left.groupBy("k").cogroup(right.groupBy("k")).applyInPandas(
        lambda a, b: a[["k"]], schema="k long"
    )
    arrow = left.mapInArrow(lambda batches: batches, schema=left.schema)
    for df, node, name in (
        (cog, "FlatMapCoGroupsInPandas", "cogroup_monthly_reconciliation"),
        (arrow, "MapInArrow", "int8_quant_error_scan"),
    ):
        plan = _fmt(spark, df)
        assert node in plan
        assert "Python" in inspect_plan(plan, name)["flags"], node
