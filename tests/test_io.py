"""Sources/sinks: the declared source schemas, JSONL round-trip,
partitioned parquet write with partition pruning visible in the plan."""

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import koalas_spark
from koalas_spark.sources.io import SOURCES, read_source, source_path
from tests.conftest import SF_SMOKE


@pytest.fixture(params=["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def source_dir(request, tmp_path):
    """Each test data scale, and the benchmark's generator output with
    every table a directory of part files."""
    if request.param != "perfbench":
        return os.path.join(os.path.dirname(SF_SMOKE), request.param)
    from perfbench import datagen

    datagen.generate(str(tmp_path), 0.002, seed=1, replicas=2, offset=10**9)
    return str(tmp_path)


def test_declared_schemas_match_the_data(spark, source_dir):
    """Each source table's declared schema is the one Spark infers from
    the files, nullability included: a regenerated table whose types
    drift fails here, not as a wrong cast deep inside some query."""
    drift = []
    for name in SOURCES:
        path = source_path(source_dir, name)
        inferred = spark.read.parquet(path).schema
        declared = read_source(spark, path, name).schema
        if inferred != declared:
            drift.append(f"{name}: inferred {inferred.simpleString()}")
    assert not drift, "\n".join(drift)


def _calls(path: Path):
    """(enclosing function, call) of every call in the module ``path``."""

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, ast.FunctionDef) else fn
            if isinstance(child, ast.Call):
                yield name, child
            yield from visit(child, name)

    return visit(ast.parse(path.read_text()), None)


def _receiver_attrs(call: ast.Call) -> list[str]:
    """The attribute names along ``call``'s receiver chain."""
    names, node = [], call.func
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def test_one_source_reader():
    """Source tables are read only through read_source, every other read
    passes the schema its writer wrote, and building a query changes no
    session conf: the nanos reader conf is set once, in the session
    factory, and the streaming run is the one place that scopes a conf
    (its shuffle partitions). ``memo.staged`` owns the completion
    marker, so no caller names one. binaryFile has a fixed schema, and
    schema_evolution_stats' mergeSchema read is that query's subject."""
    root = Path(koalas_spark.__file__).parent
    modules = sorted(root.rglob("*.py"))
    nanos = [p.relative_to(root) for p in modules if "nanosAsLong" in p.read_text()]
    assert nanos == [Path("plans/session.py")]
    assert (root / "plans/session.py").read_text().count("nanosAsLong") == 1
    conf_sets, source_reads, inferred, exempt, markers = [], [], [], [], []
    source_args = ("sf_dir", "events_path", "docs_path", *(f"{t}.parquet" for t in SOURCES))
    for p in modules:
        for fn, call in _calls(p):
            attrs = _receiver_attrs(call)
            if attrs[:2] == ["set", "conf"] and fn != "_run_to_memory":
                conf_sets.append(f"{p.relative_to(root)}:{call.lineno} in {fn}")
            args = " ".join(ast.unparse(a) for a in call.args)
            if (
                attrs[:1] == ["parquet"]
                and "read" in attrs
                and "write" not in attrs
                and fn != "read_source"
                and any(a in args for a in source_args)
            ):
                source_reads.append(f"{p.relative_to(root)}:{call.lineno} in {fn}")
            where = f"{p.relative_to(root)}:{call.lineno} in {fn}"
            if (
                attrs[:1] in (["parquet"], ["orc"], ["csv"], ["json"], ["load"], ["text"])
                and {"read", "readStream"} & set(attrs)
                and "schema" not in attrs
            ):
                chain = ast.unparse(call)
                if "'binaryFile'" in chain or "'mergeSchema'" in chain:
                    exempt.append(where)
                else:
                    inferred.append(where)
            if isinstance(call.func, ast.Name) and call.func.id == "staged":
                strings = [
                    n.value
                    for n in ast.walk(call)
                    if isinstance(n, ast.Constant) and isinstance(n.value, str)
                ]
                if any("_SUCCESS" in v or "_DONE" in v for v in strings):
                    markers.append(where)
    assert not conf_sets, conf_sets
    assert not source_reads, source_reads
    assert not inferred, inferred
    assert len(exempt) == 2, exempt
    assert not markers, markers


def test_driver_assembled_results_are_built_in_the_jvm():
    """A frame returned from rows assembled on the driver is built by
    ``frame.local_rows``, one JVM task; ``createDataFrame`` parallelizes
    the list over every core and unpickles it in Python workers.
    ``operators/graph._driver_components`` keeps it: its callers join
    its output, and a literal frame would change how the planner sizes
    that join."""
    root = Path(koalas_spark.__file__).parent
    found = set()
    for p in sorted(root.rglob("*.py")):
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, ast.FunctionDef) or fn.name == "_driver_components":
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Return) and "createDataFrame(" in ast.unparse(node):
                    found.add(f"{p.relative_to(root)}:{node.lineno}")
    assert not found, sorted(found)


def test_jsonl_roundtrip(spark, tmp_path):
    from koalas_spark.sources.io import read_jsonl, write_jsonl

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, "doc_id bigint, lang string, n_chars bigint")
    assert back.count() == docs.count()
    a = {(r.doc_id, r.lang, r.n_chars) for r in docs.collect()}
    b = {(r.doc_id, r.lang, r.n_chars) for r in back.collect()}
    assert a == b
    # missing field -> null, declared schema preserved
    wider = read_jsonl(spark, path, "doc_id bigint, lang string, missing double")
    row = wider.filter(F.col("doc_id") == docs.first().doc_id).first()
    assert row.missing is None


def test_orc_roundtrip_pushdown(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == docs.schema
    a = {(r.doc_id, r.lang, r.n_chars) for r in docs.collect()}
    b = {(r.doc_id, r.lang, r.n_chars) for r in back.collect()}
    assert a == b
    # filters push into the ORC scan like parquet
    plan = (
        back.filter(F.col("lang") == "en")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: []" not in plan and "lang" in plan


def test_partitioned_parquet_prunes(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    one = back.filter(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the lang filter must become a partition filter (directory skip),
    # not a data filter evaluated per row
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    expected = docs.filter(F.col("lang") == "en").count()
    assert one.count() == expected


def test_ntz_parquet_event_time_normalized(spark, tmp_path):
    """Regression: the driver's generator writes events.ts as tz-less
    TIMESTAMP(MICROS), which Spark 4.x reads as TIMESTAMP_NTZ — a type
    that withWatermark rejects and CAST(.. AS BIGINT) refuses. The
    read path must normalize it to TIMESTAMP_LTZ so every ts-consuming
    query (epoch casts, watermarks, windows) is immune to flavor."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koalas_spark.sources.io import normalize_event_time

    path = str(tmp_path)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 03:00:00"]
                ),
                pa.timestamp("us"),  # no tz -> Spark reads TIMESTAMP_NTZ
            ),
            "user_id": pa.array([7, 7, 7], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{path}/part0.parquet")

    raw = spark.read.parquet(path)
    from pyspark.sql import types as T

    assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)
    df = normalize_event_time(raw)
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    # epoch cast works and preserves the wall-clock micros (UTC session)
    secs = [r.s for r in df.select(F.col("ts").cast("long").alias("s")).orderBy("s").collect()]
    assert secs == [1704067200, 1704070800, 1704078000]
    # watermark analysis accepts the normalized column (batch plan check)
    df.withWatermark("ts", "1 hour").groupBy(F.window("ts", "1 hour")).count().schema


def test_snapshot_time_travel_isolation(spark, tmp_path):
    """Version-pinned reads must not see later appends; latest sees all.
    The manifest owns the schema, so a read launches no Spark job and
    returns the written schema (nullable, as every file read is)."""
    from koalas_spark.sources.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "snap_tbl")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 15).withColumnRenamed("id", "k")
    assert write_snapshot(df1, path) == 1
    assert write_snapshot(df2, path) == 2
    assert latest_version(path) == 2
    assert read_snapshot(spark, path, version=1).count() == 10
    assert read_snapshot(spark, path).count() == 15  # latest
    # v1's content is exactly the frozen population
    got = sorted(r.k for r in read_snapshot(spark, path, version=1).collect())
    assert got == list(range(10))

    sc = spark.sparkContext
    sc.setJobGroup("read_snapshot", "read_snapshot")
    back = read_snapshot(spark, path)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("read_snapshot")
    assert not df1.schema["k"].nullable
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in back.schema] == [
        ("k", "bigint", True)
    ]


def test_snapshot_commit_race_retries_next_version(spark, tmp_path):
    """If another committer publishes _v{N}.json between our read of
    the latest manifest and our publish, the os.link CAS must fail and
    the commit must land on N+1 with the racer's dirs included —
    never silently overwrite the racer's manifest (lost update)."""
    import json
    import os
    from koalas_spark.sources.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "snap_race")
    assert write_snapshot(spark.range(0, 5).withColumnRenamed("id", "k"), path) == 1

    # simulate a racer: hand-publish _v2.json pointing at its own dir
    racer_dir = os.path.join(path, "d-racer")
    spark.range(100, 103).withColumnRenamed("id", "k").write.parquet(racer_dir)
    with open(os.path.join(path, "_v1.json")) as f:
        v1_dirs = json.load(f)["dirs"]
    schema = spark.range(0).withColumnRenamed("id", "k").schema.jsonValue()
    with open(os.path.join(path, "_v2.json"), "w") as f:
        json.dump({"version": 2, "dirs": v1_dirs + ["d-racer"], "schema": schema}, f)

    # our commit must observe the racer and serialize after it
    assert write_snapshot(spark.range(200, 202).withColumnRenamed("id", "k"), path) == 3
    assert latest_version(path) == 3
    # racer's manifest intact, v3 sees everything: 5 + 3 + 2 rows
    assert read_snapshot(spark, path, version=2).count() == 8
    assert read_snapshot(spark, path, version=3).count() == 10
    # every manifest, the racer's included, publishes the schema it commits
    with open(os.path.join(path, "_v3.json")) as f:
        assert json.load(f)["schema"] == schema
