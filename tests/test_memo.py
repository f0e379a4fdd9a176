"""The session artifact store (koalas_spark.memo).

bench.py resets the store around each timed sample so no sample ever
reads another sample's shared build or staged write. These tests pin
the contract: one store, reset empties it and deletes staged paths,
a post-reset rebuild returns identical rows, a staged query writes
again after a reset, and no other module fingerprints a source or
hard-codes where the checkout lives.
"""

import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

ROOT = Path(__file__).parents[1]
# resets must not delete what the session's shared frames read
private_store = pytest.mark.usefixtures("private_artifacts")


def test_registry_is_one_artifact_store():
    # importing the query modules must not register further stores
    import koalas_spark.queries  # noqa: F401
    from koalas_spark import memo

    assert memo._REGISTRY == [memo._ARTIFACTS]
    assert memo._REGISTRY[0] is memo._ARTIFACTS


@private_store
def test_reset_forces_rebuild_with_identical_rows(spark):
    from koalas_spark.memo import _ARTIFACTS, reset_session_artifacts
    from koalas_spark.queries.analytics import daily_revenue_table

    reset_session_artifacts()
    first = daily_revenue_table(spark, SF_SMOKE)
    assert len(_ARTIFACTS) == 1
    assert daily_revenue_table(spark, SF_SMOKE) is first
    rows_first = sorted((r["d"], r["x"]) for r in first.collect())

    reset_session_artifacts()
    assert not _ARTIFACTS

    second = daily_revenue_table(spark, SF_SMOKE)
    assert second is not first
    assert len(_ARTIFACTS) == 1
    rows_second = sorted((r["d"], r["x"]) for r in second.collect())
    assert rows_first == rows_second
    reset_session_artifacts()


@private_store
def test_staged_writes_once_per_session_and_reset_deletes(spark, tmp_path):
    from koalas_spark.memo import _MARKER, reset_session_artifacts, staged, workdir

    src = tmp_path / "src.bin"
    src.write_bytes(b"x")
    writes = []

    def write(path):
        writes.append(path)
        os.makedirs(path)
        Path(path, "data").write_text("ok")
        if len(writes) == 1:
            raise OSError("write died half way")

    # a write that raises leaves no marker and is redone on the next call
    with pytest.raises(OSError):
        staged(spark, "probe", (str(src),), write)
    first = staged(spark, "probe", (str(src),), write)
    assert writes == [first, first]
    assert os.path.dirname(first) == workdir()
    assert staged(spark, "probe", (str(src),), write) == first
    assert writes == [first, first]

    # staged writes its own marker; without it the path is written again
    os.remove(os.path.join(first, _MARKER))
    assert staged(spark, "probe", (str(src),), write) == first
    assert len(writes) == 3 and os.path.exists(os.path.join(first, _MARKER))

    reset_session_artifacts()
    assert not os.path.exists(first)
    again = staged(spark, "probe", (str(src),), write)
    assert len(writes) == 4 and os.path.exists(again)
    reset_session_artifacts()


@private_store
def test_staged_query_writes_again_after_reset(spark, monkeypatch):
    """partitioned_write_prune stages a partitioned copy of events; every
    reset (one per bench sample) must make the next run pay that write."""
    from pyspark.sql.readwriter import DataFrameWriter

    from koalas_spark.memo import reset_session_artifacts
    from koalas_spark.queries import all_queries

    writes = []
    real = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        writes.append(path)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    fn = all_queries()["partitioned_write_prune"]
    reset_session_artifacts()
    first = sorted(fn(spark, SF_SMOKE).collect())
    assert len(writes) == 1
    fn(spark, SF_SMOKE).collect()
    assert len(writes) == 1  # same session: reused

    reset_session_artifacts()
    assert not os.path.exists(writes[0])
    assert sorted(fn(spark, SF_SMOKE).collect()) == first
    assert len(writes) == 2
    reset_session_artifacts()


def test_source_bytes_and_key_see_directory_contents(tmp_path):
    from koalas_spark.memo import source_bytes, source_key

    table = tmp_path / "t.parquet"
    table.mkdir()
    (table / "part-0.parquet").write_bytes(b"a" * 1000)
    (table / "part-1.parquet").write_bytes(b"b" * 234)
    assert source_bytes(str(tmp_path), "t") == 1234

    key = source_key(str(tmp_path), "t")
    os.utime(table / "part-1.parquet", ns=(1, 2 * 10**18))
    assert source_key(str(tmp_path), "t") != key


def test_workdir_follows_tmpdir_and_is_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", "from koalas_spark.memo import workdir; print(workdir())"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert not os.path.exists(out)


def test_only_memo_fingerprints_sources():
    """No module but memo.py stats a source, and no module hard-codes the
    checkout's location. The shard sink's manifest size is its own
    output, not a source fingerprint."""
    pkg = ROOT / "koalas_spark"
    fingerprint = re.compile(r"os\.stat\(|st_mtime|os\.path\.get(size|mtime)\(")
    found = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(ROOT).as_posix()
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if str(ROOT) in line:
                found.append(f"{rel}:{i}: {line.strip()}")
            if rel == "koalas_spark/memo.py" or not fingerprint.search(line):
                continue
            if rel == "koalas_spark/sources/pyshardsink.py" and "getsize(tmp)" in line:
                continue
            found.append(f"{rel}:{i}: {line.strip()}")
    assert not found, "\n".join(found)


def _callers(target: str, functions: dict[str, set[str]]) -> set[str]:
    """Every function name that reaches ``target`` through the call
    graph ``functions`` (name -> names it calls)."""
    found, grew = {target}, True
    while grew:
        grew = False
        for name, calls in functions.items():
            if name not in found and calls & found:
                found.add(name)
                grew = True
    return found - {target}


def _staged_queries() -> list[str]:
    """The registered queries that read back output they staged: every
    query whose function reaches ``memo.staged``, except the memory-sink
    streams, which run their stream at every build by design."""
    import ast

    from koalas_spark.queries import registry

    functions: dict[str, set[str]] = {}
    for p in sorted((ROOT / "koalas_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.FunctionDef):
                functions.setdefault(node.name, set()).update(
                    c.func.id if isinstance(c.func, ast.Name) else c.func.attr
                    for c in ast.walk(node)
                    if isinstance(c, ast.Call)
                    and isinstance(c.func, (ast.Name, ast.Attribute))
                )
    readers = _callers("staged", functions) - _callers("_run_to_memory", functions)
    return sorted(n for n, q in registry().items() if q.fn.__name__ in readers)


@private_store
def test_second_build_of_a_staged_query_launches_no_job(spark):
    """Built a second time in one session, a query that reads back its
    staged output finds it written and passes the writer's schema, so
    the build launches no Spark job. partition_overwrite_backfill
    re-runs its backfill on every build, and schema_evolution_stats'
    mergeSchema read reads footers: both by design."""
    from koalas_spark.queries import registry

    names = _staged_queries()
    assert len(names) >= 17, names
    sc = spark.sparkContext
    jobs = {}
    for name in names:
        build = registry()[name].fn
        build(spark, SF_SMOKE)
        sc.setJobGroup(name, name)
        build(spark, SF_SMOKE)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(name))
    assert jobs.pop("partition_overwrite_backfill") > 0
    assert jobs.pop("schema_evolution_stats") > 0
    assert jobs == dict.fromkeys(jobs, 0)
