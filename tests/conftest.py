from collections.abc import Mapping
from typing import NamedTuple

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from koalas_spark import get_spark

    s = get_spark("koalas_spark_tests", cpus=8)
    yield s


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class Hint(NamedTuple):
    cols: tuple[str, ...]  # output columns of the hinted frame
    strategy: str  # "(strategy=broadcast)", "(strategy=shuffle_hash)"
    child: object  # the hinted analyzed plan (a JVM LogicalPlan)


class Build(NamedTuple):
    df: object  # the query's frame
    hints: list  # [Hint] of its plan and of every plan it checkpointed
    sized: bool  # whether the build asked a size gate (memo.source_bytes)


def watched_build(spark, build) -> Build:
    """``build()`` run under two spies. Iterative rounds end in a
    localCheckpoint, so the joins of every round are read from the
    analyzed plans handed to it as well as from the returned frame's;
    and every read of ``memo.source_bytes`` marks the build as sized."""
    from koalas_spark import memo

    DataFrame = type(spark.range(1))  # the concrete (classic) class
    plans, reads = [], []
    real_ckpt, real_bytes = DataFrame.localCheckpoint, memo.source_bytes

    def ckpt(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().analyzed())  # noqa: SLF001
        return real_ckpt(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "localCheckpoint", ckpt)
        mp.setattr(memo, "source_bytes", lambda *a: reads.append(a) or real_bytes(*a))
        df = build()
    plans.append(df._jdf.queryExecution().analyzed())  # noqa: SLF001
    hints = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "ResolvedHint":
            cols = tuple(a.name() for a in _seq(node.output()))
            hints.append(Hint(cols, node.hints().toString(), node.child()))
        for child in _seq(node.children()):
            walk(child)

    for plan in plans:
        walk(plan)
    return Build(df, hints, bool(reads))


class LazyBuilds(Mapping):
    """name -> Build of every query the plan audit covers (the registry
    minus ``audit=False``) at SF_SMOKE, each built on first access and
    kept for the session. A failed build fails the test that asked for
    it; a query outside the audit is a missing key."""

    def __init__(self, spark):
        from koalas_spark.queries import registry

        self._spark = spark
        self._queries = {n: q for n, q in sorted(registry().items()) if q.audit}
        self._built: dict[str, Build] = {}

    def __getitem__(self, name: str) -> Build:
        if name not in self._built:
            q = self._queries[name]
            try:
                self._built[name] = watched_build(
                    self._spark, lambda: q.fn(self._spark, SF_SMOKE)
                )
            except Exception as exc:
                pytest.fail(f"{name}: query build failed: {exc}")
        return self._built[name]

    def __iter__(self):
        return iter(self._queries)

    def __len__(self) -> int:
        return len(self._queries)


@pytest.fixture(scope="session")
def registry_builds(spark):
    """The session's LazyBuilds. The oracle smoke test collects these
    frames, the registry-wide plan gates (test_plan_audit,
    test_dim_gate) read their plans and hints, and test_dim_gate's
    above-gate sweep rebuilds the sized ones."""
    return LazyBuilds(spark)


@pytest.fixture
def private_artifacts(monkeypatch):
    """A private artifact store for one test: what it memoizes or
    stages is dropped afterwards, and the session's store, which the
    shared registry frames read from, is left untouched."""
    from koalas_spark import memo

    store: dict = {}
    monkeypatch.setattr(memo, "_ARTIFACTS", store)
    monkeypatch.setattr(memo, "_REGISTRY", [store])
    yield
    memo.reset_session_artifacts()
