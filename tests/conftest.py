import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from koalas_spark import get_spark

    s = get_spark("koalas_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def registry_frames(spark):
    """name -> DataFrame of every query the plan audit covers (the
    registry minus ``audit=False``), built once per session at SF_SMOKE
    and shared by the two registry-wide plan gates (test_plan_audit,
    test_dim_gate)."""
    from koalas_spark.queries import registry

    frames = {}
    for name, q in sorted(registry().items()):
        if not q.audit:
            continue
        try:
            frames[name] = q.fn(spark, SF_SMOKE)
        except Exception as exc:  # pragma: no cover - surface build errors
            pytest.fail(f"{name}: query build failed: {exc}")
    return frames
