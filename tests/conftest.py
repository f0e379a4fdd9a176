import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from koalas_spark import get_spark

    s = get_spark("koalas_spark_tests", cpus=8)
    yield s
