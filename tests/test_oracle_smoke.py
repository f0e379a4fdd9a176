"""Fast oracle gate at sf0.001 — every registered query runs and, when
it has an oracle, matches DuckDB exactly (the driver repeats this at
sf0.01). The comparison is tools/check_oracle.check: column names,
Arrow type families, row count and sorted values. The oracle side is
materialized through Arrow because DuckDB's silent HUGEINT/DOUBLE
promotions hash differently at the driver even when every
Python-level value matches (the grouped_demean_arrow r4/r5 lesson),
so a family mismatch fails here before it can fail there. Audited
queries are built once per session, on first use
(conftest.registry_builds); this test collects those frames."""

import pytest

from tests.conftest import SF_SMOKE
from koalas_spark.queries import all_queries
from tools.check_oracle import check, connect_duck


@pytest.fixture(scope="module")
def duck():
    return connect_duck(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_matches_oracle(spark, duck, registry_builds, name):
    built = registry_builds.get(name)
    status, detail = check(spark, duck, SF_SMOKE, name, built and built.df)
    assert status in ("OK", "rows-only"), f"{status} {detail}"
