"""connected_components semantics on known graphs."""

import os

import pytest
from pyspark.sql import functions as F

from koalas_spark.operators.graph import connected_components
from tests.conftest import SF_SMOKE, watched_build


def _comps(spark, pairs, driver_edge_limit=0):
    # driver_edge_limit=0 forces the distributed LP path; the
    # size-gated driver union-find is covered by its own tests below
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components(edges, driver_edge_limit=driver_edge_limit).collect()
    got = {}
    for r in rows:
        got.setdefault(r["comp"], set()).add(r["node"])
    return sorted(sorted(v) for v in got.values())


def test_chain_collapses_to_one(spark):
    # 1-2-3-4-5 chain: diameter 4, forces multiple LP rounds
    assert _comps(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]) == [[1, 2, 3, 4, 5]]


def test_two_components_and_triangle(spark):
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11)]
    assert _comps(spark, pairs) == [[1, 2, 3], [10, 11]]


def test_min_label_is_canonical(spark):
    # labels flow down regardless of edge direction given
    pairs = [(9, 4), (4, 7), (100, 9)]
    comps = _comps(spark, pairs)
    assert comps == [[4, 7, 9, 100]]


def test_star_graph_single_round_shape(spark):
    pairs = [(5, i) for i in range(6, 20)]
    assert _comps(spark, pairs) == [list(range(5, 20))]


# ---------------- size-gated driver union-find ----------------


def test_driver_fast_path_matches_distributed(spark):
    for pairs in (
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        [(1, 2), (2, 3), (1, 3), (10, 11)],
        [(9, 4), (4, 7), (100, 9)],
        [(5, i) for i in range(6, 20)],
        [(7, 7), (1, 2)],
    ):
        fast = _comps(spark, pairs, driver_edge_limit=1_000_000)
        assert fast == _comps(spark, pairs, driver_edge_limit=0)


def test_driver_gate_respects_limit(spark):
    # 10 edges, limit 5 -> must take the distributed path and still be
    # correct (i.e. the gate only ever changes the strategy, never the
    # answer)
    pairs = [(i, i + 1) for i in range(10)]
    assert _comps(spark, pairs, driver_edge_limit=5) == [list(range(11))]


# ---------------- materialized co-purchase pair artifact ----------------


def test_copurchase_artifact_matches_fresh_build(spark):
    """The once-per-sf_dir snapshot artifact must be value-identical
    to a fresh rebuild from lineitem (rebuild=True bypasses it)."""
    from koalas_spark.queries.mining import copurchase_pair_table

    sf = "/root/testdata/sf0.001"
    cached = copurchase_pair_table(spark, sf).collect()
    fresh = copurchase_pair_table(spark, sf, rebuild=True).collect()
    key = lambda r: (r["u"], r["v"])
    assert sorted(map(tuple, cached)) == sorted(map(tuple, fresh))
    assert len({key(r) for r in cached}) == len(cached)  # (u,v) unique


def test_daily_revenue_artifact_matches_fresh_build(spark):
    """The once-per-sf_dir daily-revenue snapshot artifact must be
    value-identical to a fresh rebuild from orders (rebuild=True
    bypasses it) — the #170 discipline applied to the day domain."""
    from koalas_spark.queries.analytics import daily_revenue_table

    sf = "/root/testdata/sf0.001"
    cached = daily_revenue_table(spark, sf).collect()
    fresh = daily_revenue_table(spark, sf, rebuild=True).collect()
    assert sorted(map(tuple, cached)) == sorted(map(tuple, fresh))
    assert len({r["d"] for r in cached}) == len(cached)  # d unique


def test_bfs_layer_plan_shape(spark):
    """Pin the PER-HOP expansion plan of mining._bfs_layer_counts
    (ADVICE r11 medium): khop_reach_copurchase and
    harmonic_centrality_probes execute the whole BFS at
    DataFrame-construction time, so they are registered with
    audit=False and tools/audit_plans.py does not build them —
    this test is the replacement scale gate. One hop must be a
    key-partitioned equi-join (frontier x edges) + distinct: shuffle
    hash/sort-merge only, never a broadcast nested loop or cartesian
    over the edge set."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "u bigint, v bigint"
    )
    seeds = spark.createDataFrame([(0,), (7,)], "s bigint")
    reach = seeds.select("s", F.col("s").alias("node"))
    expanded = reach.join(edges, reach["node"] == edges["u"]).select(
        "s", F.col("v").alias("node")
    )
    hop = reach.unionAll(expanded).distinct()
    jvm = spark._jvm  # noqa: SLF001
    plan = jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        hop._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the frontier join is an equi-join on the edge key
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan
    # the cumulative-reach dedup is a keyed aggregate, not a global op
    assert "HashAggregate" in plan

    # and the counts themselves stay exact on a known graph: a
    # 0-1-2-...-50 path symmetrized, seed 0 reaches hop+1 nodes,
    # seed 7 reaches 2*hop+1
    from koalas_spark.queries.mining import _bfs_layer_counts, symmetric

    counts = _bfs_layer_counts(symmetric(edges), seeds, hops=3)
    assert counts[(0, 1)] == 2 and counts[(0, 2)] == 3 and counts[(0, 3)] == 4
    assert counts[(7, 1)] == 3 and counts[(7, 2)] == 5 and counts[(7, 3)] == 7


def test_degree_artifact_matches_fresh_build(spark):
    """The materialized co-purchase degree artifact (round 12) must be
    value-identical to a fresh degree build from the edge set."""
    from koalas_spark.queries.mining import copurchase_degree_table

    sf = "/root/testdata/sf0.001"
    cached = copurchase_degree_table(spark, sf).collect()
    fresh = copurchase_degree_table(spark, sf, rebuild=True).collect()
    assert sorted(map(tuple, cached)) == sorted(map(tuple, fresh))
    assert len({r["x"] for r in cached}) == len(cached)  # node unique


# ---------------- graph-shelf size gates above threshold ----------------

# Output columns of the frames the graph shelf hints, by size class.
# Constant frames may carry a hint at any scale; |V|-sized ones (one
# row per node) only below bcast_v's 8 GB gate; everything else —
# |E|-sized adjacency slices, wedge frames, edge sets, the oriented
# triangle frames — only below the 512 MB |E| gate.
_CONST_HINTED = {("n_triangles",)}
_V_HINTED = {
    ("u",),  # k-core survivors
    ("v",),
    ("nx", "l"),  # label lookup
    ("u", "dg"),  # probe degrees
    ("c",),  # admitted wedge centers
    ("u", "dg_u"),
    ("v", "dg_v"),
}


@pytest.fixture(scope="module")
def kcore_peel_sf(tmp_path_factory):
    """A copy of SF_SMOKE whose lineitem gains two-line orders over 23
    new parts: a 20-part clique C and a chain p1-p2-p3 hanging off it.
    p1 has C[0:6] and p2 (degree 7), p2 has p1, p3 and C[6:12] (8), p3
    has p2 and C[12:19] (8). Every sf0.001 part keeps degree >= 49, so
    each k = 8 peel round drops exactly one node: p1, then p2, then p3
    — the input on which k-core's peel rounds run at all."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koalas_spark.sources.io import SOURCES, source_path

    out = tmp_path_factory.mktemp("kcore_peel")
    for t in SOURCES:
        if t != "lineitem":
            src = source_path(SF_SMOKE, t)
            os.symlink(src, out / os.path.basename(src))
    li = pq.read_table(source_path(SF_SMOKE, "lineitem"))
    clique = list(range(10_000, 10_020))
    p1, p2, p3 = 10_020, 10_021, 10_022
    edges = [(a, b) for i, a in enumerate(clique) for b in clique[i + 1 :]]
    edges += [(p1, c) for c in clique[0:6]] + [(p1, p2), (p2, p3)]
    edges += [(p2, c) for c in clique[6:12]] + [(p3, c) for c in clique[12:19]]
    template = li.slice(0, 1).to_pylist()[0]
    base = max(li["l_orderkey"].to_pylist()) + 1
    rows = [
        {**template, "l_orderkey": base + i, "l_partkey": part, "l_linenumber": n}
        for i, edge in enumerate(edges)
        for n, part in enumerate(edge, 1)
    ]
    grown = pa.concat_tables([li, pa.Table.from_pylist(rows, schema=li.schema)])
    pq.write_table(grown, source_path(str(out), "lineitem"))
    return str(out)


# the survivor counts of the three peel rounds on kcore_peel_sf
_PEEL_COUNTS = [(1, 222), (2, 221), (3, 220)]


@pytest.mark.parametrize(
    "name",
    [
        "kcore_peeling_rounds",
        "label_propagation_communities",
        "triangle_count_doulion",
        "local_clustering_copurchase",
        "jaccard_link_copurchase",
    ],
)
def test_graph_gates_above_threshold_drop_hints(spark, monkeypatch, request, name):
    """Above the |E| gate (1 GB of lineitem) no broadcast or
    shuffle_hash hint may sit over an |E|-sized frame; above the |V|
    gate too (16 GB) none over a |V|-sized one either. The rows must
    equal the oracle's on every side of the gates. k-core runs on the
    peel input: at SF_SMOKE its fixed-point exit fires before any
    join."""
    from koalas_spark import memo
    from koalas_spark.queries import all_queries
    from tools.check_oracle import check, connect_duck

    peel = name == "kcore_peeling_rounds"
    sf = request.getfixturevalue("kcore_peel_sf") if peel else SF_SMOKE
    duck = connect_duck(sf)

    def hints_over(allowed):
        built = watched_build(spark, lambda: all_queries()[name](spark, sf))
        assert check(spark, duck, sf, name, built.df)[0] == "OK"
        return [(h.cols, h.strategy) for h in built.hints if h.cols not in allowed]

    # below the gates a non-constant frame is hinted, so the checks
    # above them have something to drop
    assert hints_over(_CONST_HINTED), "below the gates the graph joins carry hints"
    for gb, allowed in ((1, _CONST_HINTED | _V_HINTED), (16, _CONST_HINTED)):
        monkeypatch.setattr(memo, "source_bytes", lambda sf_dir, t, gb=gb: gb << 30)
        assert hints_over(allowed) == [], f"hints above the {gb} GB gate"


@pytest.mark.parametrize("forced_bytes", [None, 100 << 40])
def test_kcore_peel_rounds_match_oracle(spark, monkeypatch, kcore_peel_sf, forced_bytes):
    """On the peel input every round drops a node, so all three rounds
    run; the counts equal the oracle's at the real gates and with the
    source sized at 100 TB, where every gate has given way."""
    from koalas_spark import memo
    from koalas_spark.queries import all_queries
    from tools.check_oracle import check, connect_duck

    if forced_bytes is not None:
        monkeypatch.setattr(memo, "source_bytes", lambda sf_dir, t: forced_bytes)
    df = all_queries()["kcore_peeling_rounds"](spark, kcore_peel_sf)
    assert sorted(map(tuple, df.collect())) == _PEEL_COUNTS
    duck = connect_duck(kcore_peel_sf)
    assert check(spark, duck, kcore_peel_sf, "kcore_peeling_rounds", df)[0] == "OK"


def test_kcore_exit_runs_no_peel_round_at_smoke_scale(spark, monkeypatch):
    """At SF_SMOKE no node has degree < 8, so round 1 keeps |V| and the
    fixed-point exit repeats that count: k-core never builds the
    adjacency and sizes no broadcast, and the rows equal the oracle."""
    from koalas_spark.queries import all_queries, mining
    from tools.check_oracle import check, connect_duck

    calls = []
    for fn in ("copurchase_adjacency", "bcast_v"):
        real = getattr(mining, fn)
        monkeypatch.setattr(
            mining, fn, lambda *a, fn=fn, real=real: calls.append(fn) or real(*a)
        )
    name = "kcore_peeling_rounds"
    built = watched_build(spark, lambda: all_queries()[name](spark, SF_SMOKE))
    assert calls == [] and built.hints == []
    assert check(spark, connect_duck(SF_SMOKE), SF_SMOKE, name, built.df)[0] == "OK"
