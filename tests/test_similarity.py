

"""IVF recall property: probing every cell is exhaustive search."""

from tests.conftest import SF_SMOKE


def test_ivf_nprobe_all_cells_equals_bruteforce(spark):
    from pyspark.sql import functions as F

    from koalas_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 16)
    probes = emb.filter(F.col("vec_id") < 5)
    ivf_all = ivf_topk(emb, probes, centroids, "vec_id", "embedding", k=5, nprobe=16)
    bf = brute_force_topk(emb, probes, "vec_id", "embedding", k=5)
    a = sorted(map(tuple, ivf_all.collect()))
    b = sorted(map(tuple, bf.collect()))
    assert a == b and a


def test_int8_quantized_topk_recall(spark):
    """int8 quantization must barely perturb the ranking: recall@5 of
    the quantized top-k vs the exact brute force should be high, and
    quantized scores must be integers reproducible from numpy."""
    import numpy as np
    from pyspark.sql import functions as F

    from koalas_spark.operators.similarity import (
        brute_force_topk,
        int8_brute_force_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, probes, "vec_id", "embedding", k=5)
    quant = int8_brute_force_topk(emb, probes, "vec_id", "embedding", k=5)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.probe_id, set()).add(r.neighbor_id)
    qt = {}
    qrows = quant.collect()
    for r in qrows:
        qt.setdefault(r.probe_id, set()).add(r.neighbor_id)
    recalls = [len(ex[p] & qt[p]) / len(ex[p]) for p in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # spot-check the integer dot against an independent numpy quantize
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}

    def q(v):
        amax = np.abs(v).max()
        if amax == 0:
            return np.zeros_like(v, dtype=np.int64)
        return np.floor(v * 127.0 / amax + 0.5).astype(np.int64)

    for r in qrows[:10]:
        want = int(q(vecs[r.probe_id]) @ q(vecs[r.neighbor_id]))
        assert r.qdot == want


def test_pq_topk_recall_vs_exact(spark):
    """PQ with per-axis codebooks must keep most true neighbors for
    clustered vectors (same-axis cluster members share codes)."""
    import math

    from pyspark.sql import functions as F

    from koalas_spark.operators.similarity import brute_force_topk, pq_topk

    def vec(axis, eps, dim=64):
        v = [eps * math.sin(i + 1) for i in range(dim)]
        v[axis * 7] += 1.0
        return v

    rows = [(i, vec(i % 3, 0.01 * (i // 3))) for i in range(18)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") < 3)
    codebook = emb.filter(F.col("vec_id") < 16)
    exact = brute_force_topk(emb, probes, "vec_id", "embedding", k=3)
    approx = pq_topk(emb, probes, codebook, "vec_id", "embedding", k=3)
    exact_set = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5


def test_rq_level2_code_is_the_argmin(spark):
    """Sanity for the residual layer: the chosen level-2 codeword must
    be the best available — reconstruction error <= the error of EVERY
    other level-2 choice. (It is NOT always <= the level-1-only error:
    a codebook vector has residual zero, and this convention's shrunk
    codebook contains no zero codeword, so encoding the residual can
    only overshoot there — a real property of additive quantizers
    whose codebooks lack a null entry.)"""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    cb1 = {j: vecs[j] for j in vecs if j < 16}
    cb2 = {j: vecs[j] * 0.25 for j in vecs if j < 16}

    from koalas_spark.operators.similarity import rq_topk

    out = rq_topk(
        emb,
        emb.filter("vec_id < 5"),
        emb.filter("vec_id < 16"),
        "vec_id",
        "embedding",
        k=5,
    ).collect()
    assert {r.probe_id for r in out} == {0, 1, 2, 3, 4}
    for r in out:
        assert r.neighbor_id != r.probe_id
        assert r.adist >= -1e-6  # squared distance, up to rounding

    # recompute the two-level encode for a few vectors and check the
    # argmin property numerically
    for vid in list(vecs)[:20]:
        v = vecs[vid]
        c1 = min(cb1, key=lambda j: (round(((v - cb1[j]) ** 2).sum(), 6), j))
        r1 = v - cb1[c1]
        c2 = min(cb2, key=lambda j: (round(((r1 - cb2[j]) ** 2).sum(), 6), j))
        e2 = ((v - cb1[c1] - cb2[c2]) ** 2).sum()
        for j in cb2:
            assert e2 <= ((r1 - cb2[j]) ** 2).sum() + 1e-6


def test_nn_descent_recall_improves(spark):
    """NN-Descent's whole claim: neighbor-of-neighbor rounds move the
    hash-bucket graph toward the TRUE k-NN graph. Check recall@10 of
    the refined graph against exact brute-force neighbors — strictly
    better than the init graph and above an absolute floor."""
    import numpy as np

    from koalas_spark.operators.similarity import nn_descent

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(cos, -np.inf)
    exact = {
        int(ids[i]): {int(ids[j]) for j in np.argsort(-cos[i])[:10]}
        for i in range(len(ids))
    }

    def recall(iters: int) -> float:
        got: dict[int, set[int]] = {}
        for r in nn_descent(emb, "vec_id", "embedding", k=10, iters=iters).collect():
            got.setdefault(r.src, set()).add(r.dst)
        hits = sum(len(got.get(i, set()) & exact[i]) for i in exact)
        return hits / (10 * len(exact))

    r0, r1, r4 = recall(0), recall(1), recall(4)
    assert r0 < r1 < r4, (r0, r1, r4)
    assert r4 >= 0.7, r4


def test_graph_search_recall(spark):
    """The greedy beam search over the NN-Descent graph must land
    most of the TRUE top-5 neighbors of each probe (the recall row
    vs exact #42 the graph-ANN story is judged by): with beam 8 ×
    3 rounds over a recall≥0.7 graph, the walk should recover a
    clear majority of the exact set."""
    from koalas_spark.queries.similarity import (
        ann_bruteforce_topk,
        ann_graph_search,
    )

    exact: dict[int, set[int]] = {}
    for r in ann_bruteforce_topk(spark, "/root/testdata/sf0.001").collect():
        exact.setdefault(r.probe_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in ann_graph_search(spark, "/root/testdata/sf0.001").collect():
        got.setdefault(r.probe_id, set()).add(r.neighbor_id)
    assert set(got) == set(exact)  # every probe answered
    assert all(len(v) == 5 for v in got.values())
    hits = sum(len(got[p] & exact[p]) for p in exact)
    recall = hits / (5 * len(exact))
    assert recall >= 0.6, recall


def test_nn_graph_artifact_matches_fresh_build(spark):
    """The session-shared NN-Descent graph memo (r13) must be
    value-identical to a fresh construction (rebuild=True bypasses
    it) — the copurchase_pair_table parity discipline."""
    from koalas_spark.queries.similarity import nn_descent_graph_table

    sf = "/root/testdata/sf0.001"
    cached = nn_descent_graph_table(spark, sf).collect()
    fresh = nn_descent_graph_table(spark, sf, rebuild=True).collect()
    assert sorted(map(tuple, cached)) == sorted(map(tuple, fresh))
    # and the memo actually memoizes: same object on a second call
    assert nn_descent_graph_table(spark, sf) is nn_descent_graph_table(spark, sf)


def _walk_table_broadcasts(spark, sf: str):
    """(rows of ann_graph_search, broadcast hints the beam walk puts
    over the vector or k-NN edge tables). Each round ends in a
    localCheckpoint, so the walk's joins are read from the analyzed
    plans handed to it rather than from the final frame."""
    from koalas_spark.queries.similarity import ann_graph_search

    DataFrame = type(spark.range(1))  # the concrete (classic) class
    plans = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().analyzed().toString())
        return real(self, *args, **kwargs)

    DataFrame.localCheckpoint = spy
    try:
        rows = ann_graph_search(spark, sf).collect()
    finally:
        DataFrame.localCheckpoint = real
    hinted = []
    for plan in plans:
        lines = plan.splitlines()
        for line, child in zip(lines, lines[1:]):
            # the hinted child: cvec projects `v AS cv`, the graph `src, dst`
            if "ResolvedHint (strategy=broadcast)" in line and (
                " AS cv#" in child or "dst#" in child
            ):
                hinted.append(child.strip())
    return rows, hinted


def test_walk_gate_above_threshold_drops_table_broadcasts(spark, monkeypatch):
    """The beam walk's broadcast gate sizes embeddings by their files
    (memo.source_bytes), so a directory-shaped table is measured, not
    its inode. Above the 64 MB gate neither the vector table nor the
    k-NN edge table may carry a broadcast hint, and the rows must
    still equal the oracle's."""
    import duckdb

    from koalas_spark import memo
    from koalas_spark.queries import all_oracles
    from koalas_spark.queries.similarity import nn_descent_graph_table
    from tools.check_oracle import _norm

    # the graph's own construction has hints of its own; build it first
    nn_descent_graph_table(spark, SF_SMOKE)
    under_rows, under = _walk_table_broadcasts(spark, SF_SMOKE)
    assert under, "below the gate both walk tables broadcast"

    monkeypatch.setattr(memo, "source_bytes", lambda sf_dir, table: 65 << 20)
    rows, hinted = _walk_table_broadcasts(spark, SF_SMOKE)
    assert hinted == []

    cols = sorted(rows[0].asDict())
    got = sorted(tuple(_norm(r[c]) for c in cols) for r in rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    res = con.execute(all_oracles()["ann_graph_search"])
    names = [d[0] for d in res.description]
    want = sorted(
        tuple(_norm(r[names.index(c)]) for c in cols) for r in res.fetchall()
    )
    assert got == want
    assert got == sorted(tuple(_norm(r[c]) for c in cols) for r in under_rows)
