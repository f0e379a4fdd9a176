"""Similarity search over embedding columns (SURVEY.md §2.4).

brute_force_topk — correctness baseline: broadcast the (small) probe
set against the corpus, exact cosine, per-probe window top-k. The
corpus never shuffles: probes are broadcast, the window partitions by
probe id over |probes|×|corpus| scored rows.

lsh_topk — the scale path: random-hyperplane sign buckets (bits of
xxhash64-seeded pseudo-random weights, so the "random" matrix is
deterministic and shipped as an expression, not driver state). Probes
only score candidates in their own bucket — at 100 TB this turns a
full scan per probe into a bucket-local lookup; recall is tunable by
number of planes / probe multi-probing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from koalas_spark.functions.vectorfn import (
    as_double,
    cosine_of_dot,
    dot,
    l2_sq,
    norm_sq,
    rounded_cosine,
)

# PQ splits a vector into NSUB subspaces of DSUB dims; RQ's level-2
# codebook is the level-1 rows scaled by SHRINK (an exact power of
# two). The oracle SQL of ann_pq_topk, ann_ivf_pq_topk and ann_rq_topk
# (queries/similarity.py: _pq_sub, _pq_l2r, ``x * 0.25``) hard-codes
# the same values.
NSUB, DSUB, SHRINK = 4, 16, 0.25


def _prep(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """Cast to double and precompute the squared norm ONCE per row —
    per-pair scoring then only pays the dot product."""
    v = as_double(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(out_id), v.alias(f"_{out_id}_vec"), norm_sq(v).alias(f"_{out_id}_n")
    )


def _pair_cos(a: str, b: str) -> Column:
    return rounded_cosine(
        F.col(f"_{a}_vec"), F.col(f"_{b}_vec"), F.col(f"_{a}_n"), F.col(f"_{b}_n")
    )


def per_probe_topk(
    scored: DataFrame,
    score: str,
    k: int,
    *cols,
    by: str = "probe_id",
    tie: str = "neighbor_id",
    asc: bool = False,
) -> DataFrame:
    """The k best rows of each ``by`` group by ``score`` (descending
    unless ``asc``), ties to the smaller ``tie``, numbered ``rk`` 1..k
    — a WindowGroupLimit in the physical plan. ``cols`` default to
    (by, tie, score, rk)."""
    order = F.col(score).asc() if asc else F.col(score).desc()
    w = Window.partitionBy(by).orderBy(order, F.col(tie).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*(cols or (by, tie, score, "rk")))
    )


def _sub(v: Column, s: int) -> Column:
    """PQ sub-vector ``s`` of ``v``."""
    return F.slice(v, s * DSUB + 1, DSUB)


def _argmin(d: Column, i: Column, field: str = "j") -> Column:
    """Aggregate: the ``i`` of the smallest ``d``, ties to the smaller
    ``i`` (struct min orders by (d, i))."""
    return F.min(F.struct(d.alias("d"), i.alias(field))).getField(field)


def spread_vector_table(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, v, n2): the double vector and its squared norm, zero
    vectors dropped, key-spread on vid and lazily checkpointed. The
    source is typically one parquet split, and every scoring join
    downstream would otherwise stream on a single core; an explicit
    keyed repartition (not AQE-owned) keeps the exchange at cluster
    parallelism at any scale (guide §2.6)."""
    fan = vectors.sparkSession.sparkContext.defaultParallelism
    return (
        vectors.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
        .withColumn("n2", norm_sq(F.col("v")))
        .filter(F.col("n2") > 0)
        .repartition(fan, "vid")
        .localCheckpoint(eager=False)
    )


def _score(corpus: DataFrame, probes: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    p = _prep(probes, id_col, vec_col, "probe_id")
    c = _prep(corpus, id_col, vec_col, "neighbor_id")
    return (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", _pair_cos("probe_id", "neighbor_id").alias("cos_sim"))
    )


def brute_force_topk(
    corpus: DataFrame, probes: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    return per_probe_topk(_score(corpus, probes, id_col, vec_col), "cos_sim", k)


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid
    (coarse quantizer, broadcast), then each probe searches its
    ``nprobe`` nearest centroid cells. At 100 TB the assignment is one
    broadcast pass over the corpus and the search shuffles on cell id
    — corpus never self-joins. Results never duplicate across probed
    cells because every corpus vector lives in exactly one cell;
    recall/latency tunes by nprobe alone."""
    cents = _prep(centroids, id_col, vec_col, "cell")
    base = _prep(corpus, id_col, vec_col, "neighbor_id")
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        F.col("_cos").desc(), F.col("cell").asc()
    )
    # the vector and its norm ride through the assignment window
    # (shuffle pays ~vector-width extra bytes per row) so the assigned
    # corpus needs NO join back onto base — the earlier
    # base⋈cellmap formulation recomputed the whole scan+cross-join a
    # second time and added a full corpus shuffle
    corpus_c = (
        base.crossJoin(F.broadcast(cents))
        .select(
            "neighbor_id",
            "_neighbor_id_vec",
            "_neighbor_id_n",
            "cell",
            _pair_cos("neighbor_id", "cell").alias("_cos"),
        )
        .withColumn("_rk", F.row_number().over(w_assign))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_cos")
    )
    # probes rank the broadcast centroids directly (same rounded-cos +
    # cell-id tie-break as the corpus assignment), keeping the nprobe
    # nearest cells each
    w_probe = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc(), F.col("cell").asc()
    )
    probes_c = (
        _prep(probes, id_col, vec_col, "probe_id")
        .crossJoin(F.broadcast(cents))
        .select(
            "probe_id",
            "_probe_id_vec",
            "_probe_id_n",
            "cell",
            _pair_cos("probe_id", "cell").alias("_cos"),
        )
        .withColumn("_rk", F.row_number().over(w_probe))
        .filter(F.col("_rk") <= nprobe)
        .drop("_rk", "_cos")
    )
    scored = (
        corpus_c.join(F.broadcast(probes_c), "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", _pair_cos("probe_id", "neighbor_id").alias("cos_sim"))
    )
    return per_probe_topk(scored, "cos_sim", k)


def _bucketed(prepped: DataFrame, id_name: str, num_planes: int) -> DataFrame:
    """Attach the sign-bucket id via posexplode + hash-agg: flat
    codegen'd columns instead of per-element higher-order lambdas
    (~3x faster measured).

    Engine-portable hyperplane family (since r7, was xxhash64):
    weight(p,d) = ±1 from bit 20 of the 32-bit Knuth multiplicative
    hash of i = p*4096 + d (bit 0 of i*odd is just the parity of i, so
    a mid bit is taken; the 4096 stride decouples planes for any
    dim ≤ 4096). The projection runs over the 1e4-quantized INTEGER
    vector, so its sign is exact order-independent arithmetic — no
    float-reassociation hazard across partitionings, and a plain-SQL
    oracle reproduces the buckets (queries/similarity.py #43)."""
    qx = F.floor(F.col("x") * 10000 + F.lit(0.5)).cast("long")
    ex = prepped.select(
        id_name, F.posexplode(f"_{id_name}_vec").alias("d", "x")
    ).select(id_name, "d", qx.alias("qx"))

    def proj(p: int):
        h = (F.lit(p * 4096) + F.col("d")) * F.lit(2654435761) % F.lit(4294967296)
        bit = F.shiftright(h, 20).bitwiseAND(F.lit(1))
        signed = F.when(bit == 1, F.col("qx")).otherwise(-F.col("qx"))
        return F.sum(signed).alias(f"_pr{p}")

    projs = ex.groupBy(id_name).agg(*[proj(p) for p in range(num_planes)])
    bucket = None
    for p in range(num_planes):
        bit = F.when(F.col(f"_pr{p}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, p)
        bucket = term if bucket is None else bucket.bitwiseXOR(term)
    return prepped.join(projs.select(id_name, bucket.alias("_bk")), id_name)


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: equi-join probe and corpus on bucket id, then
    exact cosine re-rank within the bucket."""
    c = _bucketed(_prep(corpus, id_col, vec_col, "neighbor_id"), "neighbor_id", num_planes)
    p = _bucketed(_prep(probes, id_col, vec_col, "probe_id"), "probe_id", num_planes)
    scored = (
        c.join(F.broadcast(p), "_bk")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", _pair_cos("probe_id", "neighbor_id").alias("cos_sim"))
    )
    return per_probe_topk(scored, "cos_sim", k)


def int8_quantize(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: q[i] = half-up-round of
    v[i] * 127 / max|v| — the standard memory lever for billion-vector
    search (4x smaller than float32, SIMD-friendly int dot products).

    Everything downstream of the quantize is INTEGER math, so scores
    are bit-exact across engines and cluster layouts; the rounding is
    written as floor(x + 0.5) because engines disagree on round()'s
    tie rule but all floor identically. Zero vectors quantize to zero
    and carry qnorm 0 (they cannot rank by cosine; callers filter).
    Shuffle-free: one expression map over the scan."""
    v = as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, F.abs))
    qv = F.when(amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(v, lambda x: F.floor(x * 127.0 / amax + F.lit(0.5)))
    )
    out = df.select(F.col(id_col).alias(out_id), qv.alias(f"_{out_id}_qv"))
    return out.withColumn(f"_{out_id}_qn", norm_sq(F.col(f"_{out_id}_qv"), 0))


def int8_brute_force_topk(
    corpus: DataFrame, probes: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Quantized ANN baseline: identical plan shape to brute_force_topk
    (broadcast probes, per-probe window top-k → WindowGroupLimit), but
    the score is the int8 dot product — a bigint, exactly reproducible
    — and the ranking cosine is reconstructed from integer dot and
    integer norms, so the whole ranking is deterministic. At scale the
    quantized corpus is what actually fits in executor memory."""
    qp = int8_quantize(probes, id_col, vec_col, "probe_id").filter(
        F.col("_probe_id_qn") > 0
    )
    qc = int8_quantize(corpus, id_col, vec_col, "neighbor_id").filter(
        F.col("_neighbor_id_qn") > 0
    )
    qdot = dot(F.col("_probe_id_qv"), F.col("_neighbor_id_qv"), 0)
    qcos = cosine_of_dot(qdot, F.col("_probe_id_qn"), F.col("_neighbor_id_qn"))
    scored = (
        qc.crossJoin(F.broadcast(qp))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", qdot.alias("qdot"), qcos.alias("qcos"))
    )
    return per_probe_topk(scored, "qcos", k, "probe_id", "neighbor_id", "qdot", "qcos", "rk")


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    codebook_src: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation).

    The vector is split into NSUB subspaces of DSUB dims; each
    subspace has a 16-entry codebook (here the sub-vectors of the
    deterministic ``codebook_src`` rows, same "trained centroids"
    convention as ivf_topk). Every corpus vector is ENCODED as NSUB
    bytes — at a billion vectors that is the difference between a
    corpus that fits in executor memory (4 B/vector) and one that
    doesn't (256 B/vector float32) — and probes score candidates by
    summing per-subspace distance-table lookups instead of touching
    the original vectors.

    Plan shape, all scale-safe: encode = one broadcast(16-row
    codebook) pass over the corpus + a groupBy(vec) argmin whose state
    is NSUB structs; the distance table is |probes|x16 rows,
    broadcast; scoring is NSUB broadcast-hash joins on (probe, code)
    over the code table. The corpus never shuffles its vectors —
    only ids + codes move. Distances round to 6 decimals before every
    argmin/rank so the DuckDB oracle reproduces the exact ranking."""
    v = as_double(F.col(vec_col))
    cents = codebook_src.select(
        F.col(id_col).alias("j"), *[_sub(v, s).alias(f"c{s}") for s in range(NSUB)]
    )
    vecs = corpus.select(
        F.col(id_col).alias("vid"), *[_sub(v, s).alias(f"v{s}") for s in range(NSUB)]
    )
    # encode: per-subspace argmin over the broadcast codebook; struct
    # min orders by (rounded distance, j) so ties break to smaller j
    enc = (
        vecs.crossJoin(F.broadcast(cents))
        .select(
            "vid",
            "j",
            *[
                F.round(l2_sq(F.col(f"v{s}"), F.col(f"c{s}")), 6).alias(f"d{s}")
                for s in range(NSUB)
            ],
        )
        .groupBy("vid")
        .agg(*[_argmin(F.col(f"d{s}"), F.col("j")).alias(f"code{s}") for s in range(NSUB)])
    )
    pvecs = probes.select(
        F.col(id_col).alias("probe_id"),
        *[_sub(v, s).alias(f"p{s}") for s in range(NSUB)],
    )
    dt = pvecs.crossJoin(F.broadcast(cents)).select(
        "probe_id",
        "j",
        *[
            F.round(l2_sq(F.col(f"p{s}"), F.col(f"c{s}")), 6).alias(f"t{s}")
            for s in range(NSUB)
        ],
    )
    scored = enc
    for s in range(NSUB):
        dts = dt.select(
            "probe_id" if s == 0 else F.col("probe_id").alias(f"_pb{s}"),
            F.col("j").alias(f"_j{s}"),
            f"t{s}",
        )
        on = [F.col(f"code{s}") == F.col(f"_j{s}")]
        if s > 0:
            on.append(F.col("probe_id") == F.col(f"_pb{s}"))
        scored = scored.join(F.broadcast(dts), on[0] if len(on) == 1 else on[0] & on[1])
    adist = F.round(sum(F.col(f"t{s}") for s in range(NSUB)), 6)
    scored = (
        scored.filter(F.col("vid") != F.col("probe_id"))
        .select("probe_id", F.col("vid").alias("neighbor_id"), adist.alias("adist"))
    )
    return per_probe_topk(scored, "adist", k, asc=True)


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids_src: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF+PQ — the two scale levers composed, as a billion-vector
    index actually deploys them: the IVF coarse quantizer prunes the
    candidate set (probes touch only their ``nprobe`` nearest cells)
    and PQ codes score the survivors via distance-table lookups, so
    neither the full corpus nor any float vector is ever shuffled or
    scanned at query time.

    One broadcast(centroids) pass over the corpus computes BOTH the
    cell assignment (argmax rounded cosine, ties to the smaller
    centroid id) and the NSUB PQ codes (per-subspace argmin L2) in
    a single groupBy — in production this is the one-time index build;
    the query side is all broadcast-hash joins against |probes|-sized
    frames. Cell argmax keys on (1 - cos) rather than -cos so the
    comparison never manufactures a negative zero. Every distance
    rounds to 6 decimals before argmin/rank, so a SQL oracle
    reproduces cells, codes, and the full ranking bit-for-bit.
    Non-residual variant (codes quantize the raw vector, not
    v - centroid): residual encoding needs a per-cell codebook train
    pass, which is a model-fitting step, not a query."""
    v = as_double(F.col(vec_col))
    cents = centroids_src.select(
        F.col(id_col).alias("j"),
        v.alias("cvec"),
        norm_sq(v).alias("cn"),
        *[_sub(v, s).alias(f"c{s}") for s in range(NSUB)],
    )
    base = corpus.select(
        F.col(id_col).alias("vid"),
        v.alias("bvec"),
        norm_sq(v).alias("bn"),
        *[_sub(v, s).alias(f"v{s}") for s in range(NSUB)],
    )
    # index build: cell + codes from ONE pass over broadcast centroids
    enc = (
        base.crossJoin(F.broadcast(cents))
        .select(
            "vid",
            "j",
            (
                1.0 - rounded_cosine(F.col("bvec"), F.col("cvec"), F.col("bn"), F.col("cn"))
            ).alias("ic"),
            *[
                F.round(l2_sq(F.col(f"v{s}"), F.col(f"c{s}")), 6).alias(f"d{s}")
                for s in range(NSUB)
            ],
        )
        .groupBy("vid")
        .agg(
            _argmin(F.col("ic"), F.col("j")).alias("cell"),
            *[_argmin(F.col(f"d{s}"), F.col("j")).alias(f"code{s}") for s in range(NSUB)],
        )
    )
    pv = probes.select(
        F.col(id_col).alias("probe_id"),
        v.alias("pvec"),
        norm_sq(v).alias("pn"),
        *[_sub(v, s).alias(f"p{s}") for s in range(NSUB)],
    )
    w_probe = Window.partitionBy("probe_id").orderBy(
        F.col("ic").asc(), F.col("j").asc()
    )
    pcells = (
        pv.crossJoin(F.broadcast(cents))
        .select(
            "probe_id",
            "j",
            (
                1.0 - rounded_cosine(F.col("pvec"), F.col("cvec"), F.col("pn"), F.col("cn"))
            ).alias("ic"),
        )
        .withColumn("_rk", F.row_number().over(w_probe))
        .filter(F.col("_rk") <= nprobe)
        .select("probe_id", F.col("j").alias("cell"))
    )
    dt = pv.crossJoin(F.broadcast(cents)).select(
        "probe_id",
        "j",
        *[
            F.round(l2_sq(F.col(f"p{s}"), F.col(f"c{s}")), 6).alias(f"t{s}")
            for s in range(NSUB)
        ],
    )
    scored = enc.join(F.broadcast(pcells), "cell").filter(
        F.col("vid") != F.col("probe_id")
    )
    for s in range(NSUB):
        dts = dt.select(
            F.col("probe_id").alias(f"_pb{s}"),
            F.col("j").alias(f"_j{s}"),
            f"t{s}",
        )
        scored = scored.join(
            F.broadcast(dts),
            (F.col("probe_id") == F.col(f"_pb{s}"))
            & (F.col(f"code{s}") == F.col(f"_j{s}")),
        )
    adist = F.round(sum(F.col(f"t{s}") for s in range(NSUB)), 6)
    scored = scored.select(
        "probe_id", F.col("vid").alias("neighbor_id"), adist.alias("adist")
    )
    return per_probe_topk(scored, "adist", k, asc=True)


def rq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    codebook_src: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Residual-quantization ANN (2-level additive codes) — the third
    compression family after int8 and PQ, and the one modern vector
    stores deploy for high recall at small code size: level 1 encodes
    the vector against a full-dimension codebook, level 2 encodes the
    RESIDUAL against a second codebook, and the reconstruction is the
    SUM of the two codewords (2 bytes/vector here).

    Asymmetric scoring uses the additive expansion
        ||p - a - b||^2 = ||p - a||^2 + (||b||^2 - 2<p,b>) + 2<a,b>
    so a probe needs three table lookups: t1 (16 rows/probe), t2 (16
    rows/probe), and the probe-INDEPENDENT cross table X (16x16 = 256
    rows, built once) — no corpus vector is touched at query time.

    Codebook convention matches pq_topk/ivf_topk ("trained centroids"
    = the deterministic codebook_src rows); the level-2 codebook is
    the same rows shrunk by SHRINK = 0.25 — an EXACT power-of-two scale, so
    both engines derive identical doubles. Every distance rounds to 6
    decimals before argmin/rank; ties break to the smaller codebook
    id, making codes and ranking oracle-exact. Plan shape: two
    broadcast(16-row) encode passes over the corpus (only ids + 2
    codes ever shuffle), three broadcast-hash lookup joins to score.
    """
    v = as_double(F.col(vec_col))
    cb1 = codebook_src.select(F.col(id_col).alias("j"), v.alias("a"))
    cb2 = codebook_src.select(
        F.col(id_col).alias("kk"),
        F.transform(v, lambda x: x * SHRINK).alias("b"),
    )

    def encode(df: DataFrame, keys: list, vec: str, cb: DataFrame, cw: str, idc: str, out: str):
        # argmin over the broadcast codebook; the id rides the struct
        # as a double, the oracle's MIN([d, CAST(j AS DOUBLE)]) shape
        code = _argmin(F.col("d"), F.col(idc).cast("double"), "i").cast("bigint")
        return (
            df.crossJoin(F.broadcast(cb))
            .select(*keys, idc, F.round(l2_sq(F.col(vec), F.col(cw)), 6).alias("d"))
            .groupBy(*keys)
            .agg(code.alias(out))
        )

    vecs = corpus.select(F.col(id_col).alias("vid"), v.alias("v"))
    enc1 = encode(vecs, ["vid"], "v", cb1, "a", "j", "code1")
    res = (
        vecs.join(enc1, "vid")
        .join(F.broadcast(cb1), F.col("code1") == F.col("j"))
        .select("vid", "code1", F.zip_with("v", "a", lambda x, y: x - y).alias("r"))
    )
    enc2 = encode(res, ["vid", "code1"], "r", cb2, "b", "kk", "code2")

    pv = probes.select(F.col(id_col).alias("probe_id"), v.alias("p"))
    t1 = pv.crossJoin(F.broadcast(cb1)).select(
        "probe_id", "j", F.round(l2_sq(F.col("p"), F.col("a")), 6).alias("t1")
    )
    t2 = pv.crossJoin(F.broadcast(cb2)).select(
        "probe_id",
        "kk",
        F.round(
            norm_sq(F.col("b")) - 2 * dot(F.col("p"), F.col("b")), 6
        ).alias("t2"),
    )
    xt = cb1.crossJoin(F.broadcast(cb2)).select(
        F.col("j").alias("xj"),
        F.col("kk").alias("xk"),
        F.round(2 * dot(F.col("a"), F.col("b")), 6).alias("x"),
    )
    scored = (
        enc2.join(F.broadcast(t1), F.col("code1") == F.col("j"))
        .join(
            F.broadcast(t2.withColumnRenamed("probe_id", "_pb2")),
            (F.col("probe_id") == F.col("_pb2")) & (F.col("code2") == F.col("kk")),
        )
        .join(
            F.broadcast(xt),
            (F.col("code1") == F.col("xj")) & (F.col("code2") == F.col("xk")),
        )
        .filter(F.col("vid") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vid").alias("neighbor_id"),
            F.round(F.col("t1") + F.col("t2") + F.col("x"), 6).alias("adist"),
        )
    )
    return per_probe_topk(scored, "adist", k, asc=True)


def nn_descent(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iters: int = 4,
) -> DataFrame:
    """NN-Descent k-NN graph construction (Dong et al., WWW'11) — the
    iterative refinement behind graph-based ANN indexes (NSW/HNSW
    family): start from cheap hash-bucket neighbors, then repeatedly
    propose NEIGHBORS-OF-NEIGHBORS (a friend of a friend is likely a
    friend, the paper's core observation) and keep the best k per
    node.

    Everything is hash-deterministic (portable md5-prefix buckets
    since r7 — was xxhash64 — rounded-6 cosine, (cos DESC, dst ASC)
    tie-break), so the graph is reproducible across runs, partitionings
    AND engines: the query's chained-CTE oracle replays the init and
    all refinement rounds value-for-value, and the recall guarantees
    are additionally unit-tested against the exact brute-force
    neighbors (tests/test_similarity.py).

    Scale shape per iteration: ONE self-join of the k-edge list on the
    shared node (fan-out <= k^2 per node, bounded by construction),
    one distinct, two id-equi joins to fetch the candidate endpoints'
    vectors, and a WindowGroupLimit top-k per node over a key whose
    cardinality grows with the data. The vector table shuffles on id
    only; no global state, no driver collect; the edge frame is
    checkpointed per iteration so lineage depth stays 1.
    """
    vec = spread_vector_table(vectors, id_col, vec_col)
    fan = vectors.sparkSession.sparkContext.defaultParallelism
    # Join-strategy gate (r13, guide §3.1): every refinement round
    # equi-joins the candidate pairs against this vector table TWICE
    # (src endpoint, dst endpoint). The table sits behind a
    # checkpoint, so the planner has no size estimate and falls back
    # to a shuffle join — 2 extra exchanges per round, ~10 for the
    # whole build, pure overhead whenever the table is broadcast-
    # sized. Count it once (one |V|-row job against the checkpoint
    # that every round reuses anyway) and hint broadcast under the
    # same kind of size gate AQE itself applies; above the gate the
    # shuffle joins stay, so the plan degrades exactly as before at
    # cluster scale. Join strategy never changes values. The gate
    # counts rows instead of reading memo.source_bytes: the operator takes
    # frames, not an sf_dir, and it pays this count for cand_fan anyway.
    n_vec = vec.count()
    bcast_vec = n_vec <= 100_000
    # Scale-adaptive candidate fan (guide §2): each refinement round
    # scores about n_vec * k * 3 pairs; size the one per-round
    # exchange to ~16k scored pairs per task instead of pinning the
    # cluster parallelism — at bench SFs that is a handful of real
    # tasks instead of 32+ empty ones, and at corpus scale it grows
    # to (and is capped at) the full cluster.
    cand_fan = max(1, min(fan, (n_vec * k * 3) // 16384 + 1))

    def vec_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_vec else df

    # init: union of THREE independently salted hash bucketings (each
    # bucket ~k/2 members). A single bucketing would hand every node a
    # CLIQUE — its neighbors' neighbors are all inside the same bucket,
    # so the refinement rounds could never escape it; multiple salts
    # make co-membership differ per salt, which is the deterministic
    # analogue of the paper's random-neighbor init and gives the
    # neighbor-of-neighbor walk cross-bucket reach.
    # nb comes straight from the n_vec count above (identical to the
    # old 1-row aggregate-and-crossJoin subplan, minus its stage); the
    # build side of each salt's self-join rides the same broadcast
    # gate as the vector lookups.
    from koalas_spark.operators.dedup import portable_hash60

    tgt = max(k // 2, 2)
    nb = F.lit(max(n_vec // tgt, 1)).cast("bigint")
    # r14 (guide §2.4): one (salt, bucket)-keyed self-join replaces the
    # old three per-salt self-joins — co-membership within a salt's
    # bucket is exactly equality on the (salt, bk) pair, so the union
    # of the three per-salt joins is value-identical to this single
    # join over the exploded 3|V|-row bucketing. One build side (one
    # broadcast under the gate, one shuffle above it) instead of three.
    def bk_for(salt: int):
        h = portable_hash60(
            F.concat(F.col("vid").cast("string"), F.lit(f":{salt}"))
        )
        return F.struct(F.lit(salt).alias("salt"), F.pmod(h, nb).alias("bk"))

    bucketed = vec.select(
        "vid",
        F.explode(F.array(*[bk_for(s) for s in range(3)])).alias("sbk"),
    ).select("vid", F.col("sbk.salt").alias("salt"), F.col("sbk.bk").alias("bk"))
    cand = (
        bucketed.alias("a")
        .join(
            vec_side(bucketed.alias("b")),
            (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.bk") == F.col("b.bk")),
        )
        .filter(F.col("a.vid") != F.col("b.vid"))
        .select(F.col("a.vid").alias("src"), F.col("b.vid").alias("dst"))
    )

    def top_k(cands: DataFrame) -> DataFrame:
        # ONE exchange per round (r13, guide §2.4): the candidate
        # frame is hash-partitioned on src once, and BOTH the
        # (src, dst) dedup and the per-src top-k window ride that
        # partitioning (src is a subset of each operator's clustering
        # keys, so EnsureRequirements inserts no further exchange);
        # under the broadcast gate the endpoint lookups between them
        # are broadcast-hash probes. The old shape paid three
        # exchanges per round: distinct on (src, dst), a pinned
        # 32-way spread, and the window sort.
        spread = cands.repartition(cand_fan, "src").dropDuplicates(
            ["src", "dst"]
        )
        scored = (
            spread.join(
                vec_side(
                    vec.select(
                        F.col("vid").alias("src"),
                        F.col("v").alias("sv"),
                        F.col("n2").alias("sn"),
                    )
                ),
                "src",
            )
            .join(
                vec_side(
                    vec.select(
                        F.col("vid").alias("dst"),
                        F.col("v").alias("dv"),
                        F.col("n2").alias("dn"),
                    )
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                rounded_cosine(
                    F.col("sv"), F.col("dv"), F.col("sn"), F.col("dn")
                ).alias("cos_sim"),
            )
        )
        return per_probe_topk(scored, "cos_sim", k, by="src", tie="dst")

    edges = top_k(cand).localCheckpoint(eager=False)
    for _ in range(iters):
        e1 = edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        # r14 (guide §3.1): the neighbor-of-neighbor self-join's input
        # sits behind a checkpoint, so the planner has no size
        # estimate and falls back to a shuffle join — 2 exchanges per
        # round for a k|V|-row edge list (10x the vector table's rows,
        # same order of bytes). Ride the SAME size gate as the vector
        # lookups: under it the q side broadcasts and the whole
        # candidate generation is map-side over the checkpoint; above
        # it the shuffle join returns unchanged. Join strategy only —
        # values are identical either way.
        non = (
            e1.alias("p")
            .join(vec_side(e1.alias("q")), F.col("p.y") == F.col("q.x"))
            .select(F.col("p.x").alias("src"), F.col("q.y").alias("dst"))
        )
        rev = e1.select(F.col("y").alias("src"), F.col("x").alias("dst"))
        cands = (
            edges.select("src", "dst")
            .unionByName(rev)
            .unionByName(non)
            .filter(F.col("src") != F.col("dst"))
        )
        edges = top_k(cands).localCheckpoint(eager=False)
    return edges
