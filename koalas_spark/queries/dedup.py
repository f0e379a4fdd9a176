"""Dedup queries over the documents table (SURVEY.md §2.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.operators.dedup import (
    exact_dedup,
    jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash64,
    simhash_near_pairs,
    verify_pairs_jaccard,
)
from koalas_spark.functions.textfn import tokens, word_shingles
from koalas_spark.memo import artifact
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t

# rounded cosine on DuckDB DOUBLE[] columns named e — shared by the
# cell-partitioned embedding oracles (#128, #158)
_NDC_COS = (
    "ROUND(list_dot_product({a}.e, {b}.e)"
    " / SQRT(list_dot_product({a}.e, {a}.e) * list_dot_product({b}.e, {b}.e)), 6)"
)


# 37. exact dedup — md5(normalized) classes, keep min doc_id.
@query(
    "dedup_exact",
    oracle="""
SELECT doc_id, fingerprint
FROM (
  SELECT doc_id,
         md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
         MIN(doc_id) OVER (PARTITION BY md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))))) AS _m
  FROM documents) t
WHERE doc_id = _m
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


# 38. MinHash + LSH near-dup pairs. Fully oracle-checked since r7:
# the base shingle hash is the portable 60-bit md5 prefix, the perm
# family is plain 31-bit affine arithmetic, and band buckets key on
# the raw 4-slot tuple — so DuckDB replays shingles → 64 signature
# mins → 16-band bucketing (with the 1000 cap) → candidate pairs →
# exact-Jaccard verify, value-for-value (previously rows-only: the
# xxhash64 perm family was Spark-specific).
# shared oracle CTE prefix: portable shingle hashes (sh) and 64-perm
# minhash signatures (sig) — replays shingle_sets + minhash_sigs
# exactly; used by #38 and the incremental #209
_MH_SIG_CTES = """sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
             list_transform(range(1, GREATEST(LEN(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hs
  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 3),
sig AS MATERIALIZED (
  SELECT doc_id,
         list_transform(range(0, 64), i ->
           list_min(list_transform(hs, h ->
             (((2654435761 * (2*i + 1)) % 2147483648) * (h % 2147483648)
              + ((40503 * (i + 12345)) % 2147483648)) % 2147483648))) AS sig
  FROM sh)"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_MH_SIG_CTES},
bnd AS MATERIALIZED (
  SELECT doc_id, p,
         [sig[4*p+1], sig[4*p+2], sig[4*p+3], sig[4*p+4]] AS key
  FROM sig, unnest(range(0, 16)) AS u(p)),
okb AS (SELECT p, key FROM (SELECT p, key, COUNT(*) AS n FROM bnd GROUP BY p, key) c
        WHERE n >= 2 AND n <= 1000),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bnd a
  JOIN okb ON okb.p = a.p AND okb.key = a.key
  JOIN bnd b ON b.p = a.p AND b.key = a.key AND a.doc_id < b.doc_id),
ver AS (
  SELECT id_a, id_b,
         ROUND(CAST(LEN(list_filter(x.hs, v -> list_contains(y.hs, v))) AS DOUBLE)
               / (LEN(x.hs) + LEN(y.hs)
                  - LEN(list_filter(x.hs, v -> list_contains(y.hs, v)))), 6)
           AS jaccard
  FROM cand JOIN sh x ON x.doc_id = cand.id_a
            JOIN sh y ON y.doc_id = cand.id_b)
SELECT id_a AS doc_a, id_b AS doc_b, jaccard FROM ver WHERE jaccard >= 0.5
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, sigs = minhash_sig_table(spark, sf_dir)
    pairs = lsh_candidate_pairs(sigs, bands=16, rows=4)
    return verify_pairs_jaccard(pairs, base, threshold=0.5).withColumnsRenamed(
        {"id_a": "doc_a", "id_b": "doc_b"}
    )


def minhash_sig_table(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The canonical (hashed shingle table, 64-perm minhash signature
    table) over this sf_dir's documents, a session artifact
    (koalas_spark.memo) shared by the three batch consumers that
    previously each re-ran scan + tokenize + shingle + the signature
    UDF (#38 dedup_minhash_lsh, #209
    incremental_neardup_minhash, #273 minhash_estimate_audit; each
    keeps its own LSH banding / verify stages — only the pure
    function of the documents table is shared).

    Lazy localCheckpoints on both frames for the same reason the
    per-query versions had them (r4/r5 A/B: MEMORY_AND_DISK persist
    measured WORSE than recompute; a lazy checkpoint materializes
    local blocks AND truncates lineage). ``rebuild=True`` bypasses the
    store (parity test)."""
    from koalas_spark.operators.dedup import minhash_sigs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    if rebuild:
        base = shingle_sets(docs, "doc_id", "text").localCheckpoint(
            eager=False
        )
        return base, minhash_sigs(base, num_perm=64)

    def build():
        base = shingle_sets(docs, "doc_id", "text").localCheckpoint(eager=False)
        return base, minhash_sigs(base, num_perm=64).localCheckpoint(eager=False)

    return artifact(spark, "minhash_sigs", (sf_dir, "documents"), build)


# 39. exact n-gram Jaccard inside (lang, source) blocks — fully
# oracle-checked via DuckDB list functions.
@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH sh AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang, source,
               string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
             / (LEN(a.shingles) + LEN(b.shingles)
                - LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x)))), 6) AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two scale tricks over the naive block self-join:
    #   1. shingles are xxhash64'd once per doc, so every pairwise
    #      intersect compares 8-byte longs, not ~20-char strings
    #      (distinct strings -> distinct hashes whp; Jaccard value
    #      unchanged, which is what the oracle checks);
    #   2. the self-join is salted: docs get a bucket in [0,G), the
    #      left side is replicated G ways on a target-bucket column,
    #      so each (lang, source) block's quadratic work spreads over
    #      G reducers instead of pinning one task per block.
    G = 8
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "source", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= 3)
    sh = toks.select(
        "doc_id",
        "lang",
        "source",
        F.transform(word_shingles(F.col("_toks"), 3), lambda s: F.xxhash64(s)).alias("shingles"),
        F.pmod(F.xxhash64("doc_id"), F.lit(G)).alias("_bkt"),
    )
    a = sh.withColumn("_tb", F.explode(F.array(*[F.lit(g) for g in range(G)]))).alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a._tb") == F.col("b._bkt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jaccard(F.col("a.shingles"), F.col("b.shingles")), 6).alias("jaccard"),
        )
    )


# 40. SimHash near-dup pairs. Fully oracle-checked since r7: token
# hashes are the portable 60-bit md5 prefix, so DuckDB replays the
# per-bit ±1 vote fold (bit b set iff ones > tokens/2), the 4×16-bit
# segment pigeonhole, and the bit_count(xor) hamming verify exactly
# (previously rows-only: xxhash64 token hashes). Empty/NULL docs
# fingerprint to 0 on both engines and pair with each other at
# hamming 0 — the documented degenerate-doc policy.
@query(
    "dedup_simhash",
    oracle="""
WITH f AS MATERIALIZED (
  SELECT doc_id,
         CAST(COALESCE(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN 2 * list_sum(list_transform(h, x -> (x >> b) & 1))
                       > LEN(h)
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)), 0) AS BIGINT)
           AS simhash
  FROM (
    SELECT doc_id,
           list_transform(
               list_filter(string_split_regex(TRIM(text), '\\s+'),
                           t -> t != ''),
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
    FROM documents) t),
seg AS MATERIALIZED (
  SELECT doc_id, simhash, s, (simhash >> (16 * CAST(s AS INT))) & 65535 AS sv
  FROM f, unnest(range(0, 4)) AS u(s)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS ha, b.simhash AS hb
  FROM seg a JOIN seg b
    ON a.s = b.s AND a.sv = b.sv AND a.doc_id < b.doc_id)
SELECT id_a AS doc_a, id_b AS doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
""",
    bench=False,
    allow={"Python"},
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sims = simhash64(docs, "doc_id", "text")
    return simhash_near_pairs(sims, max_hamming=3).withColumnsRenamed(
        {"id_a": "doc_a", "id_b": "doc_b"}
    )


# Largest all-pairs block #41 will attempt exactly. 20k rows/block is
# ~2e8 candidate pairs per block — the edge of tolerable for one
# executor-side self-join partition family; beyond it the exact plan's
# Σ_label n² cost is a scale-killer (sf1 measured 40x at 10x data), so
# the operator falls back to the cell-partitioned generator (#158
# shape) instead of attempting the quadratic join. Same
# bounded-dispatch idea as operators/graph.py's driver_edge_limit.
NEARDUP_BLOCK_LIMIT = 20_000


def _neardup_embedding_exact(emb: DataFrame) -> DataFrame:
    """Exact all-pairs cosine >= 0.35 within label blocks."""
    from koalas_spark.functions.vectorfn import as_double, norm_sq, rounded_cosine

    # cast + norm once per row, BEFORE the pair join — the join then
    # pays only the dot product per pair
    v = as_double(F.col("embedding"))
    prep = emb.select("vec_id", "label", v.alias("_v"), norm_sq(v).alias("_n"))
    a = prep.alias("a")
    b = prep.alias("b")
    cos = rounded_cosine(F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


def neardup_embedding_gated(
    spark: SparkSession, sf_dir: str, block_limit: int = NEARDUP_BLOCK_LIMIT
) -> DataFrame:
    """#41 with the quadratic stage size-gated.

    One cheap aggregate (per-label counts -> max, a handful of rows)
    decides the plan: exact all-pairs while every label block fits
    under ``block_limit``; the cell-partitioned #158 generator (exact
    within (label, cell), cross-cell pairs dropped by design — itself
    oracle-checked) once any block would make the self-join quadratic
    in corpus size. At oracle SFs blocks are far below the limit, so
    the checked path is always the exact one."""
    emb = _t(spark, sf_dir, "embeddings")
    max_block = (
        emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")).agg(F.max("c")).first()[0]
        or 0
    )
    if max_block > block_limit:
        return neardup_embedding_cells(spark, sf_dir).select(
            "vec_a", "vec_b", "cos_sim"
        )
    return _neardup_embedding_exact(emb)


# 41. embedding near-dup — cosine >= 0.35 within label blocks,
# double-precision index-order arithmetic on both engines.
# SCALE NOTE: exact all-pairs inside a label block is quadratic in
# the block, and blocks grow with the corpus — the sf1 run measured
# 40x cost at 10x data. Since r7 the quadratic stage is SIZE-GATED
# (neardup_embedding_gated above): blocks past NEARDUP_BLOCK_LIMIT
# switch to the cell-partitioned #158 generator, so no registered
# operator carries an ungated corpus-quadratic stage.
@query(
    "neardup_embedding",
    oracle="""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
                    * list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
                   * list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 6) >= 0.35
""",
)
def neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_embedding_gated(spark, sf_dir)


# 128. SemDeDup-style embedding cluster canonicalization — cosine
# near-dup pairs closed into transitive groups by the same distributed
# connected-components pass as #111, one row per cluster with the
# canonical (min) member. Pair detection alone over-deletes when
# A~B~C but A!~C; clustering keeps exactly one representative per
# semantic group. Since r4 the pair stage is the CELL-PARTITIONED
# generator (#158) — exact all-pairs-in-label measured 17.9x cost at
# 10x corpus (SCALING.md), while SemDeDup's own recipe clusters
# within coarse-quantizer cells; the oracle reproduces the identical
# cell map, so the within-cell semantics stay fully value-checked.
# Oracle: recursive-CTE min-label propagation over the celled pairs.
@query(
    "embedding_cluster_canonical",
    oracle=f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS j, e FROM v WHERE vec_id < 16),
assign AS (
  SELECT vid AS vec_id, cell FROM (
    SELECT v.vec_id AS vid, c.j AS cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_NDC_COS.format(a="v", b="c")} DESC,
                                       c.j ASC) AS rk
    FROM v CROSS JOIN cents c) t
  WHERE rk = 1),
av AS (SELECT v.vec_id, v.label, v.e, assign.cell
       FROM v JOIN assign ON v.vec_id = assign.vec_id),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM av a JOIN av b
    ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_NDC_COS.format(a="a", b="b")} >= 0.35),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
lp AS (
  WITH RECURSIVE walk(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.src, walk.lbl FROM edges e JOIN walk ON walk.node = e.dst
    WHERE walk.lbl < e.src)
  SELECT node, MIN(lbl) AS comp FROM walk GROUP BY node)
SELECT comp AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       list_sort(list(node)) AS members
FROM lp GROUP BY comp HAVING COUNT(*) >= 2
""",
)
def embedding_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.graph import connected_components

    pairs = neardup_embedding_cells(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sort_array(F.collect_list("node")).alias("members"),
        )
        .filter(F.col("n_vecs") >= 2)
        .select(F.col("comp").alias("canonical_id"), "n_vecs", "members")
    )


# 138. incremental dedup against a fingerprint catalog — the daily
# shape of production dedup: yesterday's corpus is represented ONLY by
# its (tiny relative to text) fingerprint catalog; today's batch drops
# (a) docs whose fingerprint already exists in the catalog (left-anti
# join on the 128-bit fp — at scale the catalog side shuffles, text
# never does, and a bloom/runtime filter prunes the probe) and (b)
# intra-batch duplicates (min-id per class among the remainder). Here
# the catalog is simulated as the fingerprints of doc_id < half.
@query(
    "incremental_dedup_catalog",
    oracle="""
WITH fp AS (
  SELECT doc_id, source,
         md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
  FROM documents),
catalog AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
batch AS (SELECT * FROM fp WHERE doc_id >= 250),
fresh AS (
  SELECT b.* FROM batch b LEFT JOIN catalog c USING (fingerprint)
  WHERE c.fingerprint IS NULL),
kept AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS m
    FROM fresh) t WHERE doc_id = m)
SELECT source,
       CAST((SELECT COUNT(*) FROM batch b2 WHERE b2.source = k.source) AS BIGINT)
         AS n_batch,
       COUNT(*) AS n_new
FROM kept k GROUP BY source
""",
    bench=False,
)
def incremental_dedup_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import normalize_text

    d = _t(spark, sf_dir, "documents")
    # split point 250 matches the oracle (graded at sf0.01, 500 docs);
    # at larger SFs the same id boundary simply makes a bigger batch
    fp = d.select(
        "doc_id",
        "source",
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
    )
    catalog = fp.filter(F.col("doc_id") < 250).select("fingerprint").distinct()
    batch = fp.filter(F.col("doc_id") >= 250)
    fresh = batch.join(catalog, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint")
    kept = (
        fresh.withColumn("_m", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_m"))
        .select("doc_id", "source")
    )
    batch_counts = batch.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch")
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_new"))
        .join(batch_counts, "source")
        .select("source", "n_batch", "n_new")
    )


# 156. containment (near-subset) dedup — the asymmetric case Jaccard
# misses: a short doc quoted wholesale inside a long one has tiny
# Jaccard but ~100% containment, and curation drops the contained
# copy. Inverted-index pair generation (Σ df² cost), integer-exact
# percentage filter; the oracle replays the shingle intersection on
# strings. The contained side is the smaller shingle set (ties to the
# larger id), so orientation is deterministic.
@query(
    "dedup_containment",
    oracle="""
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 3),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst,
         LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS inter,
         LEN(a.shingles) AS sza, LEN(b.shingles) AS szb
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id),
hits AS (SELECT * FROM pairs WHERE inter * 100 >= 90 * LEAST(sza, szb))
SELECT CASE WHEN sza < szb THEN src ELSE dst END AS contained_id,
       CASE WHEN sza < szb THEN dst ELSE src END AS container_id,
       inter,
       (inter * 100) // LEAST(sza, szb) AS containment_pct
FROM hits
""",
    bench=False,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", "text", block_col="lang", shingle_n=3, pct_threshold=90
    )


# 158. cell-partitioned embedding near-dup — the SemDeDup deployment
# shape and the scale path for #41: an exact all-pairs cosine inside
# label blocks is quadratic in the block (measured 40x at 10x corpus
# on the sf1 run — the block grows with the corpus), so production
# systems first partition space with a coarse quantizer and only
# compare WITHIN (label, cell). With the deterministic IVF centroid
# convention (vec_id < 16, rounded-cosine argmax, ties to the smaller
# centroid) the cell map is oracle-exact, so the approximation this
# buys — cross-cell pairs are missed BY DESIGN — is itself
# value-checked: the oracle reproduces the same cells and the same
# pair set. Pair cost drops from Σ_label n² to Σ_(label,cell) n²
# (measured min-of-2 at sf1: 17.3s exact -> 4.4s celled, ~4x with 16
# unbalanced cells + the assignment pass; the ratio grows with cell
# count), and the assignment is one broadcast pass + one
# (label, cell) shuffle.
@query(
    "neardup_embedding_cells",
    oracle=f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS j, e FROM v WHERE vec_id < 16),
assign AS (
  SELECT vid AS vec_id, cell FROM (
    SELECT v.vec_id AS vid, c.j AS cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_NDC_COS.format(a="v", b="c")} DESC,
                                       c.j ASC) AS rk
    FROM v CROSS JOIN cents c) t
  WHERE rk = 1),
av AS (SELECT v.vec_id, v.label, v.e, assign.cell
       FROM v JOIN assign ON v.vec_id = assign.vec_id)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
       {_NDC_COS.format(a="a", b="b")} AS cos_sim
FROM av a JOIN av b
  ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {_NDC_COS.format(a="a", b="b")} >= 0.35
""",
    # 16-row centroid frame cross-joined for the cell assignment
    allow={"BroadcastNestedLoopJoin"},
)
def neardup_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.vectorfn import as_double, norm_sq, rounded_cosine

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    prep = emb.select("vec_id", "label", v.alias("_v"), norm_sq(v).alias("_n"))
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("j"), v.alias("_c"), norm_sq(v).alias("_cn")
    )
    ccos = rounded_cosine(F.col("_v"), F.col("_c"), F.col("_n"), F.col("_cn"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("_cc").desc(), F.col("j").asc()
    )
    # vectors + norms ride through the assignment window so no join
    # back onto the corpus (same shape as operators/similarity.ivf_topk)
    av = (
        prep.crossJoin(F.broadcast(cents))
        .select("vec_id", "label", "_v", "_n", "j", ccos.alias("_cc"))
        .withColumn("_rk", F.row_number().over(w_assign))
        .filter(F.col("_rk") == 1)
        .select("vec_id", "label", "_v", "_n", F.col("j").alias("cell"))
    )
    a, b = av.alias("a"), av.alias("b")
    cos = rounded_cosine(F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.cell").alias("cell"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


# --------------------------------------------------------------------
# 209. incremental NEAR-dup against a signature catalog — the daily
# production shape #138 covers for exact dup, extended to near-dup:
# yesterday's corpus is represented ONLY by its minhash signatures
# (64 longs/doc — the text is gone), today's batch computes its own
# signatures, probes the catalog's band buckets, and verifies by
# SIGNATURE AGREEMENT (matching slots / 64 is the unbiased Jaccard
# estimator — with no catalog text, sketch-vs-sketch is the only
# verify available, which is exactly how production catalogs work).
# One band-keyed shuffle; signatures are the only state that persists
# day over day. Catalog simulated as doc_id < 250 (same convention as
# #138). Keeps the best catalog match per new doc (max agreement,
# ties to the lowest catalog id), n_agree >= 32 (est J >= 0.5).
# shared with the streaming twin (#210, queries/streaming.py): the
# bounded stream replay must equal this exact batch result
INC_NEARDUP_ORACLE = f"""
WITH {_MH_SIG_CTES},
cb AS MATERIALIZED (
  SELECT doc_id, p, [sig[4*p+1], sig[4*p+2], sig[4*p+3], sig[4*p+4]] AS key
  FROM sig, unnest(range(0, 16)) AS u(p) WHERE doc_id < 250),
bb AS MATERIALIZED (
  SELECT doc_id, p, [sig[4*p+1], sig[4*p+2], sig[4*p+3], sig[4*p+4]] AS key
  FROM sig, unnest(range(0, 16)) AS u(p) WHERE doc_id >= 250),
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS old_id
  FROM bb b JOIN cb c ON b.p = c.p AND b.key = c.key),
ag AS (
  SELECT new_id, old_id,
         CAST(LEN(list_filter(range(1, 65), i -> bs.sig[i] = cs.sig[i]))
              AS BIGINT) AS n_agree
  FROM cand JOIN sig bs ON bs.doc_id = cand.new_id
            JOIN sig cs ON cs.doc_id = cand.old_id)
SELECT new_id, old_id, n_agree FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
                               ORDER BY n_agree DESC, old_id ASC) AS rk
  FROM ag WHERE n_agree >= 32) t
WHERE rk = 1
"""


@query("incremental_neardup_minhash", oracle=INC_NEARDUP_ORACLE)
def incremental_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    H, BANDS, ROWS = 250, 16, 4
    # one signature pass over ALL docs (in production the catalog side
    # is READ from yesterday's sig store, not recomputed — simulated
    # here by splitting one computed table); the session-shared
    # signature artifact serves the band explode + slot-compare verify
    _, sigs = minhash_sig_table(spark, sf_dir)

    def bands(df, out):
        return df.select(
            F.col("id").alias(out),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("p"),
                            F.array(
                                *[F.col("sig")[p * ROWS + r] for r in range(ROWS)]
                            ).alias("key"),
                        )
                        for p in range(BANDS)
                    ]
                )
            ).alias("bk"),
        ).select(out, "bk.p", "bk.key")
    cat = bands(sigs.filter(F.col("id") < H), "old_id")
    bat = bands(sigs.filter(F.col("id") >= H), "new_id")
    cand = bat.join(cat, ["p", "key"]).select("new_id", "old_id").distinct()
    bs = sigs.select(F.col("id").alias("new_id"), F.col("sig").alias("_bs"))
    cs = sigs.select(F.col("id").alias("old_id"), F.col("sig").alias("_cs"))
    agree = F.size(
        F.filter(F.zip_with(F.col("_bs"), F.col("_cs"), lambda a, b: a == b), lambda x: x)
    ).cast("long")
    ag = (
        cand.join(bs, "new_id")
        .join(cs, "old_id")
        .select("new_id", "old_id", agree.alias("n_agree"))
        .filter(F.col("n_agree") >= 32)
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("n_agree"), F.asc("old_id"))
    return (
        ag.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("new_id", "old_id", "n_agree")
    )


# --------------------------------------------------------------------
# 211. paragraph-level cross-doc dedup WITH reassembly — the
# RefinedWeb/CCNet repeated-passage removal stage: instead of dropping
# whole near-dup documents, drop only the repeated PASSAGES and stitch
# the unique remainder back together. Passages are fixed 20-token
# segments (the corpus is a flat token stream — no newline paragraph
# marks — so the segmenter is positional, which is also what byte-range
# passage dedup does over web dumps whose paragraph structure was lost
# upstream). First occurrence globally wins: a segment instance
# survives iff it carries the minimum (doc_id, seg_idx) in its md5
# class. 100 TB plan shape: segmentation is pure codegen
# (sequence→transform→slice, no UDF, no shuffle); shuffle #1 keys on
# the segment md5 (uniform 128-bit key — no skew by construction);
# shuffle #2 re-groups by doc_id for reassembly. Nothing is ever
# quadratic and no pass carries the corpus twice; the only seam is the
# keeper ordinal doc_id*100000+seg_idx, which assumes <100k segments
# per doc (2M tokens — far beyond any web doc; a struct min_by would
# lift it).
@query(
    "paragraph_dedup_reassemble",
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents),
seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(toks[(i*20+1):(i*20+20)], ' ') AS seg,
         CAST(LEN(toks[(i*20+1):(i*20+20)]) AS BIGINT) AS seg_tok
  FROM t, UNNEST(range(0, CAST(CEIL(LEN(toks)/20.0) AS BIGINT))) AS u(i)),
kp AS (
  SELECT doc_id, seg_idx, seg, seg_tok,
         doc_id*100000 + seg_idx = MIN(doc_id*100000 + seg_idx)
             OVER (PARTITION BY md5(seg)) AS kept
  FROM seg)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       CAST(COALESCE(SUM(CASE WHEN kept THEN seg_tok END), 0) AS BIGINT)
           AS clean_tokens,
       md5(COALESCE(string_agg(CASE WHEN kept THEN seg END, ' '
                               ORDER BY seg_idx), '')) AS clean_fp
FROM kp GROUP BY doc_id
""",
)
def paragraph_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    SEG = 20
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    segs_arr = F.transform(
        F.sequence(F.lit(0), F.floor((F.size("toks") - 1) / SEG).cast("bigint")),
        lambda i: F.struct(
            F.array_join(
                F.slice(F.col("toks"), (i * SEG + 1).cast("int"), SEG), " "
            ).alias("seg"),
            F.size(F.slice(F.col("toks"), (i * SEG + 1).cast("int"), SEG))
            .cast("long")
            .alias("seg_tok"),
        ),
    )
    seg = t.select(
        "doc_id", F.posexplode(segs_arr).alias("seg_idx", "s")
    ).select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.col("s.seg").alias("seg"),
        F.col("s.seg_tok").alias("seg_tok"),
    )
    ordv = F.col("doc_id") * 100000 + F.col("seg_idx")
    kp = seg.withColumn(
        "kept",
        ordv == F.min(ordv).over(Window.partitionBy(F.md5(F.col("seg")))),
    )
    return kp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.coalesce(F.sum(F.when(F.col("kept"), F.col("seg_tok"))), F.lit(0))
        .cast("long")
        .alias("clean_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("seg_idx", "seg"))
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            )
        ).alias("clean_fp"),
    )
