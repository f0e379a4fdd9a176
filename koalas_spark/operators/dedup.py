"""Deduplication operators for web-scale corpora (SURVEY.md §2.3).

Four families, all shuffle-light by construction:

  exact        md5(normalized) → hash-partition on fingerprint, keep min id
  minhash-LSH  shingles → k-perm minhash → banded buckets → pair-join →
               exact-Jaccard verify (only candidates pay the verify cost)
  simhash      64-bit sign fingerprint → 4×16-bit segment pigeonhole →
               hamming verify with bit_count(xor)
  n-gram       exact Jaccard inside small blocking keys

At 100 TB: every stage is a hash shuffle on a uniform synthetic key
(fingerprint / band signature / bit segment), so no skew; candidate
pair sets are tiny relative to the corpus; nothing collects to the
driver.

Hashing (since r7): the base hash for shingles and simhash tokens is
the 60-bit md5-prefix integer (portable_hash60) — JVM codegen like
xxhash64 but reproducible in ANY engine that has md5 (DuckDB:
CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)), which is what lets
the minhash-LSH and simhash queries carry full SQL oracles. md5
costs more per byte than xxhash64, but hashing is a one-pass map over
the corpus — the measured query deltas are inside session noise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from koalas_spark.functions.textfn import normalize_text, tokens, word_shingles


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash of a string — the first 15 hex digits of
    md5, parsed base-16. Engine-portable: DuckDB computes the same
    value as CAST('0x' || substr(md5(s), 1, 15) AS BIGINT). Always
    non-negative (< 2^60)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized)
    duplicate class. One shuffle on the 128-bit fingerprint."""
    fp = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    w = Window.partitionBy("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """id → hashed shingle set (array<long>).

    Each shingle is string-hashed ONCE (portable_hash60) so every
    downstream stage (signatures, verify joins) moves 8-byte keys, not
    text — and any engine with md5 can reproduce the exact values.
    Callers that consume this more than once should persist it."""
    # materialize tokens first — an inline split would re-run per
    # element_at inside the shingle lambda (see word_shingles doc)
    toks = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks"))
    sh = word_shingles(F.col("_toks"), shingle_n)
    hashed = F.array_distinct(F.transform(sh, portable_hash60)).alias("shingles")
    return toks.select("id", hashed).filter(F.size("shingles") > 0)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 64, shingle_n: int = 3
) -> DataFrame:
    """Convenience wrapper: id → (shingles, sig). Prefer composing
    shingle_sets + minhash_sigs with a persist between when the
    shingle table feeds multiple stages."""
    base = shingle_sets(df, id_col, text_col, shingle_n)
    return base.join(minhash_sigs(base, num_perm), "id").select("id", "shingles", "sig")


def minhash_sigs(base: DataFrame, num_perm: int = 64) -> DataFrame:
    """(id, shingles) → (id, sig array<long> of length num_perm).

    The perm family is affine arithmetic in 31-bit space: perm_i(h) =
    (a_i*(h&M) + b_i) & M with M=2^31-1, keeping products under 2^62.

    Computed as a SHUFFLE-FREE map: one Arrow-batched pandas UDF turns
    each doc's hashed shingle set into its signature with a single
    vectorized numpy pass (concatenate the batch's shingles, one
    (sum_len x num_perm) affine transform, minimum.reduceat on row
    boundaries). The earlier explode + groupBy(id) + 64-min-agg
    formulation paid a full shuffle of every shingle plus a huge
    generated-code plan; per-doc signatures need neither — the map
    runs where the data sits, which is exactly what you want on a
    1000-executor cluster."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    M = 0x7FFFFFFF
    ids = np.arange(num_perm, dtype=np.int64)
    A = (2654435761 * (2 * ids + 1)) & M
    B = (40503 * (ids + 12345)) & M

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inference rejects; hint-less
    # defaults to SCALAR which is what we want
    @pandas_udf("array<long>")
    def _sig(shingles):
        rows = [np.asarray(r, dtype=np.int64) for r in shingles]
        lens = np.fromiter((len(r) for r in rows), dtype=np.int64, count=len(rows))
        if len(rows) == 0 or lens.sum() == 0:
            return pd.Series([np.full(num_perm, M, dtype=np.int64)] * len(rows))
        h = np.concatenate(rows) & M
        # (sum_len, num_perm) affine permutations; int64 products stay < 2^62
        perms = (h[:, None] * A[None, :] + B[None, :]) & M
        bounds = np.zeros(len(rows), dtype=np.int64)
        np.cumsum(lens[:-1], out=bounds[1:])
        empty = lens == 0
        safe = np.where(empty, 0, bounds)
        mins = np.minimum.reduceat(perms, safe, axis=0)
        mins[empty] = M
        return pd.Series(list(mins))

    return base.select("id", _sig("shingles").alias("sig"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Banded LSH: docs agreeing on all `rows` signature slots of any
    band become a candidate pair.

    Buckets are formed with ONE shuffle on (band, band_hash) — uniform
    64-bit keys — and pairs are generated bucket-locally by exploding
    the ordered combinations of each bucket's id list, instead of a
    second shuffle for a bucket self-join. The signature input is
    therefore consumed exactly once, so callers don't need to persist
    it.

    Skew guard: each bucket's n^2/2 combos materialize as ONE array row
    before the explode, so a degenerate hot bucket (boilerplate or
    near-empty docs colliding on a band) would concentrate its whole
    quadratic into a single task and can hit the 2 GB array limit.
    Buckets larger than `max_bucket_size` are dropped — the standard
    MinHash-LSH mitigation (such buckets are ~all mutual near-dups of
    boilerplate; at 16 bands a genuine dup cluster still surfaces via
    its other bands unless it is hot in all of them). At the default
    1000 cap a bucket row holds <=~500k pair structs (~8 MB). Pass
    max_bucket_size=0 to disable the cap (exact candidate recall)."""
    # the bucket key is the band's raw slot TUPLE (since r7; was an
    # xxhash64 of the slots) — grouping on 4 longs shuffles 32-byte
    # keys instead of 8 but removes the engine-specific hash, so a SQL
    # oracle can rebuild the buckets; collision-merging of distinct
    # buckets (astronomically rare before) is now impossible
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(
                            *[F.col("sig")[b * rows + r] for r in range(rows)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bh")
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (codegen)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def verify_pairs_jaccard(
    pairs: DataFrame, sigs: DataFrame, threshold: float
) -> DataFrame:
    """Join shingle sets back onto candidate pairs and keep pairs with
    exact Jaccard >= threshold.

    Gather shape: each pair explodes into its two member ids, ONE
    shuffle-hash join pulls the shingle set for both sides in a single
    pass over the corpus-scale table, and a groupBy((id_a, id_b))
    reassembles the two arrays (min_by/max_by on the side flag —
    constant two-array state per group, uniform pair keys). This
    replaced a two-join formulation: it streams the shingle table once
    instead of twice and measured ~10% faster at sf0.1 while keeping
    the same scale posture.

    The exploded PAIRS side carries the SHUFFLE_HASH hint: both sides
    shuffle on the id, pairs become the per-partition hash build side,
    and the shingle table streams. This keeps the scale-dominant side
    (shingle sets) off the build/broadcast path without capping the
    pair count: at 1e11 docs even a 1% dup rate is ~1e9 pairs — tens
    of GB, far past any broadcast threshold — but each SHJ partition
    only builds its 1/P slice, and AQE still upgrades to broadcast
    when the pair side really is tiny."""
    sh = sigs.select("id", "shingles")
    sides = pairs.select(
        "id_a",
        "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    gathered = (
        sides.hint("shuffle_hash")
        .join(sh, "id")
        .groupBy("id_a", "id_b")
        .agg(
            F.min_by("shingles", F.col("id") != F.col("id_a")).alias("sh_a"),
            F.max_by("shingles", F.col("id") != F.col("id_a")).alias("sh_b"),
        )
    )
    out = gathered.select(
        "id_a",
        "id_b",
        F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash: per-token portable_hash60 (60 effective bits — bits
    60-63 of every token hash are zero, so those fingerprint bits are
    always 0; hamming semantics unchanged), each bit votes ±1, sign of
    the vote sum sets the fingerprint bit.

    Token hashing stays JVM-side (md5-prefix inside a higher-order
    transform, reproducible in ANY engine); the vote fold is
    a SHUFFLE-FREE Arrow-batched map — one vectorized numpy pass turns
    each doc's token-hash array into its fingerprint. The earlier
    explode + groupBy(id) + 64-conditional-sum formulation paid a full
    token shuffle and a pathological generated-code blob (64 agg
    expressions); per-doc fingerprints need neither — the map runs
    where the data sits, same argument as minhash_sigs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: stringified annotations break hint inference here
    @pandas_udf("long")
    def _sim(hashes):
        out = np.zeros(len(hashes), dtype=np.int64)
        bitpos = np.arange(64, dtype=np.uint64)
        for i, row in enumerate(hashes):
            # NULL text → NULL token array → row is None here; without
            # the guard np.asarray(None) raises and fails the whole job.
            # NULL and empty docs both get simhash 0 (kept in the output,
            # so degenerate docs dedup against each other — documented).
            if row is None:
                continue
            h = np.asarray(row, dtype=np.int64).astype(np.uint64)
            if h.size == 0:
                continue
            bits = (h[:, None] >> bitpos[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            out[i] = ((votes > 0).astype(np.uint64) << bitpos).sum().astype(
                np.int64
            )
        return pd.Series(out)

    toks = df.select(
        F.col(id_col).alias("id"),
        # split("") yields [""] — drop empty tokens so empty/whitespace
        # docs land in the empty-array path and fingerprint to 0, same
        # as NULL docs (pinned by test_simhash_null_empty_policy)
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("_toks"),
    )
    hashes = F.transform(F.col("_toks"), portable_hash60)
    return toks.select("id", _sim(hashes).alias("simhash"))


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs via 4×16-bit segment pigeonhole (any pair with
    hamming<=3 must agree on >=1 segment), verified with
    bit_count(xor)."""
    seg = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg"),
                        F.shiftright(F.col("simhash"), s * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("sv"),
                    )
                    for s in range(4)
                ]
            )
        ).alias("sk"),
    ).select("id", "simhash", "sk.seg", "sk.sv")
    # bucket-locally generate ordered pairs from each segment bucket
    # (one shuffle; the input is consumed once — same pattern as
    # lsh_candidate_pairs), then verify hamming on the pair
    buckets = (
        seg.groupBy("seg", "sv")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id"), F.col("simhash")))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["simhash"].alias("sh_a"),
                    y["simhash"].alias("sh_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    shingle_n: int = 3,
    threshold: float = 0.25,
) -> DataFrame:
    """EXACT n-gram-Jaccard >= threshold pairs via inverted-index
    (index-nested-loop) generation, not a quadratic block self-join:
    J >= t > 0 requires at least one shared shingle, so exploding
    (doc, shingle-hash) and equi-joining on (block, shingle) produces
    every qualifying pair exactly, and the per-pair match count IS the
    intersection size (shingle arrays are distinct per doc). Each
    exploded row carries its doc's set size, so one groupBy
    reconstructs |A|, |B|, |A∩B|. Cost scales with Σ_shingle df²
    instead of Σ_block n², and the shingle equi-join is a uniform
    shuffle at any scale. Returns (src, dst) with src < dst."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        tokens(F.col(text_col)).alias("_toks"),
    ).filter(F.size("_toks") >= shingle_n)
    sh = toks.select(
        "id",
        "blk",
        F.array_distinct(
            F.transform(
                word_shingles(F.col("_toks"), shingle_n),
                lambda s: F.xxhash64(s),
            )
        ).alias("shingles"),
    )
    # materialize the per-doc shingle frame once: the self-join below
    # otherwise recomputes the tokenize+shingle+hash pipeline on BOTH
    # sides (Catalyst does not reuse the exchange across the a/b
    # aliases — measured 1.6s -> 1.2s at sf0.1). One array row per doc
    # (corpus-scale, ~the size of the input scan) lands in executor
    # storage; the cost stays linear at 100 TB while double-compute
    # would not, and the lineage cut lets AQE size the join from the
    # materialized stats.
    sh = sh.localCheckpoint(eager=False)
    ex = sh.select(
        "id", "blk", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    uni = F.col("sza") + F.col("szb") - F.col("inter")
    return (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("a.sz").alias("sza"),
            F.max("b.sz").alias("szb"),
        )
        .filter((F.col("inter").cast("double") / uni) >= threshold)
        .select("src", "dst")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    shingle_n: int = 3,
    pct_threshold: int = 90,
) -> DataFrame:
    """Near-SUBSET detection: pairs where the smaller document's
    shingle set is >= pct_threshold% contained in the other's.
    Jaccard misses these (a tweet quoted inside a book has tiny
    Jaccard but containment ~1.0), and corpus curation wants them —
    the contained doc is redundant with the container.

    Same inverted-index pair generation as exact_jaccard_pairs (cost
    Σ_shingle df², uniform shuffle on (block, shingle)); the filter is
    the integer-exact inter*100 >= pct * min(|A|,|B|), so the oracle
    reproduces every pair and percentage bit-for-bit. The CONTAINED
    side is the smaller set (ties: the larger id, so every pair has a
    deterministic orientation)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        tokens(F.col(text_col)).alias("_toks"),
    ).filter(F.size("_toks") >= shingle_n)
    sh = toks.select(
        "id",
        "blk",
        F.array_distinct(
            F.transform(
                word_shingles(F.col("_toks"), shingle_n),
                lambda s: F.xxhash64(s),
            )
        ).alias("shingles"),
    ).localCheckpoint(eager=False)
    ex = sh.select(
        "id", "blk", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    pairs = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("a.sz").alias("sza"),
            F.max("b.sz").alias("szb"),
        )
        .filter(
            F.col("inter") * 100 >= F.lit(pct_threshold) * F.least("sza", "szb")
        )
    )
    contained_is_src = (F.col("sza") < F.col("szb"))
    return pairs.select(
        F.when(contained_is_src, F.col("src")).otherwise(F.col("dst")).alias("contained_id"),
        F.when(contained_is_src, F.col("dst")).otherwise(F.col("src")).alias("container_id"),
        F.col("inter"),
        F.expr("(inter * 100) div least(sza, szb)").alias("containment_pct"),
    )
