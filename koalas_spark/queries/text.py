"""Text-analysis queries over the documents table (SURVEY.md §2.5).

Per-row text ops are embarrassingly parallel — no shuffle at all
except the final stats aggregations. Everything is a Catalyst
expression (codegen), no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.functions.textfn import (
    STOPWORDS,
    bpe_token_count,
    fingerprint_md5,
    punct_count,
    rolling_fingerprint,
    stopword_count,
    token_count,
    tokens,
)
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, _dsum_sql

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


# 44. token / char counting.
@query(
    "text_token_count",
    oracle="""
SELECT doc_id,
       CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\\s+'),
                                    x -> LENGTH(x))) AS DOUBLE)
         / LEN(string_split_regex(TRIM(text), '\\s+')) AS avg_token_len
FROM documents
""",
    bench=False,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    tok_chars = F.aggregate(
        F.transform(tok, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (tok_chars.cast("double") / F.size(tok)).alias("avg_token_len"),
    )


# 45. quality scoring — length/punct/stopword composite.
@query(
    "text_quality_score",
    oracle=f"""
SELECT doc_id, n_tokens, punct_ratio, stop_ratio,
       CAST(0.3 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
       + CAST(0.4 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct_ratio)
       + CAST(0.3 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE) * stop_ratio)
         AS quality_score
FROM (
  SELECT doc_id,
         CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))
              AS DOUBLE) / LENGTH(text) AS punct_ratio,
         CAST(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
                              x -> x IN ({_STOP_SQL}))) AS DOUBLE)
           / LEN(string_split_regex(TRIM(text), '\\s+')) AS stop_ratio
  FROM documents) t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n_tokens = token_count(F.col("text"))
    punct_ratio = punct_count(F.col("text")).cast("double") / F.length("text")
    stop_ratio = stopword_count(F.col("text")).cast("double") / F.size(tokens(F.col("text")))
    base = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
    )
    score = (
        F.lit(0.3) * F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0))
        + F.lit(0.4) * (F.lit(1.0) - F.col("punct_ratio"))
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(4.0) * F.col("stop_ratio"))
    )
    return base.withColumn("quality_score", score)


# 46. language identification — deterministic marker-word profiles.
# (The synthetic corpus draws one shared vocabulary for every labeled
# lang, so predictions collapse to the English profile — the operator
# structure (profile scoring + argmax with fixed tie-break) is the
# point; real profiles drop in per deployment.)
_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "los", "que", "y", "por"),
    "fr": ("le", "les", "une", "et", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def _profile_counts_sql() -> str:
    cols = []
    for lang, words in _PROFILES.items():
        wl = ", ".join(f"'{w}'" for w in words)
        cols.append(
            f"CAST(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x IN ({wl}))) AS BIGINT) AS c_{lang}"
        )
    return ",\n         ".join(cols)


@query(
    "text_langid",
    oracle=f"""
SELECT doc_id, lang,
       CASE
         WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
         WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
         WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
         WHEN c_fr >= c_zh THEN 'fr'
         ELSE 'zh'
       END AS pred_lang
FROM (
  SELECT doc_id, lang,
         {_profile_counts_sql()}
  FROM documents) t
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    def _member(words: tuple[str, ...]):
        # single-arg lambda factory: a 2-arg lambda would make Spark
        # pass the element index as the second argument
        return lambda t: t.isin(*words)

    counts = {
        lang: F.size(F.filter(tok, _member(words))).cast("long")
        for lang, words in _PROFILES.items()
    }
    base = d.select("doc_id", "lang", *[c.alias(f"c_{l}") for l, c in counts.items()])
    c = {l: F.col(f"c_{l}") for l in _PROFILES}
    pred = (
        F.when(
            (c["de"] >= c["en"]) & (c["de"] >= c["es"]) & (c["de"] >= c["fr"]) & (c["de"] >= c["zh"]),
            "de",
        )
        .when((c["en"] >= c["es"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["zh"]), "en")
        .when((c["es"] >= c["fr"]) & (c["es"] >= c["zh"]), "es")
        .when(c["fr"] >= c["zh"], "fr")
        .otherwise("zh")
    )
    return base.select("doc_id", "lang", pred.alias("pred_lang"))


# 47. content fingerprint — portable md5 of normalized text.
@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
""",
    bench=False,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))


# 60. BPE-ish sub-word token counts — GPT-2-style pre-tokenizer
# regex (contractions / letter runs / digit runs / punct runs, each
# with optional leading space); compares sub-word inflation vs
# whitespace tokens. Same regex runs in Java regex and RE2.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@query(
    "text_bpe_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
       CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_ws_tokens
FROM documents
""",
    bench=False,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        token_count(F.col("text")).alias("n_ws_tokens"),
    )


# 61. rolling-hash fingerprint — Rabin–Karp polynomial hash of the
# normalized text, folded entirely inside codegen (aggregate over the
# char array; no UDF). DuckDB twin folds the same recurrence with
# list_reduce (its no-seed variant starts acc = first element, which
# equals our (0*131 + c1) first step).
@query(
    "text_rolling_fingerprint",
    oracle="""
SELECT doc_id,
       CAST(list_reduce(
         list_transform(string_split(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))), ''),
                        c -> CAST(ascii(c) AS BIGINT)),
         (acc, c) -> (acc * 131 + c) % 2147483647) AS BIGINT) AS rolling_hash
FROM documents
""",
    bench=False,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("rolling_hash"))


# 48. per-source corpus stats.
@query(
    "docs_source_stats",
    oracle="""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
""",
    bench=False,
)
def docs_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# 146. PII scrub — the redaction pass every training-data pipeline
# runs before anything else. The synthetic corpus contains no PII, so
# the query PLANTS deterministic PII (an email for doc_id % 7 == 0, a
# phone for % 7 == 1, an IPv4 for % 7 == 2 — pure functions of
# doc_id) and then finds and redacts it with the real regexes; the
# planted fraction proves the scrubber actually fires (n > 0 is
# asserted in tests, not just oracle-matched). Pure per-row codegen
# expressions — zero shuffles before the final per-source stats — and
# the oracle replays injection + regex + redaction in DuckDB, with
# md5 of every scrubbed text keeping the check byte-exact.
_PII_EMAIL = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PII_PHONE = "\\+1-555-[0-9]{4}"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, source,
         text || CASE doc_id % 7
           WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN 1 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 2 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
           ELSE '' END AS t
  FROM documents),
scrub AS (
  SELECT doc_id, source,
         LEN(regexp_extract_all(t, '{_PII_EMAIL}'))  AS n_email,
         LEN(regexp_extract_all(t, '{_PII_PHONE}'))  AS n_phone,
         LEN(regexp_extract_all(t, '{_PII_IP}'))     AS n_ip,
         regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g') AS scrubbed
  FROM aug)
SELECT source,
       CAST(COUNT(*) AS BIGINT)   AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS n_emails,
       CAST(SUM(n_phone) AS BIGINT) AS n_phones,
       CAST(SUM(n_ip) AS BIGINT)    AS n_ips,
       md5(string_agg(md5(scrubbed), '' ORDER BY doc_id)) AS scrub_digest
FROM scrub GROUP BY source
""",
    bench=False,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    inject = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
        )
        .otherwise(F.lit("")),
    )
    t = F.col("t")
    scrub = d.select(
        "doc_id",
        "source",
        inject.alias("t"),
    ).select(
        "doc_id",
        "source",
        F.regexp_count(t, F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(t, F.lit(_PII_PHONE)).cast("long").alias("n_phone"),
        F.regexp_count(t, F.lit(_PII_IP)).cast("long").alias("n_ip"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            ),
            _PII_IP,
            "<IP>",
        ).alias("scrubbed"),
    )
    # per-source digest of every scrubbed doc, order-pinned by doc_id:
    # sort_array over (doc_id, md5) structs keeps the aggregation
    # mergeable (arrays of 32-byte hashes, not full texts)
    return scrub.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum("n_ip").cast("bigint").alias("n_ips"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("doc_id"),
                                F.md5(F.col("scrubbed").cast("binary")).alias("h"),
                            )
                        )
                    ),
                    lambda s: s.getField("h"),
                ),
            ).cast("binary")
        ).alias("scrub_digest"),
    )


# --------------------------------------------------------------------
# 161. token concentration (Simpson index) — a repetition-quality
# gate that catches what max-token-share (gopher_repetition_filter)
# misses: a doc split evenly between TWO tokens has low max-share but
# extreme concentration. Per doc: simpson_ppm = (Σ tf² * 1e6) div n²
# (1e6/n for perfectly diverse text, -> 1e6 as one token dominates),
# integer-exact end-to-end. ONE shuffle on (doc_id, token) with
# map-side combine; the per-language rollup sums integers, so any
# partitioning agrees.
@query(
    "token_simpson_index",
    oracle="""
WITH tf AS (
  SELECT doc_id, lang, token, COUNT(*) AS c
  FROM (SELECT doc_id, lang,
               unnest(string_split_regex(TRIM(text), '\\s+')) AS token
        FROM documents) t
  GROUP BY doc_id, lang, token),
per_doc AS (
  SELECT doc_id, lang,
         (SUM(c * c) * 1000000) // (SUM(c) * SUM(c)) AS simpson_ppm
  FROM tf GROUP BY doc_id, lang)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(simpson_ppm) AS BIGINT) AS sum_simpson_ppm,
       CAST(MAX(simpson_ppm) AS BIGINT) AS max_simpson_ppm
FROM per_doc GROUP BY lang
""",
    bench=False,
)
def token_simpson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy("doc_id", "lang").agg(
        F.expr("(sum(c * c) * 1000000) div (sum(c) * sum(c))").alias(
            "simpson_ppm"
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("simpson_ppm").cast("bigint").alias("sum_simpson_ppm"),
        F.max("simpson_ppm").cast("bigint").alias("max_simpson_ppm"),
    )
