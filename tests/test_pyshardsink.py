"""Python Data Source shard sink: executor-parallel JSONL shards +
driver manifest commit (two-phase write protocol)."""

import glob
import json
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_shard_sink_writes_manifest_and_roundtrips(spark, tmp_path):
    from koalas_spark.sources.pyshardsink import ShardSinkSource

    spark.dataSource.register(ShardSinkSource)
    out = str(tmp_path / "shards")

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .repartition(4, "doc_id")
    )
    n_expected = docs.count()
    docs.write.format("shardsink").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert manifest["total_rows"] == n_expected
    assert len(manifest["shards"]) == 4
    files = sorted(glob.glob(os.path.join(out, "shard-*.jsonl")))
    assert sorted(s["file"] for s in manifest["shards"]) == [
        os.path.basename(f) for f in files
    ]
    # per-shard counts in the manifest match the files
    for s in manifest["shards"]:
        with open(os.path.join(out, s["file"])) as f:
            assert sum(1 for _ in f) == s["rows"]
    # no staged temp files left behind
    assert not glob.glob(os.path.join(out, ".*.tmp"))

    # round-trip 1: plain JSON reader over the shard files
    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(
        os.path.join(out, "shard-*.jsonl")
    )
    assert back.count() == n_expected
    diff = docs.exceptAll(back).count() + back.exceptAll(docs).count()
    assert diff == 0

    # round-trip 2: the manifest-driven reader side of the source —
    # one partition per shard, schema-on-read projection
    loaded = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .format("shardsink")
        .option("path", out)
        .load()
    )
    assert loaded.rdd.getNumPartitions() == 4
    diff2 = docs.exceptAll(loaded).count() + loaded.exceptAll(docs).count()
    assert diff2 == 0

    # no job staging dirs survive a successful commit
    assert not glob.glob(os.path.join(out, ".staging-*"))


def test_shard_sink_overwrite_replaces_prior_job(spark, tmp_path):
    from koalas_spark.sources.pyshardsink import ShardSinkSource

    spark.dataSource.register(ShardSinkSource)
    out = str(tmp_path / "shards_ow")

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .repartition(4, "doc_id")
    )
    docs.write.format("shardsink").option("path", out).mode("append").save()
    first = set(glob.glob(os.path.join(out, "shard-*.jsonl")))
    assert len(first) == 4

    # overwrite with a SMALLER job: prior shards must disappear, the
    # manifest must describe only the new set, and a glob read must
    # not double-count
    half = docs.filter(F.col("doc_id") % 2 == 0).repartition(2, "doc_id")
    n_half = half.count()
    half.write.format("shardsink").option("path", out).mode("overwrite").save()

    files = set(glob.glob(os.path.join(out, "shard-*.jsonl")))
    assert len(files) == 2 and not (files & first)
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert manifest["total_rows"] == n_half
    assert len(manifest["shards"]) == 2
    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(
        os.path.join(out, "shard-*.jsonl")
    )
    assert back.count() == n_half
    assert not glob.glob(os.path.join(out, ".staging-*"))
