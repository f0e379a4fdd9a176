"""Minimal snapshot/time-travel table layout (the Delta/Iceberg core
idea with none of the format lock-in): every commit writes its data
files into an immutable version directory and records a JSON manifest
listing ALL directories visible at that version, and the committed
frame's schema. Readers resolve a manifest — never the directory tree —
so a reader pinned to version N is immune to concurrent appends
(snapshot isolation), `version=` gives as-of reads for reproducing
yesterday's training set, and the log, not the files, owns the schema:
a read infers nothing.

Scale notes: the manifest holds directory paths, not per-file lists —
listing stays on the distributed reader (Spark's parquet scan), so a
million-file table costs the manifest nothing. Appends never rewrite
data; commit cost is one tiny JSON PUT. This mirrors how the real
lakehouse formats make time travel O(1): name the snapshot, don't
copy it. (Reference has no versioned storage — this extends its
toCsv/fromTable surface, reference source/koalas/dataframe.d:108-128.)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, f"_v{version}.json")


def latest_version(path: str) -> int:
    versions = [
        int(f[2:-5])
        for f in os.listdir(path)
        if f.startswith("_v") and f.endswith(".json")
    ]
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {path}")
    return max(versions)


def write_snapshot(df: DataFrame, path: str) -> int:
    """Commit ``df`` as a new version: data into a uniquely named
    immutable dir, manifest ``_v{N}.json`` = previous manifest's dirs
    + the new one, and ``df``'s schema. Returns the committed version
    number.

    Crash safety: the data write completes before any manifest
    appears, so a crash mid-commit leaves an orphan data dir but never
    a manifest pointing at missing files (write-audit-publish).

    Concurrency safety: the manifest content is written to a private
    tmp file, then published with ``os.link`` — an atomic
    create-if-absent, so readers only ever see complete manifests AND
    the first committer of ``_v{N}.json`` wins. The loser re-reads the
    (new) latest manifest and retries with N+1, so concurrent commits
    serialize instead of silently overwriting each other (the
    lost-update hazard of a read-latest-then-replace publish). The
    data dir carries a random suffix so retries never collide on the
    filesystem and the Spark write runs exactly once.
    """
    import uuid

    os.makedirs(path, exist_ok=True)
    suffix = uuid.uuid4().hex[:12]
    data_dir_name = f"d-{suffix}"
    df.write.mode("overwrite").parquet(os.path.join(path, data_dir_name))
    while True:
        try:
            prev = latest_version(path)
            with open(_manifest_path(path, prev)) as f:
                dirs = json.load(f)["dirs"]
            version = prev + 1
        except FileNotFoundError:
            dirs, version = [], 1
        manifest = {
            "version": version,
            "dirs": dirs + [data_dir_name],
            "schema": df.schema.jsonValue(),
        }
        tmp = _manifest_path(path, version) + f".tmp-{suffix}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, _manifest_path(path, version))  # atomic CAS publish
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race — re-read latest and retry N+1
        os.unlink(tmp)
        return version


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: latest). The
    manifest names the visible version dirs and the schema; the scan
    unions the dirs as one parquet load with that schema (partition
    pruning / pushdown intact)."""
    if version is None:
        version = latest_version(path)
    with open(_manifest_path(path, version)) as f:
        manifest = json.load(f)
    return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(
        *[os.path.join(path, d) for d in manifest["dirs"]]
    )
