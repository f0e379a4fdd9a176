"""Build a larger scale factor by key-offset replication of sf0.1.

The driver only ships sf{0.001,0.01,0.1}; every 100 TB claim in the
docstrings deserves at least one measured scaling point, so this tool
manufactures sf1-equivalent data (10x sf0.1) under the checkout's .tmp/
WITHOUT touching the read-only testdata: replica r shifts every key
family by r * 10^9, which preserves join fan-outs, group cardinality
growth, and key uniqueness exactly the way a larger TPC-H SF does
(dims like region/nation stay fixed; facts and per-entity tables
scale linearly). Embedding probe/centroid conventions (vec_id < 16)
keep pointing at the original vectors, so ANN queries scale their
corpus 10x while the probe set stays constant — the production shape.

Usage: python tools/make_scaled.py [replicas] [out_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from koalas_spark import get_spark

SRC = "/root/testdata/sf0.1"
OFF = 10**9

# table -> columns to offset per replica
KEYED = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build(replicas: int, out_dir: str) -> None:
    spark = get_spark("make_scaled")
    os.makedirs(out_dir, exist_ok=True)
    for table, keys in KEYED.items():
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not keys or replicas == 1:
            out = df
        else:
            parts = [df]
            for r in range(1, replicas):
                rep = df
                for k in keys:
                    rep = rep.withColumn(k, F.col(k) + F.lit(r * OFF))
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
        print(f"{table}: {'x' + str(replicas) if keys else 'copied'}")
    # materialize the derived partsupp (TPC-H Q2/Q11/Q16/Q20 input) so
    # scaled dirs carry an inspectable copy; queries always re-derive
    # it in-flight (map-only) so the driver's plain sf dirs need no
    # extra file — the two paths are formula-identical by construction
    # (koalas_spark/queries/tpch_partsupp.py).
    from koalas_spark.queries.tpch_partsupp import _partsupp

    _partsupp(spark, out_dir).write.mode("overwrite").parquet(
        f"{out_dir}/partsupp.parquet"
    )
    print("partsupp: derived")


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".tmp", "sf1")
    build(n, out)
