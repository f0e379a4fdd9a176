"""sf10 graph-cohort memory measurement (VERDICT r10 #2 gate).

Runs the co-purchase graph cohort at the given sf_dir under whatever
heap SPARK_GRAFT_DRIVER_MEM grants (the gate: DEFAULT 16g — r9/r10
needed 48g), printing per-query wall time plus the top cached-RDD
sizes (memory AND disk) after each query so the checkpoint-rotation /
DISK_ONLY mitigations can be verified live.

Usage: SPARK_GRAFT_DRIVER_MEM=16g python tools/sf10_mem.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from koalas_spark import get_spark
from koalas_spark.queries import all_queries

COHORT = [
    "jaccard_link_copurchase",
    "jaccard_link_sampled",
    "triangle_count_doulion",
    "khop_reach_copurchase",
    "harmonic_centrality_probes",
    "label_propagation_communities",
    "modularity_copurchase",
]


def top_rdds(spark, n=5):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    rows = sorted(
        (
            (
                i.name() or "?",
                round(i.memSize() / 1048576.0, 1),
                round(i.diskSize() / 1048576.0, 1),
            )
            for i in infos
        ),
        key=lambda r: -(r[1] + r[2]),
    )[:n]
    return [(nm.strip(), f"mem={m}MB", f"disk={d}MB") for nm, m, d in rows]


def main(sf_dir: str) -> None:
    spark = get_spark("sf10_mem")
    queries = all_queries()
    t0 = time.time()
    # artifact build charged separately (shared by the whole cohort)
    queries["degree_distribution_copurchase"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    print(
        f"artifact_build(+degree_dist): {time.time() - t0:.1f}s "
        f"top={top_rdds(spark)}",
        flush=True,
    )
    for name in COHORT:
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        print(
            f"{name}: {time.time() - t0:.1f}s top={top_rdds(spark)}",
            flush=True,
        )
    print("DONE", flush=True)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".tmp", "sf10"))
