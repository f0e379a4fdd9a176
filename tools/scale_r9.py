"""Round-9 scaling measurement: the r8-new cohort's most expensive
queries at sf1 (10x bench SF) and sf10 (100x), min of 2 runs each.
Writes JSON lines to .tmp/scale_r9_<tag>.jsonl."""
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from koalas_spark import get_spark
from koalas_spark.queries import all_queries

COHORT = [
    "label_propagation_communities", "theil_sen_daily_trend",
    "khop_reach_copurchase", "item_item_topk", "winsorized_mean_price",
    "minhash_estimate_audit", "bloom_filter_membership",
    "basket_affinity_lift", "naive_bayes_langid", "frequent_triples",
    "referential_integrity_audit", "weighted_median_price",
    "rrf_fusion_retrieval", "source_contamination_matrix",
    "interval_overlap_join", "exact_group_quantiles",
    "top_parts_string_agg", "nation_revenue_beta",
    "fulfillment_lag_quantiles", "interarrival_distribution",
    "ks_test_price_eras", "pca_power_iteration", "entry_type_engagement",
]

def main(sf_dir: str, tag: str) -> None:
    spark = get_spark(f"scale_{tag}", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    Q = all_queries()
    path = os.path.join(ROOT, ".tmp", f"scale_r9_{tag}.jsonl")
    done = set()
    if os.path.exists(path):
        with open(path) as f:
            done = {json.loads(ln)["q"] for ln in f if ln.strip()}
    out = open(path, "a")
    # pay the co-purchase artifact build up front and record it
    if "_copurchase_artifact_build" not in done:
        t = time.time()
        from koalas_spark.queries.mining import copurchase_pair_table
        copurchase_pair_table(spark, sf_dir).count()
        out.write(json.dumps({"q": "_copurchase_artifact_build", "sec": round(time.time() - t, 2)}) + "\n")
        out.flush()
    for k in COHORT:
        if k in done:
            continue
        best = None
        for _ in range(2):
            t = time.time()
            try:
                Q[k](spark, sf_dir).collect()
                dt = time.time() - t
            except Exception as e:  # noqa: BLE001
                out.write(json.dumps({"q": k, "error": repr(e)[:200]}) + "\n")
                out.flush()
                best = None
                break
            best = dt if best is None else min(best, dt)
        if best is not None:
            out.write(json.dumps({"q": k, "sec": round(best, 2)}) + "\n")
            out.flush()
    out.close()

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
