"""Round-9 continuation scaling measurement: the batch-16..29 cohort's
most informative queries at sf1 (10x bench SF) and sf10 (100x), min
of 2 runs each. Writes JSON lines to .tmp/scale_r9b_<tag>.jsonl.

Cohort selection: the graph/cluster ops that join the bench tail
(jaccard link prediction, local clustering, silhouette), the
corpus-fan-out ops (bootstrap, Burrows, Hellinger, RBO, feature
hashing), the retail shuffles (ABC, new-vs-returning), and the
domain-collapse ops whose ratios should read ~1x (kendall, hurst,
EWMA, cross-correlation, pacf) — plus the metadata-only footer audit,
whose cost should track FILE COUNT, not rows.
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from koalas_spark import get_spark
from koalas_spark.queries import all_queries

COHORT = [
    "jaccard_link_copurchase",
    "local_clustering_copurchase",
    "silhouette_simplified",
    "mmr_diversified_topk",
    "bootstrap_ci_mean",
    "burrows_delta_sources",
    "source_token_hellinger",
    "rbo_token_halves",
    "feature_hashing_counts",
    "abc_classification",
    "new_vs_returning_monthly",
    "shapley_channel_attribution",
    "wasserstein_quantity_years",
    "kruskal_wallis_quantity",
    "jarque_bera_ordervalue",
    "cochran_armitage_trend",
    "footer_stats_integrity_audit",
    # domain-collapse set: should be ~flat
    "kendall_tau_daily",
    "hurst_rs_daily",
    "ewma_control_chart_daily",
    "cross_correlation_daily",
    "pacf_daily",
    "naive_forecast_backtest",
]


def main(sf_dir: str, tag: str) -> None:
    spark = get_spark(f"scale_r9b_{tag}", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    Q = all_queries()
    path = os.path.join(ROOT, ".tmp", f"scale_r9b_{tag}.jsonl")
    done = set()
    if os.path.exists(path):
        with open(path) as f:
            done = {json.loads(ln)["q"] for ln in f if ln.strip()}
    out = open(path, "a")
    for name in COHORT:
        if name in done:
            continue
        best = None
        rows = None
        for _ in range(2):
            t = time.time()
            rows = Q[name](spark, sf_dir).count()
            dt = time.time() - t
            best = dt if best is None else min(best, dt)
        rec = {"q": name, "sec": round(best, 2), "rows": rows, "sf": tag}
        out.write(json.dumps(rec) + "\n")
        out.flush()
        print(rec)
    out.close()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
