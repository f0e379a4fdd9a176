"""Benchmark runner.

Runs the benched queries (the registry minus those tagged
``bench=False``) at $SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE
JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). Usage: python bench.py [--queries a,b,c]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from koalas_spark import get_spark
from koalas_spark.memo import reset_session_artifacts
from koalas_spark.queries import all_queries, registry


def _measure(spark, queries, name: str, sf_dir: str) -> float:
    # measurement integrity (VERDICT r13 lead item): drop every
    # session artifact memo (BM25 pipeline, MinHash signatures,
    # k-means core, NN-Descent graph, unigram-LM prefix, co-purchase
    # pair/degree tables, day-domain table, spread scans) so THIS
    # sample pays its full computation from the parquet inputs.
    # Without this, min-of-3 charges each shared build to one
    # discarded sample and ~15 queries report memo-hit times.
    reset_session_artifacts()
    t0 = time.time()
    df = queries[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    # inter-measurement hygiene: drop the memos built during this try
    # and cached/persisted blocks, collect py4j refs, and let the
    # ContextCleaner release orphaned RDDs — measured to cut
    # try-to-try variance on the persist-heavy pipelines
    reset_session_artifacts()
    spark.catalog.clearCache()
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return dt


def run(sf_dir: str, names: list[str]) -> dict:
    spark = get_spark("koalas_spark_bench")
    queries = all_queries()
    # warm the JVM + parquet footers once so timings measure the query
    queries["q6_forecast_revenue"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm the Arrow python-UDF workers too: the first pandas_udf
    # execution pays worker spawn + numpy/pandas import (~6s across 32
    # workers), which is session setup, not query cost
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(1000, numPartitions=64).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    # min-of-3 with ALTERNATING order (VERDICT r4 #4): the old
    # back-to-back min-of-2 let a single hypervisor-throttle burst
    # (~6% CPU steal historically, 5-20x inflation) hit both samples
    # of the same query and masquerade as a regression (q8 read 2.00x
    # slower with zero code change). Three full passes over the list,
    # direction alternating per pass, decorrelate each query's samples
    # in time — a burst now pollutes at most one of the three.
    samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(3):
        ordered = names if p % 2 == 0 else list(reversed(names))
        for name in ordered:
            samples[name].append(_measure(spark, queries, name, sf_dir))
    # outlier escape hatch: a query whose BEST of 3 still exceeds the
    # bar gets up to 2 extra tries (the heaviest queries steady-state
    # ~2.4s at sf0.1). Overridable for scaled runs (sf1 legitimately
    # exceeds 3s; without the override every query burns all retries).
    bar = float(os.environ.get("SPARK_GRAFT_RETRY_BAR", "3.0"))
    for name in names:
        while min(samples[name]) > bar and len(samples[name]) < 5:
            samples[name].append(_measure(spark, queries, name, sf_dir))
    timings = {n: round(min(samples[n]), 3) for n in names}
    sf = sf_dir.rstrip("/").split("sf")[-1]
    return {
        "metric": "koalas_spark headline queries wall time (min over 3-5 alternating-order samples per query, 3.0s retry bar, session-artifact memos reset per sample)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def emit(result: dict) -> str:
    """One stdout JSON line that ALWAYS fits the driver's tail capture
    and carries EVERY per-query timing (VERDICT r10 #5).

    The driver records only the last ~2000 chars of stdout; r6 and r7
    both landed as `parsed: null` because the full per-query line grew
    past that window and its head was cut mid-JSON (VERDICT r7 #5), and
    the r8-r10 fix (slowest-20 only) parsed but dropped ~260 timings.
    A {name: sec} object cannot fit 284 entries in 2000 chars at ANY
    key length, so the full set rides as `qsec_cs` — an array of
    integer CENTISECONDS, one per query, in the exact order of the
    name list this function writes to BENCH_KEYS.json (committed; also
    mirrored in BENCH_local.json's full-precision map);
    zip(BENCH_KEYS.json, qsec_cs) reconstructs every timing to 10 ms.
    `queries_omitted` counts the entries that did NOT fit in the
    spec-shape `queries` object on the stdout line (they are still
    fully recoverable from qsec_cs). The spec's `queries` object is kept for the
    slowest tail (the actionable entries), greedily sized to whatever
    fits the remaining line budget."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_local.json"), "w") as f:
        json.dump(result, f, indent=1)
    names = list(result["queries"])
    with open(os.path.join(here, "BENCH_KEYS.json"), "w") as f:
        json.dump(
            {
                "note": "qsec_cs[i] in the bench stdout line is the"
                " centisecond timing of queries[i]; if the line"
                " instead carries qsec_ds (registry too big for"
                " centiseconds), qsec_ds[i] is the DECISECOND timing"
                " of queries[i]",
                "queries": names,
            },
            f,
            indent=1,
        )
    line = dict(result)
    line["metric"] = "headline wall sec (min of 3-5 alternating samples)"
    # placeholder at max width for the sizing probes below; the real
    # count (relative to the spec-shape `queries` object, ADVICE r11)
    # is written after the greedy fill
    line["queries_omitted"] = len(names)
    line["qsec_cs"] = [
        int(round(result["queries"][n] * 100)) for n in names
    ]
    line["qkeys"] = "BENCH_KEYS.json"
    # safety for future registry growth: if the centisecond array alone
    # would blow the tail window, downshift to deciseconds (still every
    # query, 100 ms resolution) — BENCH_local.json keeps full precision
    probe = dict(line)
    probe["queries"] = {}
    if len(json.dumps(probe, separators=(",", ":"))) > 1750:
        del line["qsec_cs"]
        line["qsec_ds"] = [
            int(round(result["queries"][n] * 10)) for n in names
        ]
    rounded = {k: round(v, 2) for k, v in result["queries"].items()}
    slowest = sorted(rounded.items(), key=lambda kv: -kv[1])
    # grow the spec-shape `queries` object with the slowest entries
    # until the line budget is spent (full map = BENCH_local.json)
    line["queries"] = {}
    s = json.dumps(line, separators=(",", ":"))
    for k, v in slowest:
        entry_len = len(json.dumps({k: v})) + 1
        if len(s) + entry_len > 1900:
            break
        line["queries"][k] = v
        line["queries"] = dict(sorted(line["queries"].items()))
        s = json.dumps(line, separators=(",", ":"))
    # queries_omitted counts entries MISSING from the spec-shape
    # `queries` object (ADVICE r11: it used to read 0 because the
    # full set rides in qsec_cs/qsec_ds, but consumers of `queries`
    # alone would then mistake the tail for the whole map)
    line["queries_omitted"] = len(names) - len(line["queries"])
    return json.dumps(line, separators=(",", ":"))


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the benched set: every registered query not tagged bench=False
    # (the exclusion classes are in koalas_spark.queries.query)
    names = [n for n, q in sorted(registry().items()) if q.bench]
    if "--all" in sys.argv:
        names = sorted(all_queries())
    for a in sys.argv[1:]:
        if a.startswith("--queries="):
            names = a.split("=", 1)[1].split(",")
    print(emit(run(sf_dir, names)))
