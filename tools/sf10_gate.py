"""Standing one-command sf10 grid gate (VERDICT r11 item 3).

Runs the given ops — plus the top-N wall-clock queries from the last
full bench map (BENCH_local.json) — at an sf10 replica under the
session's default heap with ANSI mode on, through a noop sink so every
query executes fully. Pass/fail per op is "ran to completion": ANSI
surfaces the scale-only landmines (int64 overflow — the r11
littles_law_audit catch — cast truncation, div-by-zero) as errors
instead of silent wrong answers, and the heap gate surfaces resident
working-set regressions as OOM. Value correctness at sf10 is NOT
checked here (no DuckDB twin at that scale); that's what the
sf0.001..sf1 oracle sweeps are for.

Each op runs in its OWN SUBPROCESS (the check_oracle shard-driver
discipline): the gate's first same-session run died of accumulated
JVM pressure after 14 heavy queries (GCLocker thrash -> dead session
-> every later op falsely FAILed), and isolation also gives every op
the full heap — the same failure-isolation a per-query driver job
gets on a real cluster. Session artifacts are per process, so each
op pays its own artifact builds.

Usage:
    python tools/sf10_gate.py [sf_dir] [--ops=a,b,c] [--top=20]

One command produces the SWEEP_r{N}.md sf10 section: a markdown
table (op, sf10 wall, bench-SF wall, per-decade ratio) plus a final
`SF10 GATE PASS k/n` line.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _bench_map() -> tuple[float, dict[str, float]]:
    """(bench sf, full per-query timing map) from the last local
    bench run (BENCH_local.json keeps the full-precision map)."""
    try:
        with open(os.path.join(ROOT, "BENCH_local.json")) as f:
            d = json.load(f)
        sf = d.get("sf", 0.1)
        return (
            float(sf) if isinstance(sf, (int, float)) else 0.1,
            dict(d.get("queries", {})),
        )
    except (OSError, ValueError):
        return (0.1, {})


def _run_one(name: str, sf_dir: str) -> int:
    """Child-process entry: execute one op through the noop sink;
    exit 0 on success."""
    from koalas_spark import get_spark
    from koalas_spark.queries import all_queries

    spark = get_spark("sf10_gate")
    queries = all_queries()
    # stamp the QUERY-ONLY wall (session startup excluded) for the
    # parent to parse — a cold JVM adds ~13s that would otherwise
    # swamp the per-decade ratio of sub-second ops
    t0 = time.time()
    queries[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"GATE_WALL {time.time() - t0:.3f}", flush=True)
    return 0


# Always-on gate rows regardless of where they rank in the bench map
# (VERDICT r12 #6): the retrieval-eval family's (query, term, doc)
# shuffle is the one plan shape whose regressions the wall-clock
# top-N would miss (each op is a few seconds at sf0.1), plus the
# round-13 additions whose first sf10 rows the gate should pin.
DEFAULT_OPS = [
    "maxsim_late_interaction",
    "ndcg_at_10_eval",
    "mrr_full_match",
    "precision_recall_at_k",
    "query_likelihood_dirichlet",
    "fuzzy_match_topk",
    "ann_graph_search",
    "unigram_lm_train",
    "unigram_fertility_by_lang",
    "dsir_importance_resample",
    "jl_projection_norms",
]


def main(argv: list[str]) -> int:
    sf_dir = os.path.join(ROOT, ".tmp", "sf10")
    ops: list[str] = list(DEFAULT_OPS)
    top_n = 20
    one: str | None = None
    for a in argv:
        if a.startswith("--ops="):
            ops += [x for x in a.split("=", 1)[1].split(",") if x]
        elif a.startswith("--top="):
            top_n = int(a.split("=", 1)[1])
        elif a.startswith("--one="):
            one = a.split("=", 1)[1]
        else:
            sf_dir = a
    if one is not None:
        return _run_one(one, sf_dir)

    from koalas_spark.queries import all_queries

    bsf, bench = _bench_map()
    queries = all_queries()
    slowest = [
        n
        for n, _ in sorted(bench.items(), key=lambda kv: -kv[1])
        if n in queries
    ][:top_n]
    names = list(dict.fromkeys(ops + slowest))  # ordered de-dup
    missing = [n for n in names if n not in queries]
    if missing:
        print(f"UNKNOWN OPS: {missing}")
        return 2
    decades = math.log10(10.0 / bsf)

    def _spawn(op: str) -> tuple[bool, float, str]:
        t0 = time.time()
        try:
            p = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    sf_dir,
                    f"--one={op}",
                ],
                capture_output=True,
                text=True,
                timeout=7200,
            )
        except subprocess.TimeoutExpired:
            # a hung op is that op's FAIL, not the whole grid's crash
            # (ADVICE r12): record it and keep every other row
            return (False, time.time() - t0, "timeout after 7200s")
        wall = time.time() - t0
        # prefer the child's query-only stamp (excludes JVM startup)
        for ln in (p.stdout or "").splitlines():
            if ln.startswith("GATE_WALL "):
                wall = float(ln.split()[1])
        tail = ""
        if p.returncode != 0:
            lines = [
                ln
                for ln in (p.stderr or "").splitlines()
                if ln.strip() and "WARN" not in ln
            ]
            tail = (lines[-1] if lines else f"exit {p.returncode}")[:160]
        return (p.returncode == 0, wall, tail)

    print(f"| op | sf10 wall | sf{bsf} wall | per-decade | status |")
    print("| --- | --- | --- | --- | --- |")
    n_ok = 0
    for name in names:
        ok, wall, err = _spawn(name)
        if not ok and "infeasible at this scale" in err:
            # a DESIGNED scale guard refusing with an actionable
            # message is the op working as specified — reported
            # distinctly, counted as clean
            print(
                f"| {name} | {wall:.1f}s | - | - "
                f"| GUARDED (by design): {err[:110]} |",
                flush=True,
            )
            n_ok += 1
            continue
        if ok:
            b = bench.get(name)
            if b and b > 0:
                per_dec = (wall / b) ** (1.0 / decades)
                print(
                    f"| {name} | {wall:.1f}s | {b:.2f}s "
                    f"| {per_dec:.1f}x | OK |",
                    flush=True,
                )
            else:
                print(f"| {name} | {wall:.1f}s | - | - | OK |", flush=True)
            n_ok += 1
        else:
            print(
                f"| {name} | {wall:.1f}s | - | - | **FAIL**: {err} |",
                flush=True,
            )
    verdict = "PASS" if n_ok == len(names) else "FAIL"
    print(
        f"\nSF10 GATE {verdict}: {n_ok}/{len(names)} ops ran clean ({sf_dir})"
    )
    return 0 if n_ok == len(names) else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
