"""Physical-plan audit over the whole query registry.

Builds every registered query not tagged ``audit=False`` at the given
sf dir, inspects the formatted plan, and writes PLANS.md: a per-query
table of shuffle count, broadcast count, codegen presence, scan
pushdown, and red flags (CartesianProduct, BroadcastNestedLoopJoin,
Python stages, partition-less windows). A flag is expected only where
the query's ``@query(..., allow=...)`` names it, and every allowed
construct must appear in the plan; PLAN_BASELINE.json records each
query's flags and pushdown for tests/test_plan_audit.py.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from koalas_spark import get_spark
from koalas_spark.queries import registry

def _top_level_brackets(s: str) -> list[str]:
    """Top-level [...] groups of an Arguments line (nesting-aware)."""
    out, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                out.append(s[start + 1 : i])
                start = None
    return out


def _partitionless_window_ids(plan: str) -> set[int]:
    """Node ids of Window-family operators with an EMPTY partition
    spec. Covers the physical variants (ADVICE r11): `Window`,
    `WindowInPandas`/`ArrowWindowPython` (pandas-UDF windows — Spark
    4.1 prints the Arrow name; same one-task global funnel), and
    `WindowGroupLimit` (the rank-filter pushdown node; in Spark 4.1
    the GLOBAL rank filter compiles to Window-over-
    TakeOrderedAndProject instead, but the detector stays defensive).

    For Window/WindowInPandas the formatted detail block of a
    partitioned node ends `Arguments: [exprs], [partition spec],
    [order spec]`; a partition-less one omits the partition group
    entirely (`[exprs], [order spec]` — order entries carry ASC/DESC
    — or just `[exprs]` for a pure global frame). WindowGroupLimit's
    Arguments LEAD with the partition spec (`[partSpec], [orderSpec],
    fn, k, mode`), printed as an explicit empty `[]` group when
    partition-less."""
    import re

    ids = set()
    for m in re.finditer(
        r"^\((\d+)\) (Window(?:InPandas|GroupLimit)?|ArrowWindowPython)\s*\n"
        r"((?:.+\n)*?)(?=\n|\Z)",
        plan,
        re.M,
    ):
        nid, variant = int(m.group(1)), m.group(2)
        arg = re.search(r"^Arguments: (.*)$", m.group(3), re.M)
        if not arg:
            continue
        groups = _top_level_brackets(arg.group(1))
        if variant == "WindowGroupLimit":
            # Arguments LEAD with the partition spec: partitioned iff
            # two bracket groups with a non-empty first
            if len(groups) >= 2 and groups[0].strip():
                continue  # partitioned
            ids.add(nid)
            continue
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # [exprs], [partition spec] (unordered window)
        ids.add(nid)
    return ids


# node names that bound the row count flowing into a global window:
# an aggregate collapses to its group domain, a top-k/limit is k rows,
# a LocalTableScan is a literal driver-side frame
_BOUNDED_PRODUCERS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
    "LocalTableScan",
)

# A `Scan ExistingRDD` leaf is a lineage-cut localCheckpoint — the
# aggregate that bounded it ran before the checkpoint and is invisible
# to this plan. The ONLY checkpointed artifacts a global window may
# sit on are listed here by exact output-column signature, each with
# its bound named AND scoped to the queries known to consume it
# (ADVICE r11: a signature alone — two one-letter column names —
# could be shadowed by a future corpus-scale checkpoint by name
# collision). The consumer set is derived from source, not
# hand-maintained, so it cannot drift.
def _daily_revenue_consumers() -> frozenset[str]:
    """Query names whose @query body calls daily_revenue_table —
    scanned from koalas_spark/queries/*.py source (same mechanical
    rule as tests/test_survey_sync.py's registry parse)."""
    import glob
    import re

    names = set()
    # Attribution is bounded to the DECORATED function body (ADVICE
    # r12): a top-level `def`/`class` consumes the pending @query name
    # (that def IS the decorated query) and any later top-level def
    # without its own decorator resets attribution — so a call inside
    # a non-query helper placed after a query can never falsely bless
    # that query. `def daily_revenue_table(` itself matches the
    # def-alternative first, so the definition site is never counted
    # as a call.
    pat = re.compile(
        r'^@query\(\s*\n?\s*"([^"]+)"'
        r"|^(?:def|class)\s+\w+"
        r"|daily_revenue_table\(",
        re.M,
    )
    for f in glob.glob(os.path.join(ROOT, "koalas_spark/queries/*.py")):
        src = open(f).read()
        if "daily_revenue_table" not in src:
            continue
        pending = cur = None
        for m in pat.finditer(src):
            if m.group(1):
                pending = m.group(1)
            elif m.group(0).startswith(("def ", "class ")):
                cur, pending = pending, None
            elif cur:
                names.add(cur)
    return frozenset(names)


_BOUNDED_ARTIFACT_SCANS = {
    # daily_revenue_table (queries/analytics.py:92): the day-domain
    # (d = days since 1995-01-01, x = cents) table — ~2.4k rows at
    # ANY corpus size; the groupBy(day) collapse runs before the
    # snapshot+checkpoint
    frozenset({"d", "x"}): (
        "daily_revenue day-domain table (~2.4k rows)",
        _daily_revenue_consumers(),
    ),
}


def _bounded_rdd_scan_ids(plan: str, name: str) -> set[int]:
    """Node ids of Scan ExistingRDD leaves whose output-column set
    matches a named bounded-artifact signature AND whose enclosing
    query is a known consumer of that artifact."""
    import re

    ids = set()
    for m in re.finditer(
        r"^\((\d+)\) Scan ExistingRDD[^\n]*\n((?:.+\n)*?)(?=\n|\Z)",
        plan,
        re.M,
    ):
        arg = re.search(r"^(?:Arguments|Output).*$", m.group(2), re.M)
        if not arg:
            continue
        cols = frozenset(
            c for c, _ in re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#(\d+)", arg.group(0))
        )
        entry = _BOUNDED_ARTIFACT_SCANS.get(cols)
        if entry is not None and name in entry[1]:
            ids.add(int(m.group(1)))
    return ids


def _global_window_audit(plan: str, name: str) -> tuple[int, int]:
    """(n partition-less Window nodes, n of those with NO bounded-
    domain producer on the path to every leaf of their subtree).

    Walks the formatted plan's tree section (indent = depth). A
    partition-less Window funnels its whole input through one task —
    legitimate ONLY above a bounded domain (VERDICT r10 #8); this is
    the machine check that every such window really does sit above an
    aggregate/limit/local-table on ALL input paths, so a corpus-scale
    global window cannot land behind an allowlist entry. Scope: the
    main plan tree (subquery trees hang off 1-row scalar frames)."""
    import re

    pl_ids = _partitionless_window_ids(plan)
    if not pl_ids:
        return (0, 0)
    bounded_rdd = _bounded_rdd_scan_ids(plan, name)
    # parse tree lines: (name-start position, node name, id)
    nodes = []
    for ln in plan.splitlines():
        if ln.startswith("== "):
            continue
        if not ln.strip():
            break
        m = re.search(r"([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$", ln)
        if m:
            nodes.append((m.start(1), m.group(1).strip(), int(m.group(2))))
    n_unbounded = 0
    for i, (pos, nname, nid) in enumerate(nodes):
        if nid not in pl_ids:
            continue
        # subtree = following lines strictly deeper than the window
        j = i + 1
        sub = []
        while j < len(nodes) and nodes[j][0] > pos:
            sub.append(nodes[j])
            j += 1
        # every leaf path must cross a bounded producer. Walk leaves:
        # a leaf is a subtree node with no deeper node after it.
        ok = True
        prefix = []  # stack of (pos, is_marker)
        for k, (p2, name2, nid2) in enumerate(sub):
            while prefix and prefix[-1][0] >= p2:
                prefix.pop()
            is_marker = any(name2.startswith(b) for b in _BOUNDED_PRODUCERS)
            prefix.append((p2, is_marker))
            is_leaf = k + 1 >= len(sub) or sub[k + 1][0] <= p2
            if is_leaf:
                bounded = (
                    any(mk for _, mk in prefix)
                    or name2.startswith("LocalTableScan")
                    or nid2 in bounded_rdd
                )
                if not bounded:
                    ok = False
                    break
        if not ok or not sub:
            n_unbounded += 1
    return (len(pl_ids), n_unbounded)


# physical nodes that run Python workers, as Spark 4.1 prints them
# (cogrouped applyInPandas is FlatMapCoGroupsInPandas, mapInArrow is
# MapInArrow)
_PYTHON_NODES = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
)


def inspect_plan(plan: str, name: str) -> dict:
    """Extract the audited facts from one formatted plan string."""
    import re

    flags = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan:
        flags.append("BatchEvalPython(row-wise!)")
    if any(node in plan for node in _PYTHON_NODES):
        flags.append("Python")
    # a partition-less Window funnels its whole input through ONE task
    # — the classic global-top-k scale trap. Detected per NODE (empty
    # partition spec in the detail block), and each instance is
    # structurally checked to sit above a bounded-domain producer on
    # every input path (VERDICT r10 #8). GlobalWindow is allowable
    # (the comment beside ``allow`` names the bound);
    # UnboundedGlobalWindow never is — deliberately NOT a prefix of
    # any allowed name.
    n_gw, n_gw_unbounded = _global_window_audit(plan, name)
    if n_gw:
        flags.append("GlobalWindow")
    if n_gw_unbounded:
        flags.append("UnboundedGlobalWindow!")
    # an allowed name covers the flags it prefixes, so row-wise Python
    # passes only where ``BatchEvalPython`` is allowed (the UDTF demo)
    allow = registry()[name].allow
    n_bc = plan.count("BroadcastExchange")
    return {
        "flags": flags,
        "unexpected": [f for f in flags if not any(f.startswith(a) for a in allow)],
        "unused": sorted(a for a in allow if not any(f.startswith(a) for f in flags)),
        "shuffles": plan.count("Exchange") - n_bc,
        "broadcasts": n_bc,
        "codegen": "codegen id" in plan,
        "pushdown": re.search(r"PushedFilters: \[[^\]]", plan) is not None,
    }


def collect(spark, sf_dir: str, frames: dict | None = None) -> dict[str, dict]:
    """name -> inspect_plan facts for every audited query.
    ``frames`` (name -> DataFrame, already built at ``sf_dir``) skips
    the builds."""
    if frames is None:
        frames = {
            name: q.fn(spark, sf_dir)
            for name, q in sorted(registry().items())
            if q.audit
        }
    jvm = spark._jvm  # noqa: SLF001
    out = {}
    for name, df in frames.items():
        # explain a fresh Dataset over the frame's plan: once a frame has
        # been collected, its own queryExecution holds AQE's final plan
        fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.logicalPlan()  # noqa: SLF001
        )
        plan = jvm.PythonSQLUtils.explainString(fresh.queryExecution(), "formatted")
        out[name] = inspect_plan(plan, name)
    return out


def audit(sf_dir: str) -> int:
    import json

    spark = get_spark("plan_audit")
    facts = collect(spark, sf_dir)
    rows = []
    bad = 0
    for name, f in facts.items():
        rows.append(
            (
                name,
                f["shuffles"],
                f["broadcasts"],
                "y" if f["codegen"] else "-",
                "y" if f["pushdown"] else "-",
                ",".join(f["flags"]) or "-",
                " ".join(
                    f"{k.upper()}: {','.join(f[k])}"
                    for k in ("unexpected", "unused")
                    if f[k]
                ),
            )
        )
        if f["unexpected"] or f["unused"]:
            bad += 1
    # checked-in expectations for the pytest gate (tests/test_plan_audit.py):
    # per-query flag set + whether the scan had pushed filters
    with open(os.path.join(ROOT, "PLAN_BASELINE.json"), "w") as f:
        json.dump(
            {
                n: {"flags": sorted(d["flags"]), "pushdown": d["pushdown"]}
                for n, d in facts.items()
            },
            f,
            indent=1,
            sort_keys=True,
        )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (auto-generated by "
            "tools/audit_plans.py)\n\n"
            f"sf_dir: {sf_dir}. Queries tagged audit=False excluded "
            "(they execute at construction; covered in their own tests).\n\n"
            "| query | shuffles | broadcasts | codegen | pushdown | "
            "python/nlj | verdict |\n|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"{len(rows)} plans audited, {bad} with unexpected or unused flags")
    return 1 if bad else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.exit(audit(sf))
