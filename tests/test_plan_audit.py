"""Plan-quality GATE over the whole registry (VERDICT r3 #5): the
audit in tools/audit_plans.py used to be a report; this test makes it
fail the suite when a query's physical plan drifts from what its
``@query(..., allow=...)`` declares —

  * any construct it does not allow (a new Python stage,
    BroadcastNestedLoopJoin, CartesianProduct, global window, or any
    row-wise BatchEvalPython anywhere), or
  * an allowed construct its plan no longer contains (a stale
    allowance would let that construct come back unnoticed), or
  * losing parquet filter pushdown it had when PLAN_BASELINE.json was
    generated, or
  * a query missing from the checked-in baseline entirely.

Regenerate the baseline intentionally with
    python tools/audit_plans.py
after reviewing that the new plan is the plan you want."""

import json
from pathlib import Path

from tests.conftest import SF_SMOKE
from tools.audit_plans import collect


def _baseline() -> dict:
    with open(Path(__file__).parents[1] / "PLAN_BASELINE.json") as f:
        return json.load(f)


def test_plans_match_expectations(spark, registry_builds):
    baseline = _baseline()
    facts = collect(spark, SF_SMOKE, {n: b.df for n, b in registry_builds.items()})

    problems = []
    for name, d in facts.items():
        if d["unexpected"]:
            problems.append(f"{name}: unexpected constructs {d['unexpected']}")
        if d["unused"]:
            problems.append(f"{name}: allowed but absent from plan {d['unused']}")
        base = baseline.get(name)
        if base is None:
            problems.append(
                f"{name}: not in PLAN_BASELINE.json — rerun tools/audit_plans.py"
            )
            continue
        new_flags = set(d["flags"]) - set(base["flags"])
        if new_flags:
            problems.append(f"{name}: new plan flags {sorted(new_flags)}")
        if base["pushdown"] and not d["pushdown"]:
            problems.append(f"{name}: lost parquet filter pushdown")
    assert not problems, "\n".join(problems)


def test_audit_reads_the_plan_not_the_executed_one(spark, registry_builds):
    """A collected frame holds AQE's final plan, whose global window
    the audit would misread as unbounded; the audit must still read
    the planned one."""
    name = "daily_revenue_discord"
    df = registry_builds[name].df
    df.collect()
    facts = collect(spark, SF_SMOKE, {name: df})[name]
    assert sorted(facts["flags"]) == _baseline()[name]["flags"]
    assert not facts["unexpected"] and not facts["unused"]
