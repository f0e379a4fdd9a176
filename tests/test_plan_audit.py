"""Plan-quality GATE over the whole registry (VERDICT r3 #5): the
audit in tools/audit_plans.py used to be a report; this test makes it
fail the suite when a query's physical plan regresses —

  * any construct outside its documented EXPECTED set (a new Python
    stage, BroadcastNestedLoopJoin, CartesianProduct, global window,
    or any row-wise BatchEvalPython anywhere), or
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


def test_plans_match_expectations(spark):
    with open(Path(__file__).parents[1] / "PLAN_BASELINE.json") as f:
        baseline = json.load(f)
    facts = collect(spark, SF_SMOKE)

    problems = []
    for name, d in facts.items():
        if d["unexpected"]:
            problems.append(f"{name}: unexpected constructs {d['unexpected']}")
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
