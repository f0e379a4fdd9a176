"""The broadcast policy (stated at the threshold in plans/session.py),
checked over the hints of every plan each audited query builds,
checkpointed rounds included (conftest.watched_build).

* No SF-linear table is forced to broadcast: a forced hint overrides
  AQE's size check, so hinting customer, supplier or part OOMs
  executors at 100 TB instead of degrading to a shuffle join. Raw
  c_/s_/p_ columns in a hinted frame's output mean someone did; bounded
  aggregates derived from those tables rename their outputs and pass.
* No hint the planner already makes: none over a raw nation/region
  scan or an ungrouped (1-row) aggregate, seen through
  Project/Filter/alias. Both size under the broadcast threshold at
  every SF, so Catalyst broadcasts them unhinted.
* Every above-gate plan runs: each query whose build asked the size
  gate, audited or built at construction, is rebuilt with every source
  forced to 100 TB and must still equal its DuckDB oracle.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, _seq, watched_build

# raw column prefixes of the SF-linear TPC-H tables
_LINEAR_PREFIXES = ("c_", "s_", "p_")
# raw column prefixes of the constant-cardinality nation/region tables
_CONST_PREFIXES = ("n_", "r_")
_SEE_THROUGH = ("Project", "Filter", "SubqueryAlias")
# queries that refuse to run above their guard rather than change plan
_REFUSED = {"triangle_count_parts"}
# audit=False queries (they execute at construction, so registry_builds
# leaves them out) whose build asks the size gate
_UNAUDITED_SIZED = ("khop_reach_copurchase", "harmonic_centrality_probes")


def _planner_sizes(plan) -> bool:
    """Whether the hinted ``plan`` is, seen through Project/Filter/alias,
    an ungrouped aggregate or a raw nation/region scan."""
    while plan.getClass().getSimpleName() in _SEE_THROUGH:
        plan = plan.child()
    kind = plan.getClass().getSimpleName()
    cols = [a.name() for a in _seq(plan.output())]
    return (kind == "Aggregate" and plan.groupingExpressions().isEmpty()) or (
        kind == "LogicalRelation" and all(c.startswith(_CONST_PREFIXES) for c in cols)
    )


def test_no_forced_broadcast_of_sf_linear_tables(registry_builds):
    offenders = []
    for name, built in registry_builds.items():
        for h in built.hints:
            bad = [c for c in h.cols if c.startswith(_LINEAR_PREFIXES)]
            if bad:
                offenders.append(f"{name}: hinted frame exposes {bad}")
            if "broadcast" in h.strategy and _planner_sizes(h.child):
                offenders.append(f"{name}: hint over {h.cols}, which the planner sizes")
    assert not offenders, (
        "forced broadcast of SF-linear customer/supplier/part columns (join "
        "them unhinted and let AQE pick), or of a frame the planner sizes:\n"
        + "\n".join(offenders)
    )


def test_above_gate_plans_match_oracle(spark, registry_builds, request, monkeypatch):
    from koalas_spark import memo
    from koalas_spark.queries import registry
    from tools.check_oracle import check, connect_duck

    # the shared builds go to the session's artifact store, so they are
    # all made before this test swaps in a private one
    sized = sorted(n for n, b in registry_builds.items() if b.sized)
    request.getfixturevalue("private_artifacts")
    # the spy sees the graph gates and the beam walk's (k-core's peel
    # rounds, which never run at SF_SMOKE, are swept above the gates on
    # their own input in test_graph)
    assert {"label_propagation_communities", "ann_graph_search"} <= set(sized)
    monkeypatch.setattr(memo, "source_bytes", lambda sf_dir, table: 100 << 40)
    frames = dict.fromkeys(sized)
    for name in _UNAUDITED_SIZED:
        built = watched_build(spark, lambda: registry()[name].fn(spark, SF_SMOKE))
        assert built.sized, f"{name} no longer asks the size gate"
        frames[name] = built.df
    duck = connect_duck(SF_SMOKE)
    failed = []
    for name, sdf in frames.items():
        if name in _REFUSED:
            with pytest.raises(RuntimeError, match="infeasible"):
                registry()[name].fn(spark, SF_SMOKE)
            continue
        try:
            status, detail = check(spark, duck, SF_SMOKE, name, sdf)
        except Exception as exc:
            status, detail = "ERROR", repr(exc)[:300]
        if status not in ("OK", "rows-only"):
            failed.append(f"{name}: {status} {detail}")
    assert not failed, "above the size gates:\n" + "\n".join(failed)

