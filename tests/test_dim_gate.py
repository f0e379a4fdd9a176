"""Scale gate for broadcast hints (VERDICT r4 #2).

A forced `F.broadcast` hint OVERRIDES AQE's size check, so hinting an
SF-linear table (customer 150k x SF, supplier 10k x SF, part 200k x SF)
is fatal at the 100 TB target: the executors OOM building the hash
relation instead of degrading to a shuffle join. Only constant-
cardinality dims (nation=25 rows, region=5 rows at every SF) may carry
the hint; SF-linear tables join unhinted so AQE owns the strategy.

This test walks the ANALYZED logical plan of every registered batch
query and collects the output columns of each ResolvedHint node (the
frame that would be force-broadcast). Raw customer/supplier/part
columns in a hint output mean someone force-broadcast an SF-linear
table again. Bounded aggregates DERIVED from those tables (1-row
averages, probe sets, k-row stats) rename their outputs, so they pass.
"""

from __future__ import annotations

# raw column prefixes of the SF-linear TPC-H tables
_LINEAR_PREFIXES = ("c_", "s_", "p_")


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _hint_outputs(df) -> list[list[str]]:
    """Output column names of every ResolvedHint node in the plan."""
    out: list[list[str]] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "ResolvedHint":
            out.append([a.name() for a in _seq(node.output())])
        for child in _seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().analyzed())  # noqa: SLF001
    return out


def test_no_forced_broadcast_of_sf_linear_tables(registry_frames):
    offenders = []
    for name, df in registry_frames.items():
        for cols in _hint_outputs(df):
            bad = [c for c in cols if c.startswith(_LINEAR_PREFIXES)]
            if bad:
                offenders.append(f"{name}: hinted frame exposes {bad}")
    assert not offenders, (
        "forced broadcast of SF-linear customer/supplier/part columns "
        "(join these tables unhinted and let AQE pick the strategy):\n"
        + "\n".join(offenders)
    )
