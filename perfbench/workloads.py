"""The benchmark's workloads: which registered queries each one runs,
on what generated input, and why (README.md has the longer story).

An *op* is one unit the closed loop times. Most ops are a registered
query name. An op ``"<sink>:<query>"`` runs the registered query, writes
its result through one of ``koalas_spark.sources``' sinks into the
benchmark's work directory and reads it back, so the sample pays the
write; the oracle check compares the read-back rows with the query's
DuckDB oracle.

A pass runs every op of ``ops`` and ``latency_ops`` once, in a seeded
order. When ``latency_ops`` is given, the per-op latency percentiles
are taken over its samples only.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float  # scale of the generated base tables
    replicas: int  # >1: key-offset replica, as tools/make_scaled.build makes it
    ops: tuple[str, ...]
    latency_ops: tuple[str, ...] = ()
    # timed passes a run makes at least; ``cpu_s`` takes each op's
    # fastest, so a workload whose ops swing more needs more of them
    min_passes: int = 3

    @property
    def names(self) -> list[str]:
        """Every op of one pass, in declaration order."""
        return list(self.ops) + list(self.latency_ops)


# the reference-parity KFrame ops of koalas_spark/queries/parity.py, with
# one of its five single-key groupby ops (groupby_count, groupby_first,
# groupby_mean and groupby_minmax plan the same shuffle-and-aggregate)
PARITY_OPS = (
    "select_filter",
    "subset_cols",
    "get_col",
    "add_new_col",
    "groupby_sum",
    "sort_multi",
    "head_n",
    "unique_records",
    "apply_col",
    "apply_rows",
    "concat_frames",
    "mask_filter",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap_curation",
            why=(
                "exec-bound: scans, shuffles, joins and aggregates on directory-shaped "
                "parquet, plus exact dedup, a mapInPandas media op and sink writes"
            ),
            sf=0.002,
            replicas=10,
            ops=(
                "q1_pricing_summary",
                "q14_promo_revenue",
                "multimodal_decode_resize",
                "snapshot:dedup_exact",
                "jsonl:text_langid",
            ),
            # q1's CPU swings between about 0.9 s and 1.6 s a sample, and
            # the sink ops are still warming up by the fourth pass
            min_passes=5,
        ),
        Workload(
            name="iterative_parity",
            why=(
                "driver-bound: koalas' own KFrame ops, where fixed per-op overhead "
                "dominates, and an iterative graph loop that spends its time building plans"
            ),
            sf=0.002,
            replicas=1,
            ops=(
                "kcore_peeling_rounds",
            ),
            latency_ops=PARITY_OPS,
        ),
    )
}
