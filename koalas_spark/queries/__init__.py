"""Query registry.

Every operator in SURVEY.md §2 registers here as
    name -> (callable(spark, sf_dir) -> DataFrame, oracle_sql | None)
The driver (and tools/check_oracle.py) runs the Spark callable and the
DuckDB oracle side-by-side; column names and values must match exactly.

Cross-engine determinism rules used throughout:
  - double aggregations go through exact decimal summation:
    CAST(CAST(SUM(CAST(expr AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
    — addition order no longer matters, so Spark and DuckDB agree
    bit-for-bit; the VARCHAR hop exists because DuckDB's direct
    DECIMAL->DOUBLE cast is not correctly rounded past 2^53/10^6
    (found by the sf1 scaling run — see SCALING.md);
  - per-row double arithmetic (x*(1-d)) is IEEE-deterministic and
    portable as-is;
  - counts are cast to BIGINT on the Spark side (DuckDB len()/count()
    return BIGINT, Spark size()/length() return INT);
  - top-k queries carry full tie-break orderings so membership is
    deterministic;
  - portable hashing uses md5 (identical hex in both engines);
  - dollars->cents (and any double->integer) quantization is
    FLOOR(x*100 + 0.5) on BOTH sides — DuckDB CAST(double AS BIGINT)
    ROUNDS while Spark truncates (r8 batch-5 sf1 catch);
  - integer division only on NON-NEGATIVE operands (DuckDB // floors,
    Spark div truncates toward zero — they disagree below zero);
    signed divisions use the sign-aware half-up form
    sign(s) * ((2|s| + n) // (2n)) or a shift-non-negative rewrite;
  - transcendentals (ln/exp) are quantized to integer nanos PER VALUE
    before any SUM (float sums are addend-order-dependent; integer
    sums are not) — the #221 discipline;
  - products that can exceed int64 at scale pre-cast ONE factor to
    DECIMAL(38): DuckDB multiplies DECIMAL(18)xDECIMAL(18) in int64
    storage width and overflows (r8 acf sf1 catch);
  - iterative chained-CTE oracles declare every step AS MATERIALIZED:
    DuckDB inlines CTEs per reference site, so a K-step chain whose
    step references its predecessor twice re-expands the upstream
    subtree 2^K times (r8 PCA fd-exhaustion / BFS 60 GB spill catch);
  - where a double expression is unavoidable it appears ONCE, with an
    IDENTICAL shape in the Spark code and the oracle SQL — IEEE ops
    on identical doubles are bit-identical across engines.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class Query(NamedTuple):
    fn: QueryFn
    oracle: str | None
    bench: bool
    audit: bool
    allow: frozenset[str]


_REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    *,
    bench: bool = True,
    audit: bool = True,
    allow: Iterable[str] = (),
):
    """Register a query under ``name`` with an optional DuckDB oracle.

    ``bench=False`` leaves the query out of bench.py's default set.
    Every query with a novel plan shape is benched; the exclusions are,
    by class:
      (a) streaming ops that execute at construction against a staged
          micro-lake, whose wall time is fixture-dominated rather than
          plan-dominated (they ride the oracle gate;
          stream_checkpoint_restart is benched because the restart path
          itself is the cost surface);
      (b) §2.1 parity micro-ops (head/select/filter on one table —
          sub-100ms scans that measure JVM overhead, not plans);
      (c) near-duplicate variants of a benched op whose plan shape is
          identical and only a parameter differs (the _ps partsupp
          re-statements of benched TPC-H queries, hilbert vs zorder);
      (d) tests-only §2.1 surfaces (write_csv/append_rows/
          shape_len_cols), which are exercised in pytest and so are
          never registered.

    ``audit=False`` keeps the query out of tools/audit_plans.py: it
    executes at construction (the streaming queries, the BFS queries),
    so the frame it returns is a local scan or memory-sink table whose
    plan says nothing. Their plan shapes are pinned in their own tests.

    ``allow`` names the plan constructs the audit accepts for this
    query (``BroadcastNestedLoopJoin``, ``Python``, ``GlobalWindow``,
    ``BatchEvalPython``); the comment beside it, or the query's own
    comment, names the bound. Each allowed construct must appear in the
    plan, so an allowance cannot outlive the construct it excuses.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(fn, oracle, bench, audit, frozenset(allow))
        return fn

    return deco


def registry() -> dict[str, Query]:
    """name -> Query(fn, oracle, bench, audit, allow) for every query."""
    _load()
    return dict(_REGISTRY)


def all_queries() -> dict[str, QueryFn]:
    return {k: q.fn for k, q in registry().items()}


def all_oracles() -> dict[str, str]:
    return {k: q.oracle for k, q in registry().items() if q.oracle is not None}


_LOADED = False


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    # import every module of this package for its registrations
    for mod in sorted(m.name for m in pkgutil.iter_modules(__path__)):
        importlib.import_module(f"{__name__}.{mod}")
    _LOADED = True
