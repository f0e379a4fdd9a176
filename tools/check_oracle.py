"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on
DuckDB at the given sf dir, compares row count, column names,
order-insensitive values, AND materialized dtype families. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

Why dtype families: the driver hashes the oracle result after
materializing it (Arrow/pandas path), not from DuckDB's Python
``fetchall()`` values. DuckDB quietly promotes window SUM(BIGINT) to
HUGEINT and ``x // y`` keeps that width; ``fetchall()`` hands HUGEINT
back as Python int (so a value-only compare passes) but Arrow exports
it as decimal128 and pandas renders it float64 — the driver's hash
then sees ``123.0`` against Spark's ``123`` and fails even though
every value matches. That exact mechanism kept ``grouped_demean_arrow``
red for two rounds. This tool therefore materializes the oracle
through ``.arrow()`` and fails any column whose Arrow type family
differs from the Spark result's schema family. Family match is
necessary for driver green, not strictly sufficient (same-family
representation differences — e.g. decimal scales — could still hash
apart), but it catches every mechanism observed so far.
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import pyarrow as pa
from pyspark.sql import types as T

from koalas_spark import get_spark
from koalas_spark.queries import all_oracles, all_queries
from koalas_spark.sources.io import TPCH_TABLES


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, int):
        return str(int(v))
    return str(v)


def _spark_family(dt) -> str:
    """Coarse type family of a Spark DataType, aligned with _arrow_family."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_family(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        return "struct"
    return "other"


def _arrow_family(t: pa.DataType) -> str:
    """Coarse type family of an Arrow type (DuckDB .arrow() output).

    DuckDB HUGEINT surfaces here as decimal128(38,0) — which is the
    tell for an oracle whose integer math silently widened past int64.
    """
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_family(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct"
    return "other"


def dtype_mismatches(spark_schema: T.StructType, arrow_schema: pa.Schema) -> list[str]:
    """Columns whose materialized type family differs between engines."""
    s = {f.name: _spark_family(f.dataType) for f in spark_schema.fields}
    out = []
    for field in arrow_schema:
        sf = s.get(field.name)
        af = _arrow_family(field.type)
        if sf is not None and sf != af:
            out.append(f"{field.name}: spark={sf} oracle={af}")
    return out


def connect_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    for t in TPCH_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # driver testdata ships single files; Spark-written scaled dirs
        # (tools/make_scaled.py) need the part-file glob
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(sf_dir: str, names: list[str] | None = None) -> int:
    spark = get_spark("check_oracle")
    con = connect_duck(sf_dir)

    queries, oracles = all_queries(), all_oracles()
    names = names or sorted(queries)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            s_cols = sorted(sdf.columns)
            s_rows = [tuple(_norm(r[c]) for c in s_cols) for r in sdf.collect()]
            if name not in oracles:
                print(f"  {name}: rows-only {len(s_rows)} rows [{time.time()-t0:.1f}s]")
                continue
            # .arrow(), not .fetchall(): the driver reads the oracle
            # through a materialized (dtype-bearing) path, so we must too.
            tbl = con.execute(oracles[name]).arrow()
            raw_cols = list(tbl.schema.names)
            order = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
            d_cols = [raw_cols[i] for i in order]
            # positional column extraction: name-keyed to_pylist() would
            # silently collapse duplicate output column names
            col_vals = [[_norm(v) for v in tbl.column(i).to_pylist()] for i in order]
            d_rows = [tuple(col[r] for col in col_vals) for r in range(tbl.num_rows)]
            mism = dtype_mismatches(sdf.schema, tbl.schema)
            status, detail = "OK", ""
            if s_cols != d_cols:
                status, detail = "SCHEMA-MISMATCH", f"spark={s_cols} duck={d_cols}"
            elif mism:
                status, detail = "DTYPE-MISMATCH", "; ".join(mism)
            elif len(s_rows) != len(d_rows):
                status, detail = "COUNT-MISMATCH", f"spark={len(s_rows)} duck={len(d_rows)}"
            elif sorted(s_rows) != sorted(d_rows):
                status = "VALUE-MISMATCH"
                sset, dset = set(s_rows), set(d_rows)
                only_s = list(sset - dset)[:2]
                only_d = list(dset - sset)[:2]
                detail = f"spark-only={only_s} duck-only={only_d}"
            if status != "OK":
                failures += 1
            print(f"  {name}: {status} ({len(s_rows)} rows) [{time.time()-t0:.1f}s] {detail}")
        except Exception as e:
            failures += 1
            print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:300]}")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {len(names) - failures}/{len(names)} queries match")
    return failures


def shard_drive(sf_dir: str, n_shards: int, mem: str, cpus: int) -> int:
    """ONE-COMMAND full-registry sweep via parallel subprocess shards
    (VERDICT r10 #4 — the sf1 standing gate previously needed a
    hand-rolled 4-terminal split; this folds it into the tool).

    Splits sorted(all_queries()) round-robin across n_shards child
    processes (each its own JVM: SPARK_GRAFT_CPUS=cpus,
    SPARK_GRAFT_DRIVER_MEM=mem), streams their per-query verdict
    lines to .tmp_sweep_shard{i}.log, and aggregates to one
    PASS/FAIL summary. Round-robin keeps the heavy graph/wedge
    queries spread across shards.

    Usage: python tools/check_oracle.py <sf_dir> --shards=4
           [--shard-mem=20g] [--shard-cpus=8]
    """
    import os
    import re
    import subprocess

    names = sorted(all_queries())
    shards = [names[i::n_shards] for i in range(n_shards)]
    procs = []
    here = os.path.dirname(os.path.abspath(__file__))
    for i, chunk in enumerate(shards):
        env = dict(os.environ)
        env["SPARK_GRAFT_DRIVER_MEM"] = mem
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        log = open(os.path.join(ROOT, f".tmp_sweep_shard{i}.log"), "w")
        procs.append(
            (
                i,
                chunk,
                subprocess.Popen(
                    [sys.executable, os.path.join(here, "check_oracle.py"), sf_dir]
                    + chunk,
                    stdout=log,
                    stderr=subprocess.STDOUT,
                    env=env,
                ),
                log,
            )
        )
    total = ok = 0
    bad: list[str] = []
    for i, chunk, p, log in procs:
        p.wait()
        log.close()
        text = open(os.path.join(ROOT, f".tmp_sweep_shard{i}.log")).read()
        seen = set()
        for m in re.finditer(r"^\s*([a-z0-9_]+): (OK|[A-Z-]+MISMATCH|ERROR|rows-only)", text, re.M):
            seen.add(m.group(1))
            total += 1
            if m.group(2) in ("OK", "rows-only"):
                ok += 1
            else:
                bad.append(f"{m.group(1)} [{m.group(2)}]")
        missing = set(chunk) - seen
        for name in sorted(missing):
            total += 1
            bad.append(f"{name} [NO-VERDICT: shard {i} died before it ran]")
        print(f"shard {i}: {len(chunk)} queries, rc={p.returncode}")
    print(f"SWEEP {'PASS' if not bad else 'FAIL'}: {ok}/{total} queries match")
    for b in bad:
        print(f"  DIVERGENT: {b}")
    return len(bad)


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    shard_n = 0
    mem, cpus = "20g", 8
    rest = []
    for a in args:
        if a.startswith("--shards="):
            shard_n = int(a.split("=", 1)[1])
        elif a.startswith("--shard-mem="):
            mem = a.split("=", 1)[1]
        elif a.startswith("--shard-cpus="):
            cpus = int(a.split("=", 1)[1])
        elif "/" not in a:
            rest.append(a)
    if shard_n:
        sys.exit(1 if shard_drive(sf_dir, shard_n, mem, cpus) else 0)
    sys.exit(1 if compare(sf_dir, rest or None) else 0)
