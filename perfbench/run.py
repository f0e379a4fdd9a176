#!/usr/bin/env python3
"""koalas_spark benchmark: one client, closed loop, one workload per run.

    python3 perfbench/run.py --workload olap_curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run:

1. sets up a warmed session sized to the host (``get_spark``, registry
   import, JVM and Arrow-worker warm-up), timed from process start;
2. generates the workload's input from ``--seed`` into the work
   directory ``.perfbench/`` (reused when its manifest matches);
3. runs every op of the workload once, untimed, and checks its rows
   against the query's DuckDB oracle;
4. times whole passes over the ops, in a seeded order per pass, until
   ``--seconds`` have passed and the workload's ``min_passes`` have run.
   Each sample resets the session memos, calls the query, and forces it
   with the noop sink. An op's ``cpu_s`` is its fastest sample, its
   other figures the median of its samples;
5. stops the session and waits for its JVM and Python workers.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` passes alternate between untraced
and traced, and the metrics are the per-layer ones from the traced
samples. The full record of a run, with its host and input details,
goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A traced run times two untraced and two traced passes. An untraced run
# times ``Workload.min_passes``: a run's first pass (the oracle check) is
# cold, its second is still warming the JIT, and the host may slow any
# of them down, so ``cpu_s`` takes each op's fastest sample.
MIN_TRACED_PASSES = 2
sys.path.insert(0, ROOT)

from perfbench.trace import TRACED_MODULES, module_label  # noqa: E402

# The JSON result carries END_TO_END; REPORTED adds the wall-clock and
# memory figures, which a run prints and records but which CPU steal on
# a shared VM moves by more than any bound (README.md has the figures).
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
REPORTED = {
    **END_TO_END,
    "cpu_raw_s": "s",
    "ref_cpu_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}
STAGE_KEYS = (
    "jobs", "stages", "tasks", "task_cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "failed_tasks",
)
PER_LAYER = {
    "session.start_s": "s",
    "queries.import_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "memo.artifacts_built": "count",
    **{f"{module_label(m)}.{k}": u for m in TRACED_MODULES for k, u in (("s", "s"), ("calls", "count"))},
    "plan.s": "s",
    "exec.s": "s",
    **{f"exec.{k}": "count" for k in ("jobs", "stages", "tasks", "failed_tasks")},
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    **{f"exec.{k}": "MB" for k in STAGE_KEYS if k.endswith("_mb")},
    "exec.busy_frac": "ratio",
    "op.agg_time_s": "s",
    "op.sort_time_s": "s",
    "op.shj_build_time_s": "s",
    "op.broadcast_time_s": "s",
    "op.broadcast_mb": "MB",
    "op.smj_count": "count",
    "op.shj_count": "count",
    "op.bhj_count": "count",
    "op.generate_rows": "count",
    "python.to_worker_mb": "MB",
    "python.from_worker_mb": "MB",
    "python.time_s": "s",
    "write.s": "s",
    "write.mb": "MB",
    "write.files": "count",
    "trace.overhead_frac": "ratio",
    "peak_rss_mb": "MB",
}


def repo_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("koalas_spark/__init__.py", "tools/check_oracle.py", "tools/make_scaled.py")
    )


def host_config() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # a quarter of RAM, 2-8g: the inputs are small, and a heap sized to
    # the working set keeps collections short
    heap_gb = int(min(8, max(2, mem_gb // 4)))
    return {"cpus": cpus, "heap": f"{heap_gb}g", "mem_gb": round(mem_gb, 1)}


def session_env(cfg: dict) -> None:
    """Size ``get_spark`` to the host through the env it reads, and keep
    every file the session writes inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cfg["cpus"]),
        SPARK_GRAFT_DRIVER_MEM=cfg["heap"],
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        # the Python workers (UDFs, Python data sources) import koalas_spark
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(
            (
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
                "--conf spark.sql.ui.retainedExecutions=100000",
                f"--conf 'spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
                "pyspark-shell",
            )
        ),
    )


def setup(tracer_modules: bool) -> tuple:
    """Process start to a warmed session. Returns (spark, spans, timings)."""
    spans = None
    if tracer_modules:
        from perfbench.trace import ModuleSpans

        spans = ModuleSpans()
    t = time.perf_counter()
    from koalas_spark import get_spark

    spark = get_spark("perfbench")
    t_session = time.perf_counter() - t
    t = time.perf_counter()
    from koalas_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    t_import = time.perf_counter() - t
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _identity(s):
        return s

    spark.range(200_000, numPartitions=8).selectExpr("sum(id)").collect()
    spark.range(1000, numPartitions=1).select(_identity("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    timings = {
        "setup_s": time.perf_counter() - T0,
        "session.start_s": t_session,
        "queries.import_s": t_import,
    }
    return spark, spans, queries, oracles, timings


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM and the workers under it."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- inputs -----------------------------------------------------------------


def _source_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def replica_offset(seed: int) -> int:
    """Key offset between replicas: any value above every base key keeps
    keys unique; the seed picks one so partitioning differs per seed."""
    return 10**9 * (1 + seed % 9)


def build_inputs(workload, seed: int) -> tuple[str, dict, float]:
    """Generate (or reuse) the workload's input directory for ``seed``."""
    from perfbench import datagen

    manifest = {
        "code": _source_digest(
            [os.path.join(HERE, "datagen.py"), os.path.join(ROOT, "tools", "make_scaled.py")]
        ),
        "sf": workload.sf,
        "replicas": workload.replicas,
        "seed": seed,
        "offset": replica_offset(seed),
    }
    key = hashlib.sha256(json.dumps(manifest, sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(WORK, "inputs", f"{workload.name}-{seed}-{key}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            if json.load(f) == manifest:
                return out, manifest, 0.0
    shutil.rmtree(out, ignore_errors=True)
    t = time.perf_counter()
    datagen.generate(out, workload.sf, seed, workload.replicas, manifest["offset"])
    with open(mpath, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return out, manifest, time.perf_counter() - t


# -- ops --------------------------------------------------------------------


def _dir_stats(path: str) -> tuple[float, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith("."):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size / 1e6, files


class Ops:
    """Builds the DataFrame of one op (the registered query call), and
    runs its sink: the write and the read-back are execution."""

    def __init__(self, spark, queries: dict, sf_dir: str):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.stage = os.path.join(WORK, "stage")
        self.last_write: dict = {}

    def path(self, op: str) -> str:
        return os.path.join(self.stage, op.replace(":", "__"))

    def clean(self, op: str) -> None:
        shutil.rmtree(self.path(op), ignore_errors=True)

    def build(self, op: str):
        return self.queries[op.rpartition(":")[2]](self.spark, self.sf_dir)

    def sink(self, op: str, df):
        """``df`` written through the op's sink and read back; ``df``
        itself for an op without one."""
        sink = op.rpartition(":")[0]
        self.last_write = {}
        if not sink:
            return df
        path = self.path(op)
        t = time.perf_counter()
        if sink == "snapshot":
            from koalas_spark.sources import snapshots

            snapshots.write_snapshot(df, path)
            back = snapshots.read_snapshot(self.spark, path)
        elif sink == "jsonl":
            from koalas_spark.sources import io

            io.write_jsonl(df, path)
            back = io.read_jsonl(self.spark, path, df.schema)
        else:
            raise ValueError(f"unknown sink {sink!r} in op {op!r}")
        mb, files = _dir_stats(path)
        self.last_write = {"write.s": time.perf_counter() - t, "write.mb": mb, "write.files": files}
        return back


def check_ops(spark, ops: Ops, names: list[str], oracles: dict, sf_dir: str, digest: str) -> dict:
    """Collect every op once and compare it with its DuckDB oracle.

    Returns {op: None | "<reason>"}. Oracle results are cached in the
    work directory, keyed by input manifest, query and oracle SQL."""
    import pyarrow as pa

    from tools.check_oracle import _norm, connect_duck, dtype_mismatches

    con = None
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    verdicts = {}
    for op in names:
        query = op.rpartition(":")[2]
        sql = oracles.get(query)
        try:
            ops.clean(op)
            reset_memos()
            df = ops.sink(op, ops.build(op))
            s_cols = sorted(df.columns)
            s_rows = sorted(tuple(_norm(r[c]) for c in s_cols) for r in df.collect())
            ops.clean(op)
            if sql is None:
                verdicts[op] = "no oracle"
                continue
            key = hashlib.sha256(f"{digest}|{query}|{sql}".encode()).hexdigest()[:24]
            cpath = os.path.join(cache, f"{key}.json")
            if os.path.exists(cpath):
                with open(cpath) as f:
                    cached = json.load(f)
                schema = pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(cached["schema"])))
                d_cols, d_rows = cached["cols"], [tuple(r) for r in cached["rows"]]
            else:
                con = con or connect_duck(sf_dir)
                tbl = con.execute(sql).arrow()
                schema = tbl.schema
                order = sorted(range(len(schema.names)), key=lambda i: schema.names[i])
                d_cols = [schema.names[i] for i in order]
                cols = [[_norm(v) for v in tbl.column(i).to_pylist()] for i in order]
                d_rows = sorted(tuple(c[r] for c in cols) for r in range(tbl.num_rows))
                with open(cpath, "w") as f:
                    json.dump(
                        {"cols": d_cols, "rows": d_rows, "schema": schema.serialize().to_pybytes().hex()},
                        f,
                    )
            mism = dtype_mismatches(df.schema, schema)
            if s_cols != d_cols:
                verdicts[op] = f"columns {s_cols} != {d_cols}"
            elif mism:
                verdicts[op] = "dtypes " + "; ".join(mism)
            elif s_rows != d_rows:
                verdicts[op] = f"rows differ ({len(s_rows)} vs {len(d_rows)})"
            else:
                verdicts[op] = None
        except Exception as e:  # a failing op is a result, not a crash
            verdicts[op] = f"{type(e).__name__}: {str(e)[:300]}"
    if con is not None:
        con.close()
    return verdicts


def reset_memos() -> None:
    from koalas_spark.memo import reset_session_artifacts

    reset_session_artifacts()


def memo_entries() -> int:
    from koalas_spark import memo

    return sum(len(d) for d in memo._REGISTRY)


def after_sample(spark) -> None:
    """Drop what the sample built so the next one starts clean. Only a
    sample that left session memos (checkpoints, cached frames) pays
    for the collections that release their blocks."""
    built = memo_entries()
    reset_memos()
    spark.catalog.clearCache()
    if built:
        gc.collect()
        spark.sparkContext._jvm.System.gc()


# -- measurement ------------------------------------------------------------


# The reference job's median CPU time on the 4-vCPU VM the benchmark was
# tuned on. ``cpu_s`` is scaled by it over the run's own median, so that
# it reads in that VM's seconds: on a shared host the same work takes a
# third more CPU time while the neighbours are busy, and the reference
# job, run before every sample, slows down with it.
REFERENCE_CPU_S = 0.12


def reference_cpu_s(spark, jvm: int) -> float:
    """CPU seconds the JVM takes for a fixed job that runs neither Spark
    nor koalas code: hash 400k boxed longs into a set, sort 400k longs."""
    from perfbench.trace import tree_cpu_s

    rnd = spark._jvm.java.util.Random
    cpu0 = tree_cpu_s(jvm)
    rnd(7).longs(400_000, 0, 100_000).boxed().distinct().count()
    rnd(8).longs(400_000).sorted().sum()
    cpu1 = tree_cpu_s(jvm)
    return sum(v - cpu0.get(p, 0.0) for p, v in cpu1.items())


def run_sample(spark, ops: Ops, op: str, tracer, spans) -> dict:
    """One timed sample: build (the query call), (traced: plan), exec
    (the op's sink, then the noop action). ``cpu_s`` is the CPU time the
    driver, the JVM and the Python workers spent on it; ``ref_cpu_s`` that
    of the reference job run just before it."""
    from pyspark import SparkContext

    from perfbench.trace import tree_cpu_s

    jvm = SparkContext._gateway.proc.pid
    ops.clean(op)
    reset_memos()
    rec: dict = {"op": op, "ok": True, "ref_cpu_s": reference_cpu_s(spark, jvm)}
    cpu0, own0 = tree_cpu_s(jvm), time.process_time()
    if tracer is not None:
        tracer.start_sample()
        before = spans.snapshot()
        gid = tracer.phase("build")
    t0 = time.perf_counter()
    try:
        df = ops.build(op)
        t1 = time.perf_counter()
        t2 = t1
        if tracer is not None:
            built = memo_entries()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            gid_exec = tracer.phase("exec")
        ops.sink(op, df).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    except Exception as e:
        rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
        t1 = t2 = t3 = time.perf_counter()
    rec["wall_s"] = t3 - t0
    own1 = time.process_time()
    cpu1 = tree_cpu_s(jvm)
    # a thread or process gone by now loses only its last few ticks
    rec["cpu_s"] = own1 - own0 + sum(v - cpu0.get(p, 0.0) for p, v in cpu1.items())
    if tracer is not None:
        tracer.clear_phase()
        rec.update({"build.s": t1 - t0, "plan.s": t2 - t1, "exec.s": t3 - t2})
        if rec["ok"]:
            rec["memo.artifacts_built"] = built
            b = tracer.stage_metrics(gid)
            rec.update({"build.jobs": b["jobs"], "build.tasks": b["tasks"]})
            e = tracer.stage_metrics(gid_exec)
            rec.update({f"exec.{k}": e[k] for k in STAGE_KEYS + ("task_s",)})
            rec.update(tracer.operator_metrics())
            after = spans.snapshot()
            rec.update({k: after[k] - before[k] for k in after})
        rec.update({"write.s": 0.0, "write.mb": 0.0, "write.files": 0, **ops.last_write})
    ops.clean(op)
    after_sample(spark)
    return rec


def measure(spark, ops: Ops, workload, seconds: float, rng, tracer, spans) -> list[dict]:
    """Whole passes in a seeded order until ``seconds`` have passed and
    the workload's ``min_passes`` have run. With a tracer, an untimed
    pass comes first, so that neither kind gets the slower early one,
    and then passes alternate untraced/traced, ``MIN_TRACED_PASSES`` of
    each."""
    from pyspark import SparkContext

    for _ in range(5):  # the reference job's own JIT warm-up
        reference_cpu_s(spark, SparkContext._gateway.proc.pid)
    if tracer is not None:
        for op in workload.names:
            run_sample(spark, ops, op, None, spans)
    samples = []
    start = time.perf_counter()
    p = 0
    min_passes = workload.min_passes if tracer is None else 2 * MIN_TRACED_PASSES
    while time.perf_counter() - start < seconds or p < min_passes:
        order = workload.names
        rng.shuffle(order)
        # every pass starts from a collected heap, so the collections
        # that land in its samples are its own
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        traced = tracer is not None and p % 2 == 1
        for op in order:
            rec = run_sample(spark, ops, op, tracer if traced else None, spans)
            rec.update(pass_=p, traced=traced)
            samples.append(rec)
        p += 1
    return samples


def per_op(samples: list[dict], key: str, stat=statistics.median) -> float:
    """``stat`` of each op's samples of ``key``, summed over the ops."""
    by_op: dict[str, list[float]] = {}
    for r in samples:
        if r["ok"] and key in r:
            by_op.setdefault(r["op"], []).append(r[key])
    return sum(stat(v) for v in by_op.values())


def summarize(samples, setup, rss_peak, verdicts, cpus, latency_ops) -> tuple[dict, dict, int, int]:
    """Returns (reported, per_layer, attempted, failed); per_layer is
    empty without traced samples."""
    bad_ops = {op for op, v in verdicts.items() if v not in (None, "no oracle")}
    timed = [r for r in samples if not r["traced"]]
    attempted = len(samples)
    failed = sum(1 for r in samples if not r["ok"] or r["op"] in bad_ops)
    lat = [r["wall_s"] * 1e3 for r in timed if r["ok"] and r["op"] in latency_ops]
    cpu_raw_s = per_op(timed, "cpu_s", min)
    ref_cpu_s = statistics.median(r["ref_cpu_s"] for r in timed)
    reported = {
        "setup_s": setup["setup_s"],
        "cpu_s": cpu_raw_s * REFERENCE_CPU_S / ref_cpu_s,
        "cpu_raw_s": cpu_raw_s,
        "ref_cpu_s": ref_cpu_s,
        "wall_s": per_op(timed, "wall_s"),
        "op_p50_ms": statistics.median(lat) if lat else float("nan"),
        "op_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else float("nan"),
        "peak_rss_mb": rss_peak,
        "failed_frac": failed / attempted,
    }
    traced = [r for r in samples if r["traced"]]
    layer = {}
    for k in PER_LAYER if traced else ():
        if k in ("session.start_s", "queries.import_s"):
            layer[k] = setup[k]
        elif k == "exec.busy_frac":
            layer[k] = per_op(traced, "exec.task_s") / (per_op(traced, "exec.s") * cpus)
        elif k == "trace.overhead_frac":
            layer[k] = per_op(traced, "wall_s") / reported["wall_s"] - 1
        elif k == "peak_rss_mb":
            layer[k] = rss_peak
        else:
            layer[k] = per_op(traced, k)
    return reported, layer, attempted, failed


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not repo_present():
        print(f"perfbench: no koalas_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cfg = host_config()
    session_env(cfg)

    workload = WORKLOADS[args.workload]
    spark, spans, queries, oracles, timings = setup(bool(args.trace))
    tracer = None
    if args.trace:
        from perfbench.trace import SparkTrace

        tracer = SparkTrace(spark)
    from perfbench.trace import RssSampler

    sf_dir, manifest, gen_s = build_inputs(workload, args.seed)
    digest = hashlib.sha256(json.dumps(manifest, sort_keys=True).encode()).hexdigest()
    ops = Ops(spark, queries, sf_dir)
    shutil.rmtree(ops.stage, ignore_errors=True)
    t = time.perf_counter()
    verdicts = check_ops(spark, ops, workload.names, oracles, sf_dir, digest)
    check_s = time.perf_counter() - t
    from pyspark import SparkContext

    rss = RssSampler(SparkContext._gateway.proc.pid)
    rss.reset()
    rng = random.Random(args.seed)
    t, cpu = time.perf_counter(), cpu_ticks()
    samples = measure(spark, ops, workload, args.seconds, rng, tracer, spans)
    measure_s = time.perf_counter() - t
    # time the host gave to other guests while this run measured
    steal_frac = (cpu_ticks()[1] - cpu[1]) / max(1, cpu_ticks()[0] - cpu[0])
    rss_peak = rss.stop()
    stop_session(spark)
    shutil.rmtree(ops.stage, ignore_errors=True)

    reported, layer, attempted, failed = summarize(
        samples, timings, rss_peak, verdicts, cfg["cpus"], set(workload.latency_ops or workload.ops)
    )
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": reported[k], "unit": u} for k, u in END_TO_END.items()}
    correct = all(v in (None, "no oracle") for v in verdicts.values()) and all(r["ok"] for r in samples)
    record = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "host": cfg,
        "input": {"dir": os.path.relpath(sf_dir, ROOT), **manifest, "gen_s": gen_s},
        "pyspark": __import__("pyspark").__version__,
        "git_sha": git_sha(),
        "source_digest": _source_digest(sorted(koalas_sources())),
        "check_s": check_s,
        "measure_s": measure_s,
        "cpu_steal_frac": steal_frac,
        "reported": reported,
        "oracle": verdicts,
        "setup": timings,
        "metrics": metrics,
        "samples": samples,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{workload.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"workload {workload.name} seed {args.seed}: {attempted} samples, {failed} failed, "
          f"input generated in {gen_s:.2f} s, {cfg['cpus']} cpus, heap {cfg['heap']}, "
          f"cpu steal {steal_frac:.1%}")
    for op, v in verdicts.items():
        if v not in (None, "no oracle"):
            print(f"  oracle mismatch {op}: {v}")
    for k, v in {**reported, **layer}.items():
        print(f"  {k} = {v:.6g} {REPORTED.get(k) or PER_LAYER[k]}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def git_sha() -> str:
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else "none"
    except OSError:
        return "none"


def koalas_sources() -> list[str]:
    out = []
    for d, _, names in os.walk(os.path.join(ROOT, "koalas_spark")):
        out += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
