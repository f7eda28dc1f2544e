"""Repo benchmark: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload iterative_graph --seed 1 --seconds 5 --trace 0

Load: a single process with a closed loop -- one client runs one
operation at a time on ``local[<cores>]`` with as many shuffle
partitions. Every operation starts from ``spark.catalog.clearCache()``
and its result is fully evaluated: registry ids are written to the
``noop`` sink, pipeline stages do their real file and CSV writes.

A run: generate (or reuse) the seeded inputs, untimed; set up (session,
first-touch catalog loads, a warm-up over the same inputs as the timed
section, whose outputs are kept for the checks) -> ``setup_s``, in CPU
seconds like ``cpu_s``; the timed section; the output checks. The timed
section runs registry ids in seeded passes until ``--seconds`` have
elapsed and every id ran, and medallion rounds while another round
still fits in ``--seconds`` (at least one). Each operation is measured in CPU seconds of the engine's
processes (``cpu_s``, see ``engine_cpu``) and in wall seconds (logged
to stderr). ``--trace 1`` instead runs each operation twice, untraced
and traced, and reports the per-layer metrics of the traced runs; the
span tree is written to ``.perfbench_cache/traces/``. The last stdout
line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import CACHE, ROOT, dir_bytes, ensure  # noqa: E402

PACKAGE = "nyc_tlc_trip_data_pipelines_spark"

# name -> what runs. Registry workloads name ``queries()`` ids and the
# scale of the star-schema tables they read; those tables come from a
# fixed generator seed (TPCH_SEED), so across runs only the order of the
# operations follows ``--seed``. The medallion workload generates its
# taxi files from ``--seed``.
TPCH_SEED = 0
WORKLOADS = {
    "etl_medallion": {"taxi_rows_per_month": 2_000},
    "iterative_graph": {
        "sf": 0.01,
        "tables": ["orders", "lineitem", "embeddings"],
        "ids": ["q_pagerank", "q_dedup_semantic_scaled"],
    },
}
# ``--tiny``: the smallest inputs, for the benchmark's own tests
TINY = {"sf": 0.001, "taxi_rows_per_month": 500}

END_TO_END = {"cpu_s": "s", "rows_per_cpu_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "run.wall_s": "s",
    "run.setup_wall_s": "s",
    "session.start_s": "s",
    "catalog.first_load_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.exec_run_ms": "ms",
    "operators.exec_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.core_util": "ratio",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.input_mb": "MB",
    "operators.input_rows": "count",
    "operators.output_mb": "MB",
    "operators.persisted_mb": "MB",
    "operators.cached_mb_after": "MB",
    "operators.py.rows_received": "count",
    "operators.py.bytes_sent": "MB",
    "operators.py.bytes_received": "MB",
    "operators.py.worker_ms": "ms",
    "operators.py.stage_run_ms": "ms",
    "pipeline.ingest_bronze_s": "s",
    "pipeline.build_gold_s": "s",
    "pipeline.analytics_q1_s": "s",
    "pipeline.analytics_q2_s": "s",
    "pipeline.files_failed": "count",
    "io.files_written": "count",
    "io.bytes_written": "MB",
    "io.write_amp": "ratio",
    "io.versioned_commit_s": "s",
    "io.read_version_s": "s",
    "registry.self_s": "s",
    "operators.self_s": "s",
    "pipeline.self_s": "s",
    "io.self_s": "s",
    "trace.overhead_s": "s",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (empty where absent)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def log_steal(before: list[int]) -> None:
    """Log the share of CPU time the hypervisor took from this machine
    since ``before``: on a shared VM it, not the code, sets the spread."""
    after = cpu_ticks()
    if len(before) > 7 and len(after) == len(before):
        delta = [a - b for a, b in zip(after, before)]
        log(f"steal during the timed section: {100 * delta[7] / max(1, sum(delta[:8])):.1f}%")


def _proc_stat(path: str) -> tuple[str, list[str]]:
    """(name, the fields after it) of a /proc ``stat`` file."""
    with open(path) as fh:
        raw = fh.read()
    head, _, tail = raw.rpartition(")")
    return head.split("(", 1)[1], tail.split()


def engine_cpu() -> dict:
    """A snapshot of the CPU time used so far by this process and its
    descendants (the Spark JVM and its Python workers; reaped children
    count once): the JVM per thread, the rest as one total. The JVM's JIT
    compiler threads are left out: compilation goes on in the background
    for minutes after the warm-up and its CPU time swings from pass to
    pass. Use ``cpu_since`` for the seconds between two snapshots."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc.pid if gateway is not None and getattr(gateway, "proc", None) else None
    kids, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            _, f = _proc_stat(f"/proc/{d}/stat")
        except OSError:
            continue
        kids.setdefault(int(f[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    snap, todo = {"rest": 0}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        if pid != jvm:
            snap["rest"] += cpu.get(pid, 0)
    for tid in os.listdir(f"/proc/{jvm}/task") if jvm else ():
        try:
            name, f = _proc_stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        if "Compiler" not in name:
            snap[tid] = int(f[11]) + int(f[12])
    return snap


def cpu_since(before: dict) -> float:
    """CPU seconds from the ``before`` snapshot to now. A thread that
    started since counts whole; one that ended since is lost."""
    after = engine_cpu()
    ticks = sum(v - before.get(k, 0) for k, v in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the session to this machine."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the traced run reads jobs, stages and SQL executions back from the
    # status stores, so none may be evicted; both modes use the same confs
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')}",
        "pyspark-shell",
    ])


class Recorder:
    """Per-operation times and, when traced, the span tree."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.times: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.cached_mb: list[float] = []

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def phase(self, name):
        return self.tracer.phase(name) if self.tracer else nullcontext()

    def wall_s(self) -> float:
        return sum(statistics.median(v) for v in self.times.values())

    def cpu_s(self) -> float:
        return sum(statistics.median(v) for v in self.cpu.values())

    def log_samples(self) -> None:
        for op in sorted(self.times):
            log(f"{op}: wall " + " ".join(f"{t:.3f}" for t in self.times[op])
                + " cpu " + " ".join(f"{c:.2f}" for c in self.cpu[op]))

    def record(self, op: str, t0: float, c0: dict) -> None:
        """Keep an operation's wall and CPU time, from ``t0``/``c0`` on."""
        self.times.setdefault(op, []).append(time.perf_counter() - t0)
        self.cpu.setdefault(op, []).append(cpu_since(c0))


# ------------------------------------------------------------ registry

def registry_setup(spark, Q, tpch_dir, rec_tables):
    """Warm-up: build and collect each id (outputs kept for the checks),
    noting which tables each id loads, then run it once more the way the
    timed executions run. After a single warm-up execution the first
    timed one still used a quarter to a third more CPU than the next."""
    results, failed = {}, set()
    for qid, fn in Q.items():
        spark.catalog.clearCache()
        rec_tables.current = qid
        try:
            df = fn(spark, tpch_dir)
            rows = [tuple(r) for r in df.collect()]
            results[qid] = (df.columns, [f.dataType.simpleString() for f in df.schema.fields], rows)
            spark.catalog.clearCache()
            fn(spark, tpch_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # counted in every timed attempt of this id
            log(f"warm-up {qid} raised {type(exc).__name__}: {exc}")
            failed.add(qid)
    rec_tables.current = None
    return results, failed


def registry_pass(spark, Q, ids, tpch_dir, recs: list[Recorder], order_rng) -> None:
    """Run every id once per recorder. With two (the traced run) the one
    that goes first alternates from id to id, so neither side always gets
    the warmer JVM."""
    order = list(ids)
    order_rng.shuffle(order)
    for i, qid in enumerate(order):
        for rec in recs if i % 2 == 0 else recs[::-1]:
            run_op(spark, Q[qid], qid, tpch_dir, rec)


def registry_timed(spark, Q, ids, tpch_dir, rec: Recorder, order_rng, seconds: float) -> None:
    """Passes in seeded order until ``seconds`` have elapsed and every id
    ran at least once; the check comes after each id, so the section
    overruns by at most one id."""
    deadline = time.perf_counter() + seconds
    tried: set[str] = set()
    while True:
        order = list(ids)
        order_rng.shuffle(order)
        for qid in order:
            run_op(spark, Q[qid], qid, tpch_dir, rec)
            tried.add(qid)
            if time.perf_counter() >= deadline and len(tried) == len(ids):
                return


def run_op(spark, fn, qid, tpch_dir, rec: Recorder) -> None:
    spark.catalog.clearCache()
    rec.attempted += 1
    c0, t0 = engine_cpu(), time.perf_counter()
    try:
        with rec.span(f"registry.op:{qid}"):
            with rec.phase("registry.build"):
                df = fn(spark, tpch_dir)
            with rec.phase("operators.action"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as exc:
        log(f"{qid} raised {type(exc).__name__}: {exc}")
        rec.failed += 1
        return
    rec.record(qid, t0, c0)
    if rec.tracer:
        rec.cached_mb.append(rec.tracer.persisted_mb())


class TableUse:
    """Wraps ``load_table`` during the warm-up to learn which tables each
    operation reads (for ``rows_per_cpu_s``)."""

    def __init__(self):
        self.current = None
        self.by_op: dict[str, set[str]] = {}

    def wrap(self, fn):
        def load_table(spark, sf_dir, name):
            if self.current:
                self.by_op.setdefault(self.current, set()).add(name)
            return fn(spark, sf_dir, name)

        return load_table


def run_registry(args, cfg, spark_start):
    tpch_dir, meta = ensure("tpch", cfg["sf"], TPCH_SEED)
    t_setup, c_setup = time.perf_counter(), engine_cpu()
    spark, session_s = spark_start()
    import __spark_entry__ as E
    from nyc_tlc_trip_data_pipelines_spark import catalog

    t0 = time.perf_counter()
    for name in cfg["tables"]:
        catalog.load_table(spark, tpch_dir, name)
    first_load_s = time.perf_counter() - t0

    Q = {qid: E.queries()[qid] for qid in cfg["ids"]}
    use = TableUse()
    originals = (catalog.load_table, E.load_table)
    catalog.load_table, E.load_table = use.wrap(originals[0]), use.wrap(originals[1])
    try:
        results, warm_failed = registry_setup(spark, Q, tpch_dir, use)
    finally:
        catalog.load_table, E.load_table = originals
    setup = {"cpu": cpu_since(c_setup) + args.import_cpu_s, "wall": time.perf_counter() - t_setup + args.import_s}

    order_rng = random.Random(args.seed)
    plain, traced = Recorder(), None
    if args.trace:
        from spans import Tracer

        traced = Recorder(Tracer(spark, f"{args.workload}-seed{args.seed}"))
        registry_pass(spark, Q, cfg["ids"], tpch_dir, [plain, traced], order_rng)
    else:
        ticks = cpu_ticks()
        registry_timed(spark, Q, cfg["ids"], tpch_dir, plain, order_rng, args.seconds)
        log_steal(ticks)

    import oracle

    t_check = time.perf_counter()
    problems = oracle.check_registry(tpch_dir, results)
    log(f"checks took {time.perf_counter() - t_check:.1f} s")
    bad = {q for q, p in problems.items() if p} | warm_failed
    for q in sorted(bad):
        log(f"CHECK FAIL {q}: {problems.get(q) or 'raised in warm-up'}")
    rec = traced or plain
    rec.failed += sum(len(rec.times.get(q, [])) for q in bad)
    rows = meta["rows"]
    # only ids that were timed, so a failing id leaves neither metric
    source_rows = sum(rows[t] for q in plain.times for t in use.by_op.get(q, ()))
    e2e = end_to_end(plain, source_rows, setup)
    layer = None
    if traced:
        layer = layer_metrics(traced, plain, spark)
        layer["session.start_s"] = session_s
        layer["run.setup_wall_s"] = setup["wall"]
        layer["catalog.first_load_s"] = first_load_s
    return spark, rec, not bad and plain.failed == rec.failed == 0, e2e, layer


# ---------------------------------------------------------------- etl

def etl_round(spark, inputs: str, work: str, rec: Recorder, mods) -> dict | None:
    """One medallion round into ``work``: bronze -> gold -> Q1/Q2 CSV,
    then the versioned-IO round over the gold output. Returns the output
    paths, or None (counted as failed) if any call raised."""
    pipeline, io, schema, rel = mods
    out = {k: os.path.join(work, k) for k in ("bronze", "gold", "q1", "q2", "versioned", "late")}
    out["work"] = work
    late_bronze, late_gold = out["late"] + "/bronze", out["late"] + "/gold"
    rec.attempted += 1
    c0, t0 = engine_cpu(), time.perf_counter()
    try:
        with rec.span("pipeline.round"):
            with rec.phase("pipeline.ingest_bronze"):
                res = pipeline.ingest_bronze(spark, inputs + "/source", out["bronze"])
            with rec.phase("pipeline.build_gold"):
                pipeline.build_gold(spark, out["bronze"], out["gold"])
            with rec.phase("pipeline.analytics_q1"):
                pipeline.analytics_q1(spark, out["gold"], out["q1"])
            with rec.phase("pipeline.analytics_q2"):
                pipeline.analytics_q2(spark, out["gold"], out["q2"])
            with rec.phase("pipeline.ingest_bronze"):
                late = pipeline.ingest_bronze(spark, inputs + "/late", late_bronze)
            with rec.phase("pipeline.build_gold"):
                pipeline.build_gold(spark, late_bronze, late_gold)
            with rec.phase("io.append_versioned"):
                io.append_versioned(io.read_parquet(spark, out["gold"]), out["versioned"], "gold")
                io.append_versioned(io.read_parquet(spark, late_gold), out["versioned"], "late")
            with rec.phase("io.merge_versioned"):
                corr = io.read_parquet(spark, inputs + "/corrections.parquet")
                corr = schema.YELLOW_TRIP_GOLD.apply_cast(
                    rel.derive_year_month(corr, "tpep_pickup_datetime", "pickup_year", "pickup_month")
                )
                io.merge_versioned(spark, out["versioned"], corr, ["tpep_pickup_datetime"], "corrections")
            with rec.phase("io.optimize_versioned"):
                io.optimize_versioned(spark, out["versioned"])
            with rec.phase("io.read_version"):
                io.read_version(spark, out["versioned"], 1).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        log(f"etl round raised {type(exc).__name__}: {exc}")
        rec.failed += 1
        return None
    rec.record("etl_round", t0, c0)
    out["files_failed"] = len(res.failed) + len(late.failed)
    return out


def wrap_pipeline_io(pipeline, rec: Recorder):
    """Time the io calls the pipeline stages make, as child spans."""
    names = ["append_table", "read_parquet", "write_csv", "write_partitioned", "discover_files"]
    saved = {n: getattr(pipeline, n) for n in names}

    def timed(name, fn):
        def call(*a, **kw):
            with rec.span("io." + name):
                return fn(*a, **kw)

        return call

    for n, fn in saved.items():
        setattr(pipeline, n, timed(n, fn))
    return lambda: [setattr(pipeline, n, fn) for n, fn in saved.items()]


def run_etl(args, cfg, spark_start):
    inputs, meta = ensure("taxi", cfg["taxi_rows_per_month"], args.seed)
    scratch = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    t_setup, c_setup = time.perf_counter(), engine_cpu()
    spark, session_s = spark_start()
    from nyc_tlc_trip_data_pipelines_spark import io, pipeline, schema
    from nyc_tlc_trip_data_pipelines_spark.operators import relational as rel

    mods = (pipeline, io, schema, rel)
    # the warm-up round runs over the same inputs as the timed rounds
    warm = etl_round(spark, inputs, os.path.join(scratch, "warmup"), Recorder(), mods)
    setup = {"cpu": cpu_since(c_setup) + args.import_cpu_s, "wall": time.perf_counter() - t_setup + args.import_s}
    shutil.rmtree(scratch, ignore_errors=True)

    plain, traced, out = Recorder(), None, None
    if args.trace:
        from spans import Tracer

        traced = Recorder(Tracer(spark, f"{args.workload}-seed{args.seed}"))
        # one untraced and one traced round; which goes first alternates
        # with the seed, so neither side always gets the warmer JVM
        for rec in (plain, traced) if args.seed % 2 == 0 else (traced, plain):
            if rec is plain:
                etl_round(spark, inputs, os.path.join(scratch, "plain"), plain, mods)
                continue
            restore = wrap_pipeline_io(pipeline, traced)
            try:
                out = etl_round(spark, inputs, os.path.join(scratch, "traced"), traced, mods)
            finally:
                restore()
            traced.cached_mb.append(traced.tracer.persisted_mb())
    else:
        # another round only while it still fits in --seconds, judged by
        # the round before it; at least one round
        deadline, ticks = time.perf_counter() + args.seconds, cpu_ticks()
        i = 0
        while True:
            if out:
                shutil.rmtree(out["work"])
            t0 = time.perf_counter()
            out = etl_round(spark, inputs, os.path.join(scratch, f"r{i}"), plain, mods)
            i += 1
            if 2 * time.perf_counter() - t0 > deadline:
                break
        log_steal(ticks)

    import oracle

    problems = [] if warm else ["the warm-up round raised"]
    if out is None:
        problems.append("the last round raised, so its output cannot be checked")
    else:
        t_check = time.perf_counter()
        versions = {}
        for name, v in (("v1", 1), ("latest", None)):
            r = io.read_version(spark, out["versioned"], v).selectExpr(
                "count(*)", "round(sum(Total_amount), 2)"
            ).first()
            versions[name] = (r[0], float(r[1]))
        problems += oracle.check_etl(inputs, out, versions)
        log(f"checks took {time.perf_counter() - t_check:.1f} s")
        if out["files_failed"]:
            problems.append(f"{out['files_failed']} source files failed")
    for p in problems:
        log("CHECK FAIL etl_medallion:", p)
    rec = traced or plain
    if problems:
        rec.failed += len(rec.times.get("etl_round", []))
    source_rows = sum(n for k, n in meta["rows"].items() if k.startswith("yellow_tripdata"))
    e2e = end_to_end(plain, source_rows, setup)
    layer = None
    if traced and out:
        layer = layer_metrics(traced, plain, spark)
        layer["session.start_s"] = session_s
        layer["run.setup_wall_s"] = setup["wall"]
        layer["pipeline.files_failed"] = float(out["files_failed"])
        written = [out[k] for k in ("bronze", "gold", "q1", "q2", "versioned", "late")]
        n_files = sum(len(f) for p in written for _, _, f in os.walk(p))
        n_bytes = sum(dir_bytes(p) for p in written)
        layer["io.files_written"] = float(n_files)
        layer["io.bytes_written"] = n_bytes / 2**20
        stored = sum(dir_bytes(out[k]) for k in ("bronze", "gold", "versioned"))
        layer["io.write_amp"] = stored / dir_bytes(inputs + "/source")
    shutil.rmtree(scratch, ignore_errors=True)
    return spark, rec, not problems and plain.failed == rec.failed == 0, e2e, layer


# ------------------------------------------------------------- report

def end_to_end(plain: Recorder, source_rows: int, setup: dict) -> dict:
    """``setup`` holds the set-up's CPU and wall seconds; both times are
    reported in CPU seconds, the wall ones are logged."""
    cpu = plain.cpu_s()  # 0 only when no operation completed
    log(f"set-up wall s: {setup['wall']:.3f}")
    if cpu:
        log(f"wall_s (untraced, sum of per-operation medians): {plain.wall_s():.3f}")
    return {"cpu_s": cpu, "rows_per_cpu_s": source_rows / cpu if cpu else 0.0, "setup_s": setup["cpu"]}


def layer_metrics(traced: Recorder, plain: Recorder, spark) -> dict:
    """Sum the traced pass's spans into the per-layer metrics."""
    tr = traced.tracer
    m = dict.fromkeys(PER_LAYER, 0.0)
    wall_ms = 0.0
    for i, s in enumerate(tr.spans):
        layer = s.name.split(".", 1)[0].split(":", 1)[0]
        m[f"{layer}.self_s"] = m.get(f"{layer}.self_s", 0.0) + tr.self_seconds(i)
        if s.parent is None:
            wall_ms += s.seconds * 1000
        if s.name == "registry.build":
            m["registry.build_s"] += s.seconds
            m["registry.build_jobs"] += s.counters.get("jobs", 0)
        elif s.name == "operators.action":
            m["operators.action_s"] += s.seconds
        elif s.name.startswith("pipeline.") and s.name != "pipeline.round":
            m[s.name + "_s"] += s.seconds
        elif s.name in ("io.append_versioned", "io.merge_versioned", "io.optimize_versioned"):
            m["io.versioned_commit_s"] += s.seconds
        elif s.name == "io.read_version":
            m["io.read_version_s"] += s.seconds
        for k, v in s.counters.items():
            m["operators." + k] += v
    cores = spark.sparkContext.defaultParallelism
    m["operators.core_util"] = m["operators.exec_run_ms"] / (wall_ms * cores) if wall_ms else 0.0
    m["operators.persisted_mb"] = sum(traced.cached_mb)
    m["operators.cached_mb_after"] = max(traced.cached_mb, default=0.0)
    m["run.wall_s"] = plain.wall_s()
    m["trace.overhead_s"] = traced.wall_s() - plain.wall_s()
    traced.per_op = []
    for i, s in enumerate(tr.spans):
        if s.parent is not None:
            continue
        op = s.name.split(":", 1)[1] if ":" in s.name else "etl_round"
        parts: dict[str, float] = {}
        for c in tr.spans:
            if c.parent == i:
                parts[c.name] = parts.get(c.name, 0.0) + c.seconds
        untraced = plain.times.get(op)
        traced.per_op.append({
            "op": op, "traced_s": s.seconds, "parts_s": parts,
            "untraced_s": statistics.median(untraced) if untraced else None,
        })
    return {k: m[k] for k in PER_LAYER if k in m}


def write_trace(args, rec: Recorder) -> str:
    path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "ops": rec.per_op, "spans": rec.tracer.to_json(),
        }, fh, indent=1)
    return path


def start_spark():
    """``session.get_spark`` timed; returns (spark, seconds)."""
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs, for the benchmark's tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found next to perfbench/: run from a checkout of the repo")
        return 2
    configure_env()
    sys.path.insert(0, ROOT)
    t0, c0 = time.perf_counter(), time.process_time()
    import pyspark  # noqa: F401

    args.import_s = time.perf_counter() - t0
    args.import_cpu_s = time.process_time() - c0
    cfg = dict(WORKLOADS[args.workload])
    if args.tiny:
        cfg.update(TINY)
    runner = run_etl if args.workload == "etl_medallion" else run_registry
    spark, rec, correct, e2e, layer = runner(args, cfg, start_spark)
    rec.log_samples()
    if layer is not None:
        log("trace written to", write_trace(args, rec))
    t_stop = time.perf_counter()
    stop_spark(spark)
    log(f"stop took {time.perf_counter() - t_stop:.1f} s; run took {time.perf_counter() - T_START:.1f} s")
    metrics = (layer or {}) if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": bool(correct),
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
