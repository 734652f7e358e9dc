"""Benchmark runner: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 60 --trace 0

Run from the root of a checkout. The runner drives the program through
its public entry points only (``plans.etl.run_platform_etl``,
``plans.etl.serve_indicator``, ``plans.queries.QUERIES``), with Spark
``local[<cores>]`` started by the package's own ``session.get_spark``.
One closed-loop client sends the next op when the previous one has
returned. Every run does the same fixed amount of work; ``--seconds`` is
accepted so every benchmark shares one command line, and does not
time-box the run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions (``tracer.py``) and prints the per-layer
metrics. Outputs are checked once per run, outside the timed window. The
last line of stdout is one JSON object; a failed op or a failed output
check makes the exit code nonzero. See ``NOTES.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dimagi_data_platform_spark"
#: the query workload's fixed dataset, the read-only sf0.1 test tables
#: (TESTDATA.md); each run reads a copy
SF_SRC = os.path.expanduser("~/testdata/sf0.1")
#: the copy's directory name; ANN/graph artifacts are keyed on it, and it
#: differs from "sf0.1" so no artifact another process left can be reused
SF_TAG = "perfbench_sf"
#: driver heap; the session's default pre-touches at least 8 GB per start
DRIVER_MEM = "3g"

WORKLOADS = ("etl_hourly", "query_iterative")

SERVED = ("monthly_usage", "user_lifetime", "active_users_daily", "retention_cohorts")

#: query_iterative: the driver-loop kernels (ROADMAP direction 4); one
#: untimed warm-up pass (which also checks outputs), then timed passes
ITERATIVE = ("part_k_core", "bpe_train_merges")
QUERY_PASSES = 2

#: end-to-end metric -> unit
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "cpu_s_per_op": "s", "space_amp": "ratio"}


# ---- process-level helpers ---------------------------------------------------


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks: user + system, own + reaped
    children) for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rfind(")") + 2:].split()
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def descendants(root_pid: int, procs=None) -> list[int]:
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        kids[ppid].append(pid)
    out, stack = [], list(kids.get(root_pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of a process and all its live descendants: this
    Python driver, the JVM it launched and the JVM's Python workers."""
    procs = _procs()
    ticks = sum(procs[p][1] for p in [root_pid] + descendants(root_pid, procs) if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def du(path: str) -> int:
    total = 0
    for r, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return total


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---- run context -------------------------------------------------------------


class Run:
    """Per-run state: the work directory, the Spark session, the op log."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.dir = os.path.join(ROOT, ".bench_runs", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.errors: list[str] = []
        self.report: dict = {}
        self.layer: dict[str, float] = {}

    def prepare_env(self) -> None:
        """Everything Spark and Python write goes under the run's own
        directory: cwd (spark-warehouse/, derby.log), SPARK_LOCAL_DIRS,
        the JVM's and Python's temp dirs."""
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = os.path.join(self.dir, "tmp")
        local = os.path.join(self.dir, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.chdir(self.dir)
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update(
            PYTHONPATH=os.pathsep.join(paths),
            SPARK_LOCAL_DIRS=local,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        sys.path.insert(0, ROOT)

    def start_spark(self):
        from dimagi_data_platform_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            from tracer import SparkTracer

            self.tracer = SparkTracer(self.spark)
        else:
            from tracer import NullTracer

            self.tracer = NullTracer()
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, end the JVM and wait for it and its Python
        workers to exit."""
        from pyspark import SparkContext

        kids = descendants(self.jvm_pid)
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass

    def note(self, what: str) -> None:
        """Record an error; the op it makes fail is counted by ``fail``."""
        self.errors.append(what)
        print(f"FAIL {what}", file=sys.stderr)

    def attempt(self) -> int:
        """Count one op; returns its id."""
        self.attempted += 1
        return self.attempted

    def fail(self, what: str, *ops: int) -> None:
        """Mark ops as failed (each op counts once)."""
        self.failed_ops.update(ops)
        self.note(what)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def cpu(self) -> float:
        return tree_cpu_s(os.getpid())


# ---- etl_hourly ----------------------------------------------------------------


def land(feed, src: str) -> tuple:
    """Write the feed's next hourly batch into the source directory;
    returns the batch and its file size."""
    import gen

    batch = feed.next_batch()
    path = os.path.join(src, f"part-{len(os.listdir(src)):05d}.parquet")
    return batch, gen.write(batch, path)


def serve_all(spark, wh: str, tracer) -> dict:
    """One dashboard read: collect every served indicator; returns the
    seconds each table took."""
    from dimagi_data_platform_spark.plans import etl

    per_table = {}
    for name in SERVED:
        t0 = time.perf_counter()
        with tracer.span("plans.etl.serve", name):
            etl.serve_indicator(spark, wh, name).collect()
        per_table[name] = time.perf_counter() - t0
    return per_table


def run_etl(run: Run) -> dict:
    import gen
    from dimagi_data_platform_spark.plans import etl

    spark = run.start_spark()
    tracer = run.tracer
    feed = gen.EventFeed(run.seed)
    src = os.path.join(run.dir, "events_src")
    wh = os.path.join(run.dir, "warehouse")
    os.makedirs(src)
    input_bytes = gen.write(feed.history(), os.path.join(src, "part-00000.parquet"))
    cfg = etl.PlatformEtlConfig(
        source_events=src,
        warehouse=wh,
        jdbc_url=f"jdbc:derby:{run.dir}/derby;create=true",
        jdbc_driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
        publish=("monthly_usage",),
    )
    if tracer.enabled:
        # merge_version(spark, path, ...) and write_version(df, path, ...)
        table = lambda a, kw: os.path.basename(a[1] if len(a) > 1 else kw["path"])  # noqa: E731
        tracer.install(etl, "merge_version", "sources.versioned.merge", table)
        tracer.install(etl, "write_version", "sources.versioned.merge", table)
        tracer.install(etl, "read_version", "sources.versioned.read")
        tracer.install(etl, "write_jdbc", "sources.jdbc.write")

    t0 = time.perf_counter()
    etl.run_platform_etl(spark, cfg)
    bootstrap_s = time.perf_counter() - t0
    # one untimed batch and read: the first batch after the bootstrap
    # compiles about twice the steady JIT load (NOTES.md)
    _, warm_bytes = land(feed, src)
    input_bytes += warm_bytes
    t0 = time.perf_counter()
    etl.run_platform_etl(spark, cfg)
    serve_all(spark, wh, tracer)
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START

    batch, batch_bytes = land(feed, src)
    input_bytes += batch_bytes
    b = {"batch_bytes": batch_bytes, "rows": batch.num_rows,
         "touched_user_frac": len(set(batch.column("user_id").to_pylist())) / gen.N_USERS,
         "wall_s": 0.0, "cpu_s": 0.0}
    wh_before = du(wh) if tracer.enabled else 0
    batch_op = run.attempt()
    c0, t0 = run.cpu(), time.perf_counter()
    try:
        with tracer.op("batch") as b["trace"]:
            report = etl.run_platform_etl(spark, cfg)
        b.update(wall_s=time.perf_counter() - t0, cpu_s=run.cpu() - c0)
        if report.get("rows_ingested") != batch.num_rows:
            run.fail(f"batch: ingested {report.get('rows_ingested')} of "
                     f"{batch.num_rows} rows", batch_op)
    except Exception:
        run.fail(f"batch: {traceback.format_exc()}", batch_op)
    b["bytes_written"] = du(wh) - wh_before if tracer.enabled else 0

    serve_op = run.attempt()
    serve_s, serve_tables = 0.0, {}
    t0 = time.perf_counter()
    try:
        with tracer.op("serve"):
            serve_tables = serve_all(spark, wh, tracer)
        serve_s = time.perf_counter() - t0
    except Exception:
        run.fail(f"serve: {traceback.format_exc()}", serve_op)
    tracer.restore()
    space_amp = du(wh) / input_bytes

    t0 = time.perf_counter()
    ok = check_etl(run, spark, feed, wh, cfg)
    run.report["check_s"] = time.perf_counter() - t0
    if not ok:
        run.fail("etl output check failed: the batch and the read count as failed",
                 batch_op, serve_op)

    run.report.update(
        batch_s=b["wall_s"],
        batch_cpu_s=b["cpu_s"],
        serve_s=serve_s,
        bootstrap_s=bootstrap_s,
        warmup_s=warmup_s,
        input_bytes=input_bytes,
        warehouse_bytes=du(wh),
    )
    if tracer.enabled and "trace" in b:
        etl_layers(run, tracer, b, serve_tables, bootstrap_s)
    return {
        "setup_s": setup_s,
        "op_p50_s": b["wall_s"],
        "cpu_s_per_op": b["cpu_s"],
        "space_amp": space_amp,
    }


def check_etl(run: Run, spark, feed, wh: str, cfg) -> bool:
    """Served indicators equal the registered one-shot queries over the
    feed's latest-wins view of every event, and the published Derby
    MONTHLY_USAGE equals the served monthly_usage."""
    import checks
    import gen
    from dimagi_data_platform_spark.plans.etl import serve_indicator
    from dimagi_data_platform_spark.plans.queries import QUERIES

    ok = True
    try:
        oracle_dir = os.path.join(run.dir, "latest_view")
        os.makedirs(oracle_dir)
        gen.write(feed.latest_view(), os.path.join(oracle_dir, "events.parquet"))
        served = {}
        for name in SERVED:
            want = QUERIES[name](spark, oracle_dir).toPandas()
            served[name] = serve_indicator(spark, wh, name).toPandas()
            if checks.fingerprint(served[name]) != checks.fingerprint(want):
                run.note(f"check: served {name} differs from the one-shot query")
                ok = False
        pub = (
            spark.read.format("jdbc")
            .options(url=cfg.jdbc_url, dbtable="MONTHLY_USAGE", driver=cfg.jdbc_driver)
            .load()
            .toPandas()
        )
        mu = served["monthly_usage"].rename(columns=str.upper)
        if checks.fingerprint(pub) != checks.fingerprint(mu):
            run.note("check: Derby MONTHLY_USAGE differs from the served monthly_usage")
            ok = False
    except Exception:
        run.note(f"check: {traceback.format_exc()}")
        ok = False
    return ok


def etl_layers(run: Run, tracer, b: dict, serve_tables: dict, bootstrap_s: float) -> None:
    """Per-layer metrics of the timed batch and read."""
    from dimagi_data_platform_spark.plans.etl import INDICATOR_TABLES

    spark_layer(run, [b["trace"]])
    spans = tracer.op_spans(b["trace"]["index"])
    merges = [s for s in spans if s["layer"] == "sources.versioned.merge"]
    reads = [s for s in spans if s["layer"] == "sources.versioned.read"]
    jdbc = [s for s in spans if s["layer"] == "sources.jdbc.write"]
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    L = run.layer
    L.update({
        "plans.etl.self_s": b["wall_s"] - tracer.covered_s(spans),
        "plans.etl.bootstrap_s": bootstrap_s,
        "plans.etl.incr_vs_rebuild": b["wall_s"] / bootstrap_s,
        "sources.versioned.merge_s": dur(merges),
        "sources.versioned.merge_jobs": sum(s["jobs"] for s in merges),
        "sources.versioned.bytes_written": b["bytes_written"],
        "sources.versioned.write_amp": b["bytes_written"] / b["batch_bytes"],
        "sources.versioned.read_s": dur(reads),
        "sources.versioned.reads": len(reads),
        "sources.jdbc.write_s": dur(jdbc),
        "sources.incremental.rows": b["rows"],
        "sources.incremental.touched_user_frac": b["touched_user_frac"],
        "trace.op_p50_s": b["wall_s"],
    })
    for t in ("staging_events",) + INDICATOR_TABLES:
        L[f"sources.versioned.merge.{t}_s"] = dur(s for s in merges if s["name"] == t)
    for name, s in serve_tables.items():
        L[f"plans.etl.serve.{name}_s"] = s


# ---- query_iterative -------------------------------------------------------------


def run_queries(run: Run) -> dict:
    import checks

    sf_dir = os.path.join(run.dir, SF_TAG)
    shutil.copytree(SF_SRC, sf_dir)
    input_bytes = du(sf_dir)
    art_dir = os.path.join(ROOT, ".artifacts")
    drop_artifacts(art_dir)
    spark = run.start_spark()
    tracer = run.tracer
    from dimagi_data_platform_spark.plans.queries import QUERIES

    order = list(ITERATIVE)
    random.Random(run.seed).shuffle(order)
    expected = checks.load_fingerprints()
    bad: set[str] = set()
    warmup = {}
    # warm-up pass: untimed; its collected results are the output check
    for name in order:
        t0 = time.perf_counter()
        try:
            got = checks.fingerprint(QUERIES[name](spark, sf_dir).toPandas())
            if got != expected[name]:
                bad.add(name)
                run.note(f"check: {name} fingerprint {got} != oracle {expected[name]}")
        except Exception:
            bad.add(name)
            run.note(f"check: {name}: {traceback.format_exc()}")
        warmup[name] = time.perf_counter() - t0
        release(spark)
    arts_before = set(os.listdir(art_dir)) if os.path.isdir(art_dir) else set()

    setup_s = time.perf_counter() - T_START
    passes = []
    for p in range(QUERY_PASSES):
        ops = []
        for name in order:
            op_id = run.attempt()
            rec = {"name": name}
            c0, t0 = run.cpu(), time.perf_counter()
            try:
                with tracer.op(name) as op:
                    with tracer.span("plans.queries.build", name):
                        df = QUERIES[name](spark, sf_dir)
                    if tracer.enabled:
                        op.update(catalyst_phases(df))
                    with tracer.span("plans.queries.exec", name):
                        df.write.format("noop").mode("overwrite").save()
                rec.update(wall_s=time.perf_counter() - t0, cpu_s=run.cpu() - c0, trace=op)
                if name in bad:
                    run.fail(f"{name}: output check failed", op_id)
            except Exception:
                run.fail(f"{name}: {traceback.format_exc()}", op_id)
                rec.update(wall_s=time.perf_counter() - t0, cpu_s=run.cpu() - c0, trace=None)
            release(spark)
            ops.append(rec)
        passes.append(ops)
    arts_after = set(os.listdir(art_dir)) if os.path.isdir(art_dir) else set()
    artifact_bytes = sum(du(os.path.join(art_dir, a)) for a in arts_after if f"_{SF_TAG}_" in a)
    drop_artifacts(art_dir)

    pass_s = [sum(r["wall_s"] for r in ops) for ops in passes]
    run.report.update(pass_s=pass_s, order=order, warmup_s=warmup,
                      query_s={r["name"]: r["wall_s"] for r in passes[-1]}, input_bytes=input_bytes,
                      artifact_bytes=artifact_bytes)
    if tracer.enabled:
        query_layers(run, passes, len(arts_after - arts_before))
    return {
        "setup_s": setup_s,
        "op_p50_s": median(pass_s),
        "cpu_s_per_op": median([sum(r["cpu_s"] for r in ops) for ops in passes]),
        "space_amp": artifact_bytes / input_bytes,
    }


def release(spark) -> None:
    """Unpersist what a query left cached, so each query pays its own
    memory (as bench.py does between queries)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def drop_artifacts(art_dir: str) -> None:
    if os.path.isdir(art_dir):
        for a in os.listdir(art_dir):
            if f"_{SF_TAG}_" in a:
                shutil.rmtree(os.path.join(art_dir, a), ignore_errors=True)


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time from the DataFrame's
    QueryPlanningTracker; forcing the physical plan here plans the
    query once more than an untraced run does (tracing overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"{kv._1()}_s"
        if key in out:
            out[key] = kv._2().durationMs() / 1e3
    return out


def query_layers(run: Run, passes: list[list[dict]], artifact_builds: int) -> None:
    L = run.layer
    tracer = run.tracer
    per_pass = defaultdict(list)
    for ops in passes:
        recs = [r["trace"] for r in ops if r["trace"] is not None]
        spans = [s for t in recs for s in tracer.op_spans(t["index"])]
        for layer, key in (("plans.queries.build", "build"), ("plans.queries.exec", "exec")):
            mine = [s for s in spans if s["layer"] == layer]
            per_pass[f"{key}_s"].append(sum(s["end"] - s["start"] for s in mine))
            per_pass[f"{key}_jobs"].append(sum(s["jobs"] for s in mine))
        for k in ("analysis_s", "optimization_s", "planning_s"):
            per_pass[k].append(sum(t.get(k, 0.0) for t in recs))
        per_pass["wall"].append(sum(r["wall_s"] for r in ops))
    spark_layer(run, [_sum_records(r["trace"] for r in ops if r["trace"]) for ops in passes])
    m = {k: median(v) for k, v in per_pass.items()}
    L.update({
        "plans.queries.build_s": m["build_s"],
        "plans.queries.build_jobs": m["build_jobs"],
        "plans.queries.exec_s": m["exec_s"],
        "plans.queries.exec_jobs": m["exec_jobs"],
        "plans.queries.artifact_builds": artifact_builds,
        "catalyst.analysis_s": m["analysis_s"],
        "catalyst.optimization_s": m["optimization_s"],
        "catalyst.planning_s": m["planning_s"],
        "trace.op_p50_s": m["wall"],
    })
    for name in ITERATIVE:
        L[f"plans.queries.{name}_s"] = median(
            [r["wall_s"] for ops in passes for r in ops if r["name"] == name])


def _sum_records(records) -> dict:
    """A pass's totals over its queries' records; heap in use is the last
    reading, not a sum."""
    out = defaultdict(float)
    for r in records:
        for k, v in r.items():
            if isinstance(v, (int, float)):
                out[k] = v if k == "heap_used_bytes" else out[k] + v
    return dict(out)


# ---- per-layer metrics ----------------------------------------------------------------

SPARK_KEYS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.input_bytes": "input_bytes",
    "spark.output_bytes": "output_bytes",
    "spark.persisted_rdds_left": "persisted_rdds_left",
    "jvm.gc_s": "gc_s",
    "jvm.jit_s": "jit_s",
    "jvm.heap_used_bytes": "heap_used_bytes",
    "codegen.compiles": "codegen_compiles",
    "codegen.compile_s": "codegen_compile_s",
    "trace.self_s": "trace_self_s",
}


def spark_layer(run: Run, records: list[dict]) -> None:
    for metric, key in SPARK_KEYS.items():
        run.layer[metric] = median([r.get(key, 0.0) for r in records])


def per_layer_metrics() -> list[dict]:
    """The per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


# ---- main ------------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0,
                    help="accepted and ignored: every run does fixed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    run = Run(args.workload, args.seed, bool(args.trace))
    run.prepare_env()
    metrics = None
    try:
        if args.workload == "etl_hourly":
            metrics = run_etl(run)
        else:
            metrics = run_queries(run)
    except Exception:
        run.note(f"run: {traceback.format_exc()}")
    finally:
        if hasattr(run, "spark"):
            run.stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(run.dir, ignore_errors=True)
        runs_dir = os.path.dirname(run.dir)
        if os.path.isdir(runs_dir) and not os.listdir(runs_dir):
            os.rmdir(runs_dir)
    if metrics is None or run.attempted == 0:
        print("perfbench: the run did not complete", file=sys.stderr)
        return 1

    run.report.update(
        workload=run.workload, seed=run.seed, attempted=run.attempted, failed=run.failed,
        fail_frac=run.failed / run.attempted,
    )
    print("report " + json.dumps(run.report, sort_keys=True))
    for e in run.errors:
        print("error " + e.replace("\n", "\n      "))
    if args.trace:
        out = {m["name"]: {"value": float(run.layer.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in per_layer_metrics()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
