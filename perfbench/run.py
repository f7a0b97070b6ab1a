#!/usr/bin/env python3
"""Benchmark of sql_engine_spark, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The seed generates every input; the
program only reads the generated files. Every operation's output is
checked against DuckDB. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics when `--trace 0` and the per-layer metrics when
`--trace 1`. Lines before it print every metric by name with its unit.
A fuller record (host facts, inputs, failures, spans) is written under
`.perfbench/out/`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import Tracer  # noqa: E402

# The measured run is a child of the supervising process, which started
# first: set-up time counts from the supervisor's start.
_START_ENV = "PERFBENCH_START_MONO"
IMPORTED_AT_AGE_S = (
    time.monotonic() - float(os.environ[_START_ENV])
    if _START_ENV in os.environ
    else host.process_age_s()
)

WORK = os.path.join(ROOT, ".perfbench")
LOOP_WALL_CAP_S = 110.0  # keeps a run inside its 180 s limit
# A last resort against a hung run; a first run that generates its
# inputs may take longer than 180 s.
CHILD_TIMEOUT_S = 850.0
# Seconds the helpers get to exit on their own after the run ends.
EXIT_GRACE_S = 10.0
ADHOC_TABLE_SCALE = 0.01
ADHOC_SHARDS = 64
# The retrieval pass costs the same at 0.05 as at 0.1 (its time is jobs
# and first compiles, not rows); the smaller input halves the check.
BATCH_SCALE = {"batch_retrieval": 0.05, "batch_headline": 0.1}
WARM_SCALE = 0.002

WORKLOADS = ["adhoc_sql", "adhoc_refresh", "batch_retrieval", "batch_headline"]

# The metrics of the final JSON line, with units.
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "tables.rewrite_ms": "ms",
    "tables.views_registered": "count",
    "tables.inference_jobs": "count",
    "engine.analyze_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "result.fetch_ms": "ms",
    "result.rows": "count",
    "result.jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "io.load_ms": "ms",
    "io.load_calls": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_rows": "count",
    "sharedcost.build_s": "s",
    "sharedcost.misses": "count",
    "sharedcost.hits": "count",
    "self.tables_s": "s",
    "self.engine_s": "s",
    "self.result_s": "s",
    "self.queries_s": "s",
    "self.io_s": "s",
    "self.sharedcost_s": "s",
    "self.exec_s": "s",
    "self.bench_s": "s",
    "trace.overhead_pct": "%",
}
# Per-layer figures printed and recorded but left out of the result line:
# only `adhoc_refresh` writes, and it is not in the gated set; the ledger
# count also holds builds nested inside other builds.
EXTRA_LAYER = {
    "sinks.write_ms": "ms",
    "sinks.bytes": "bytes",
    "sinks.files": "count",
    "self.sinks_s": "s",
    "sharedcost.ledger_records": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---- environment ---------------------------------------------------------


def prepare_env(run_dir: str) -> dict[str, str]:
    """Keep every file Spark, the JVM, DuckDB and Python write inside the
    checkout; returns the Spark conf the session is started with."""
    for sub in ("tmp", "java", "spark", "duckdb", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={os.path.join(run_dir, 'java')} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.nproc()))
    os.environ.setdefault("SPARK_GRAFT_DUCKDB_MEM", "2GB")
    os.environ["SPARK_GRAFT_DUCKDB_TMP"] = os.path.join(run_dir, "duckdb")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit starts a launcher JVM before the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- data ------------------------------------------------------------------


def make_inputs(workload: str, seed: int) -> dict:
    """Generate (or find in the cache) the inputs of a workload in a
    spawned child process, so generation never counts toward this
    process's peak memory, whether or not the cache was warm."""
    import concurrent.futures
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
        return pool.submit(_make_inputs, workload, seed).result()


def _make_inputs(workload: str, seed: int) -> dict:
    import gen

    cache = os.path.join(WORK, "data")
    if workload.startswith("adhoc"):
        tdir, tman = gen.ensure_tables(cache, seed, ADHOC_TABLE_SCALE)
        sdir, sman = gen.ensure_shards(cache, seed, ADHOC_SHARDS + 1)
        return {"tables": tdir, "shards": sdir, "manifests": [tman, sman]}
    tdir, tman = gen.ensure_tables(cache, seed, BATCH_SCALE[workload])
    out = {"tables": tdir, "manifests": [tman]}
    if workload == "batch_headline":
        wdir, wman = gen.ensure_tables(cache, seed, WARM_SCALE)
        out["warm"] = wdir
        out["manifests"].append(wman)
    return out


def adhoc_paths(seed: int, inputs: dict, shard_root: str):
    import numpy as np

    import adhoc

    names = sorted(n for n in os.listdir(shard_root) if n.endswith(".parquet"))
    shards = [os.path.join(shard_root, n) for n in names]
    tables = {t: os.path.join(inputs["tables"], f"{t}.parquet") for t in adhoc.TABLES}
    # The last shard is kept out of the mix for the warm-up.
    return adhoc.Paths(tables, shards[:-1], np.random.default_rng([seed, 5])), shards[-1]


# ---- set-up ------------------------------------------------------------------


def setup(workload: str, inputs: dict, conf: dict, tracer: Tracer):
    """Session, registry and warm-up: everything before the first timed
    operation except data generation. Returns (spark, queries, timings)."""
    timings = {}
    t0 = time.perf_counter()
    import sql_engine_spark.session as session

    spark = session.get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    timings["session.start_s"] = time.perf_counter() - t0

    pairs = []
    if tracer.enabled:
        import layers

        tracer.attach(spark)
        tracer.install_listener(spark)
        pairs = layers.instrument_before_registry(tracer)
    t1 = time.perf_counter()
    from sql_engine_spark.registry import all_queries

    qs = all_queries()
    timings["registry.import_s"] = time.perf_counter() - t1
    if tracer.enabled:
        layers.instrument_after_registry(tracer, pairs)

    t2 = time.perf_counter()
    if workload.startswith("adhoc"):
        from sql_engine_spark.engine import Engine

        import adhoc

        eng = Engine(spark)
        for sql in adhoc.warm_up_sql(inputs["warm_shard"]):
            eng.execute(sql)
    elif workload == "batch_headline":
        import batch

        batch.warm_up(spark, qs, batch.HEADLINE, inputs["warm"], batch.SINKS[workload])
    timings["warmup_s"] = time.perf_counter() - t2
    if tracer.enabled:
        tracer.reset()
    return spark, qs, timings


# ---- workloads -----------------------------------------------------------------


def run_adhoc(spark, workload: str, seed: int, seconds: float, paths, tracer: Tracer, run_dir: str):
    import numpy as np

    import adhoc
    import sql_engine_spark.sinks as sinks
    from sql_engine_spark.engine import Engine

    eng = Engine(spark)
    gen_q = adhoc.QueryGen(np.random.default_rng([seed, 3]), paths)
    mix = None
    if workload == "adhoc_refresh":
        import pyarrow.parquet as pq

        states = {}
        for s in paths.shards:
            part = os.path.join(s, "part-00000.parquet")
            states[s] = adhoc.ShardState(
                rows=pq.read_metadata(part).num_rows,
                key0=int(pq.read_table(part, columns=["k"])["k"][0].as_py()),
            )
        mix = adhoc.RefreshMix(np.random.default_rng([seed, 4]), paths, states)
    oracle = adhoc.Oracle(os.path.join(run_dir, "duckdb"))
    reads, writes, failures = [], [], []
    busy = 0.0
    loop_t0 = time.perf_counter()
    try:
        while busy < seconds:
            if time.perf_counter() - loop_t0 > LOOP_WALL_CAP_S:
                break
            op = tracer.next_op()
            if mix is not None and mix.is_write():
                path, new = mix.plan_write()
                t0 = time.perf_counter()
                with tracer.span("bench"):
                    try:
                        sinks.write_table(adhoc.shard_frame(spark, new, salt=seed * 1000 + op), path)
                        err = None
                    except Exception as exc:  # noqa: BLE001 - a failed operation
                        err = f"{type(exc).__name__}: {str(exc)[:300]}"
                dt = time.perf_counter() - t0
                writes.append(dt)
                busy += dt
                if err is None:
                    mix.done(path, new)
                    if tracer.enabled:
                        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
                        tracer.counts["sinks.files"] += len(parts)
                        tracer.counts["sinks.bytes"] += sum(
                            os.path.getsize(os.path.join(path, f)) for f in parts
                        )
                else:
                    failures.append({"op": op, "kind": "write", "path": path, "error": err})
                continue
            sql = gen_q.next(prefer=mix.prefer if mix else None)
            t0 = time.perf_counter()
            with tracer.span("bench"):
                try:
                    res, err = eng.execute(sql), None
                except Exception as exc:  # noqa: BLE001 - a failed operation
                    res, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t0
            reads.append(dt)
            busy += dt
            if err is None:
                try:
                    o_cols, o_rows = oracle.run(sql)
                    err = adhoc.check(res.columns, res.rows, res.truncated, o_cols, o_rows)
                except Exception as exc:  # noqa: BLE001 - the check itself failed
                    err = f"oracle raised {type(exc).__name__}: {str(exc)[:300]}"
            if err is not None:
                failures.append({"op": op, "kind": "read", "sql": sql, "error": err})
    finally:
        oracle.close()
    return {"reads": reads, "writes": writes, "failures": failures, "busy_s": busy,
            "attempted": len(reads) + len(writes)}


def run_batch(spark, qs, workload: str, inputs: dict, tracer: Tracer, jvm_pid: int):
    import batch

    names = batch.WORKLOAD_QUERIES[workload]
    sink = batch.SINKS[workload]
    t0 = time.perf_counter()
    lat, failures, results = batch.timed_pass(spark, qs, names, inputs["tables"], sink, tracer)
    pass_s = time.perf_counter() - t0
    # Peak memory before the check, whose DuckDB runs in this process.
    rss = host.peak_rss_mb(jvm_pid)
    failures += batch.check(spark, qs, names, inputs["tables"], results, {f["op"] for f in failures})
    return {"reads": lat, "writes": [], "failures": failures, "busy_s": sum(lat), "rss": rss,
            "batch_s": pass_s, "attempted": len(names), "per_query_s": dict(zip(names, lat))}


# ---- metrics -----------------------------------------------------------------------


def end_to_end(out: dict, setup_s: float, rss_mb: float) -> dict:
    import stats

    m = {
        "setup_s": setup_s,
        "query_p50_ms": stats.median(out["reads"]) * 1e3,
        "ops_per_s": out["attempted"] / out["busy_s"],
        "peak_rss_mb": rss_mb,
        "failed_ratio": len({f["op"] for f in out["failures"]}) / out["attempted"],
    }
    try:
        m["query_p95_ms"] = stats.percentile(out["reads"], 0.95) * 1e3
    except stats.TooFewSamples as exc:
        out["p95_note"] = str(exc)
    if out["writes"]:
        m["write_p50_ms"] = stats.median(out["writes"]) * 1e3
    if "batch_s" in out:
        m["batch_s"] = out["batch_s"]
    return m


# Units of every end-to-end metric. Those beyond END_TO_END are printed
# and recorded but kept off the result line: each is missing on some
# gated workload, except peak_rss_mb, whose spread between seeds passed
# the largest allowed bound (the JVM's peak follows G1's adaptive heap
# sizing under the program's default 8 GB heap).
UNITS = {**END_TO_END, "peak_rss_mb": "MB", "query_p95_ms": "ms", "write_p50_ms": "ms",
         "batch_s": "s", "failed_ratio": "ratio"}


def per_layer(tracer: Tracer, timings: dict, busy_s: float) -> dict:
    tracer.drain()
    jobs = tracer.job_counts()
    self_t = tracer.self_times()
    tot = tracer.total_times()
    c = tracer.counts

    def j(layer: str, key: str = "jobs") -> int:
        return jobs.get(layer, {}).get(key, 0)

    m = {
        "session.start_s": timings["session.start_s"],
        "registry.import_s": timings["registry.import_s"],
        "tables.rewrite_ms": tot.get("tables", 0.0) * 1e3,
        "tables.views_registered": c["tables.views_registered"],
        "tables.inference_jobs": j("tables"),
        "engine.analyze_ms": self_t.get("engine", 0.0) * 1e3,
        "catalyst.analysis_ms": tracer.catalyst.get("analysis", 0.0),
        "catalyst.optimization_ms": tracer.catalyst.get("optimization", 0.0),
        "catalyst.planning_ms": tracer.catalyst.get("planning", 0.0),
        "result.fetch_ms": tot.get("result", 0.0) * 1e3,
        "result.rows": c["result.rows"],
        "result.jobs": j("result"),
        "queries.build_s": tot.get("queries", 0.0),
        "queries.build_jobs": j("queries") + j("io") + j("sharedcost"),
        "io.load_ms": tot.get("io", 0.0) * 1e3,
        "io.load_calls": c["io.load_calls"],
        "exec.s": tot.get("exec", 0.0),
        "exec.jobs": j("exec"),
        "exec.stages": j("exec", "stages"),
        "exec.tasks": j("exec", "tasks"),
        "exec.shuffle_bytes": tracer.plan.get("shuffle_bytes", 0.0),
        "exec.spill_bytes": tracer.plan.get("spill_bytes", 0.0),
        "exec.python_rows": tracer.plan.get("python_rows", 0.0),
        "sharedcost.build_s": c["sharedcost.build_s"],
        "sharedcost.misses": c["sharedcost.misses"],
        "sharedcost.hits": c["sharedcost.calls"] - c["sharedcost.misses"],
        "sharedcost.ledger_records": c["sharedcost.records"],
        "sinks.write_ms": tot.get("sinks", 0.0) * 1e3,
        "sinks.bytes": c["sinks.bytes"],
        "sinks.files": c["sinks.files"],
        "trace.overhead_pct": 100.0 * tracer.overhead_s / busy_s if busy_s else 0.0,
    }
    for layer in ("tables", "engine", "result", "queries", "io", "sharedcost", "exec", "sinks", "bench"):
        m[f"self.{layer}_s"] = self_t.get(layer, 0.0)
    return m


def untraced_twin(workload: str, seed: int) -> dict | None:
    """The untraced record of the same workload and seed, if one exists."""
    try:
        with open(os.path.join(WORK, "out", f"{workload}-seed{seed}-trace0.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


# ---- main ------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sql_engine_spark", "__init__.py")):
        print(f"perfbench: no sql_engine_spark package in {ROOT}; run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    if _START_ENV in os.environ:
        return run(args, os.environ["PERFBENCH_RUN_DIR"])
    return supervise(sys.argv[1:] if argv is None else argv)


class _Interrupted(Exception):
    pass


def _raise_interrupted(signum, _frame):
    raise _Interrupted(signum)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process that leads a session of its
    own, then end every process of that session and wait for each before
    returning, on every path out: a normal end, a failure, a timeout or a
    signal to this process."""
    import procs

    start = time.monotonic() - host.process_age_s()
    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    procs.set_subreaper()
    env = dict(os.environ, PERFBENCH_START_MONO=repr(start), PERFBENCH_RUN_DIR=run_dir)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _raise_interrupted)
    rc, terminate = 1, True
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                                 env=env, start_new_session=True)
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
        terminate = False
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S:.0f} s; stopped", file=sys.stderr)
    except _Interrupted as exc:
        rc = 128 + exc.args[0]
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if child is not None:
            killed = procs.end_session(child.pid, EXIT_GRACE_S, terminate=terminate)
            if killed:
                print(f"perfbench: killed {len(killed)} process(es) left by the run",
                      file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
    return rc


def run(args, run_dir: str) -> int:
    conf = prepare_env(run_dir)
    ticks0 = host.cpu_ticks()
    facts = {"seed": args.seed, "workload": args.workload, "loadavg_start": host.loadavg(),
             **host.static_facts()}
    wl = args.workload

    t_gen = time.perf_counter()
    inputs = make_inputs(wl, args.seed)
    paths = None
    if wl.startswith("adhoc"):
        shard_root = inputs["shards"]
        if wl == "adhoc_refresh":
            # Overwrites change the shards: work on a copy.
            shard_root = os.path.join(run_dir, "shards")
            shutil.copytree(inputs["shards"], shard_root)
        paths, inputs["warm_shard"] = adhoc_paths(args.seed, inputs, shard_root)
    gen_s = time.perf_counter() - t_gen

    tracer = Tracer(enabled=bool(args.trace))
    t_setup = time.perf_counter()
    spark, qs, timings = setup(wl, inputs, conf, tracer)
    setup_s = IMPORTED_AT_AGE_S + time.perf_counter() - t_setup
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    facts.update(host.spark_facts(spark))

    if wl.startswith("adhoc"):
        out = run_adhoc(spark, wl, args.seed, args.seconds, paths, tracer, run_dir)
    else:
        out = run_batch(spark, qs, wl, inputs, tracer, jvm_pid)
    rss = out.get("rss") or host.peak_rss_mb(jvm_pid)
    facts["peak_rss_mb_python"], facts["peak_rss_mb_jvm"] = rss

    layer = per_layer(tracer, timings, out["busy_s"]) if args.trace else {}
    facts["calibration_s"] = host.calibrate(spark)
    facts["loadavg_end"] = host.loadavg()
    facts["steal_pct"] = host.steal_pct(ticks0, host.cpu_ticks())
    stop_spark(spark)

    e2e = end_to_end(out, setup_s, sum(rss))
    failed = len({f["op"] for f in out["failures"]})
    record = {
        "run_wall_s": host.process_age_s(),
        "host": facts,
        "inputs": {"generate_s": gen_s, "manifests": inputs["manifests"]},
        "setup_timings": timings,
        "end_to_end": e2e,
        "reads": len(out["reads"]),
        "writes": len(out["writes"]),
        "attempted": out["attempted"],
        "failed": failed,
        "failures": out["failures"],
        "per_query_s": out.get("per_query_s"),
        "read_ms": [round(x * 1e3, 3) for x in out["reads"]],
        "write_ms": [round(x * 1e3, 3) for x in out["writes"]],
        "p95_note": out.get("p95_note"),
    }
    if args.trace:
        record["per_layer"] = layer
        record["listener_errors"] = tracer.listener_errors[:20]
        twin = untraced_twin(wl, args.seed)
        if twin:
            base = twin["end_to_end"]
            record["vs_untraced"] = {
                k: e2e[k] / base[k] - 1.0 for k in ("query_p50_ms", "ops_per_s") if base.get(k)
            }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{wl}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.span_records(), f)

    # Report: every metric by name with its unit, then the result line.
    print(f"workload {wl} seed {args.seed} trace {args.trace}: {len(out['reads'])} reads, "
          f"{len(out['writes'])} writes, {failed}/{out['attempted']} failed")
    for f in out["failures"][:10]:
        print(f"  failure: {json.dumps(f, default=str)[:400]}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {UNITS[k]}")
    if out.get("p95_note"):
        print(f"  query_p95_ms not reported: {out['p95_note']}")
    for k, v in layer.items():
        print(f"  {k} = {v:.6g} {PER_LAYER.get(k) or EXTRA_LAYER[k]}")
    for k, v in record.get("vs_untraced", {}).items():
        print(f"  trace.vs_untraced.{k} = {100.0 * v:+.3g} %")
    print(f"  record: {os.path.relpath(stem, ROOT)}.json")
    names = PER_LAYER if args.trace else END_TO_END
    src = layer if args.trace else e2e
    metrics = {k: {"value": float(src[k]), "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": failed == 0, "attempted": out["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
