"""epic_pandas_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curation|ingest|tpch --seed N \
        --seconds S --trace 0|1

Generates the workload's inputs from the seed with
``scripts/gen_scale_data.gen``, starts the engine's session, runs two
untimed warm-up passes (a cold one whose outputs are checked against
DuckDB, then one down the timed path), then times as many whole passes of
the workload as fit in ``--seconds`` (at least one). The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
See perfbench/README.md for every metric and workload.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload -> generator scale factor, tables, and the workload's own sizes
WORKLOADS = {
    "tpch": {"sf": 0.01, "tables": ["region", "nation", "customer", "supplier",
                                    "part", "orders", "lineitem"]},
    "curation": {"sf": 0.01, "tables": ["documents"]},
    "ingest": {"sf": 0.01, "tables": ["events"], "batches": 2, "batch_rows": 120},
}

END_TO_END = {
    "setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "op_p50_s": "s",
    "op_p90_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.warmup_s": "s",
    "session.reset_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "sources.load_s": "s", "sources.ingest_s": "s", "sources.dump_s": "s",
    "sources.bytes_written_mb": "MB", "sources.write_amp": "ratio",
    "operators.upsert_s": "s", "operators.value_counts_s": "s",
    "functions.text_s": "s", "extensions.dedup_s": "s", "extensions.curation_s": "s",
    "streaming.run_s": "s", "streaming.epochs": "count", "streaming.batch_s": "s",
    "spark.action_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.failed_tasks": "count",
    "spark.error_log_lines": "count", "fail_ratio": "ratio",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Environment the session inherits; must run before pyspark starts a JVM."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # get_spark defaults to a 16g driver. The inputs are small, and on a
    # host that shares its memory a smaller heap is touched less: 1g ran
    # as fast as 2g with 350 MB less peak RSS
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # Python workers import the package to unpickle UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p)
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM (the spark-submit launcher too): temp files inside the run's
    # directory, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]).strip()


def git_commit() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def generate(name: str, seed: int, data_dir: str, sf_scale: float = 1.0) -> dict:
    import pyarrow.parquet as pq
    from gen_scale_data import gen

    spec = WORKLOADS[name]
    with contextlib.redirect_stdout(sys.stderr):
        gen(spec["sf"] * sf_scale, data_dir, seed=seed, tables=set(spec["tables"]))
    tables = {}
    for t in spec["tables"]:
        path = os.path.join(data_dir, f"{t}.parquet")
        tables[t] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                     "bytes": os.path.getsize(path)}
    return tables


def instrument_loaders(tracer) -> None:
    """Traced runs only: wrap the table-read entry points (the session's
    ``load_table`` and ``sources.io.load``) wherever the engine's modules
    imported them, so reads made while plans build are timed as
    ``sources.load_s``."""
    from epic_pandas_spark import session
    from epic_pandas_spark.sources import io

    wrapped = {}
    for fn in (session.load_table, io.load):
        @functools.wraps(fn)
        def wrapper(*args, _fn=fn, **kwargs):
            with tracer.span("sources.load_s", _fn.__name__):
                return _fn(*args, **kwargs)
        wrapped[id(fn)] = (fn, wrapper)
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("epic_pandas_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and every process under it
    (the Python daemon and workers) and wait until all are gone."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def make_workload(name, spark, tracer, data_dir, work, seed, tables, corrupt):
    import workloads as wl

    rows = {t: v["rows"] for t, v in tables.items()}
    if name == "tpch":
        return wl.QueryWorkload(spark, tracer, data_dir, work, dict.fromkeys(wl.TPCH_OPS),
                                rows, "lineitem", corrupt)
    if name == "curation":
        return wl.QueryWorkload(spark, tracer, data_dir, work, wl.CURATION_OPS,
                                rows, "documents", corrupt)
    spec = WORKLOADS["ingest"]
    return wl.IngestWorkload(spark, tracer, data_dir, work, seed, rows,
                             spec["batches"], spec["batch_rows"], corrupt)


def run(args, work: str, driver_log: str) -> dict:
    """Everything that needs the session. Returns the result line."""
    tables = generate(args.workload, args.seed, os.path.join(work, "data"), args.sf_scale)
    data_dir = os.path.join(work, "data")

    import numpy as np

    from epic_pandas_spark.session import get_spark, load_table
    from spans import Tracer, peak_rss_mb

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        tracer = Tracer(spark, enabled=False)
        workload = make_workload(args.workload, spark, tracer, data_dir, work,
                                 args.seed, tables, args.corrupt)
        t2 = time.perf_counter()
        load_table(spark, data_dir, workload.first_table).count()
        t3 = time.perf_counter()
        if args.trace:
            instrument_loaders(tracer)

        # warm-up, untimed: a cold pass whose outputs are checked, then one
        # pass down the timed path, so the first timed pass is not still
        # warming the JVM (it ran 20-40% slower than the ones after it)
        tracer.enabled = bool(args.trace)
        t_w = time.perf_counter()
        workload.prepare()
        passes = [workload.run_pass(0, warmup=True)]
        warmup_s = time.perf_counter() - t_w - passes[0].check_s
        passes.append(workload.run_pass(1, warmup=False))
        warm_counts = tracer.take_counts()

        # timed passes: as many whole passes as fit in --seconds, judged by
        # the previous pass, and at least one. A traced run alternates
        # untraced and traced passes and runs at least one of each.
        timed, traced, layer_counts = [], [], []
        t_start = time.perf_counter()
        last = 0.0
        while (not timed or (args.trace and not traced)
               or time.perf_counter() - t_start + last <= args.seconds):
            on = bool(args.trace) and len(traced) < len(timed)
            tracer.enabled = on
            res = workload.run_pass(len(passes), warmup=False)
            passes.append(res)
            last = res.wall_s
            if on:
                traced.append(res)
                layer_counts.append(tracer.take_counts())
            else:
                timed.append(res)
                tracer.take_counts()
        peak = peak_rss_mb()
        versions = {"spark": spark.version,
                    "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    finally:
        if spark is not None:
            stop_session(spark)

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    job_s = [p.wall_s for p in timed]
    ops = [s for p in timed for s in p.op_s.values()]
    with open(driver_log, errors="replace") as f:
        error_lines = sum(" ERROR " in line for line in f)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "warmup_s": warmup_s, "settle_s": passes[1].wall_s,
        "check_s": sum(p.check_s for p in passes),
        "passes_timed": len(timed), "passes_traced": len(traced),
        "op_samples": len(ops), "ops_per_pass": len(timed[0].op_s) if timed else 0,
        "rows_per_pass": timed[0].rows_read if timed else 0,
        "job_s": job_s,
        "warmup_op_s": passes[0].op_s,
        "op_median_s": {n: statistics.median(p.op_s[n] for p in timed if n in p.op_s)
                        for n in (timed[0].op_s if timed else {})},
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            **versions,
            "python": platform.python_version(), "git_commit": git_commit(),
            "tables": tables,
        },
        "errors": [e for p in passes for e in p.errors][:20],
    }
    print(json.dumps({"detail": detail}))

    if not args.trace:
        metrics = {
            "setup_s": t1 - t0 + t3 - t2,
            "job_s": statistics.median(job_s),
            "rows_per_s": timed[0].rows_read / statistics.median(job_s),
            "op_p50_s": np.percentile(ops, 50),
            "op_p90_s": np.percentile(ops, 90),
            "peak_rss_mb": peak,
        }
        units = END_TO_END
    else:
        layer = {k: statistics.median(c.get(k, 0.0) for c in layer_counts)
                 for k in PER_LAYER}
        delta = statistics.median(c.get("sources.delta_mb", 0.0) for c in layer_counts)
        layer.update({
            "session.start_s": t1 - t0,
            "session.warm_s": t3 - t2,
            "session.warmup_s": warmup_s,
            "sources.write_amp": layer["sources.bytes_written_mb"] / delta if delta else 0.0,
            "spark.failed_tasks": sum(c.get("spark.failed_tasks", 0.0)
                                      for c in [warm_counts, *layer_counts]),
            "spark.error_log_lines": error_lines,
            "fail_ratio": failed / attempted,
            "trace.overhead_s": statistics.median(p.wall_s for p in traced)
            - statistics.median(job_s),
        })
        tracer.dump(os.path.join(args.trace_dir, f"{args.workload}-seed{args.seed}.json"),
                    {"detail": detail})
        metrics, units = layer, PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: shrink the inputs; damage one checked result
    ap.add_argument("--sf-scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    missing = [p for p in ("epic_pandas_spark/session.py", "scripts/gen_scale_data.py",
                           "scripts/oracle_check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the engine, missing {missing}")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    args.trace_dir = os.path.join(base, "traces")
    os.makedirs(args.trace_dir, exist_ok=True)
    os.makedirs(work)
    prepare_env(work)
    driver_log = os.path.join(work, "driver.log")
    # the JVM inherits fd 2: its log lines land in driver_log, where the
    # ERROR lines are counted
    saved_err = os.dup(2)
    try:
        with open(driver_log, "w") as f:
            os.dup2(f.fileno(), 2)
        result = run(args, work, driver_log)
    except BaseException:
        os.dup2(saved_err, 2)
        with open(driver_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise
    finally:
        os.dup2(saved_err, 2)
        os.close(saved_err)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
