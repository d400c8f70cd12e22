"""Benchmark entry point.

    python3 perfbench/run.py --workload {neardup,table_lifecycle}
                             --seed N --seconds S --trace {0,1}

Builds the inputs from the seed under ``.perfbench/`` in the checkout,
starts one Spark session on ``local[nproc]``, runs one untimed warm-up
pass, then whole rounds of the workload until ``--seconds`` have passed
(at least one), checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 1`` it
also runs one traced round after the timed ones and reports the per-layer
metrics instead of the end-to-end ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("neardup", "table_lifecycle")
DELTA_OPS = ("append", "delete", "update", "merge_upsert", "read", "read_where",
             "read_changes", "optimize", "vacuum", "snapshot")
ACID_OPS = tuple("merge" if op == "merge_upsert" else op for op in DELTA_OPS)
OPERATOR_MODULES = ("dedup", "similarity", "text")


def process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the session to this machine's cores (the session
    factory defaults to local[32] and 32 shuffle partitions)."""
    shutil.rmtree(work, ignore_errors=True)
    dirs = {d: os.path.join(work, d) for d in ("spark-local", "tmp", "cache", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["XDG_CACHE_HOME"] = dirs["cache"]  # the shipped package zip
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
    }


def install_tracer(spark):
    """Wrap the layers' public functions.  Runs before the plan registry is
    imported, so plan modules bind the wrapped operator functions."""
    import importlib

    from delta_lake_validation_spark.sources.acid.table import AcidTable
    from delta_lake_validation_spark.sources.delta_log import DeltaTable
    from delta_lake_validation_spark.sources.fs import FileSystem
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    for name in OPERATOR_MODULES:
        mod = importlib.import_module(f"delta_lake_validation_spark.operators.{name}")
        for attr, fn in list(vars(mod).items()):
            if callable(fn) and not attr.startswith("_") and getattr(fn, "__module__", "") == mod.__name__:
                if isinstance(fn, type):
                    continue
                tracer.wrap(mod, attr, f"operators.{name}")
    for op in DELTA_OPS:
        tracer.wrap(DeltaTable, op, f"delta.{op}")
    for op in ACID_OPS:
        tracer.wrap(AcidTable, op, f"acid.{op}")
    for attr in ("list_files", "list_files_with_size"):
        tracer.wrap(FileSystem, attr, "fs.list", counter=lambda out: {"fs.files_listed": len(out)})
    return tracer


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and every process under it."""
    from pyspark import SparkContext

    from perfbench import procstat

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def timed_phase(workload, spark, tracer, seconds: float) -> list[dict]:
    """Whole rounds until ``seconds`` have passed; per-round wall, CPU
    and operation times."""
    from perfbench import procstat

    rounds = []
    start = time.perf_counter()
    while not rounds or time.perf_counter() - start < seconds:
        cpu0, t0 = procstat.cpu_seconds(), time.perf_counter()
        ops = workload.run_round(spark, tracer)
        rounds.append({
            "wall_s": time.perf_counter() - t0,
            "cpu_s": procstat.cpu_seconds() - cpu0,
            "ops": ops,
        })
    return rounds


def class_totals(ops) -> dict[str, float]:
    from perfbench.lifecycle import CLASSES

    return {f"lifecycle.{c}_s": sum(s for k, _, s in ops if k == c) for c in CLASSES}


def layer_metrics(tracer, workload, traced_round, untraced_wall, session_start_s, warmup_s):
    """Every per-layer metric; layers this workload does not touch read 0."""
    from perfbench import checks
    from perfbench.lifecycle import LifecycleWorkload

    spans = ["plans.build", "plans.execute", "pyds.read", "streaming.cdf", "fs.list"]
    spans += [f"operators.{m}" for m in OPERATOR_MODULES]
    spans += [f"delta.{op}" for op in DELTA_OPS] + [f"acid.{op}" for op in ACID_OPS]
    raw = tracer.metrics(spans)
    out = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "plans.build_s": raw["plans.build_s"],
        "plans.execute_s": raw["plans.execute_s"],
        "plans.eager_jobs": raw["plans.build.jobs"],
        "operators.jobs": tracer.jobs_within([f"operators.{m}" for m in OPERATOR_MODULES]),
    }
    for m in OPERATOR_MODULES:
        out[f"operators.{m}_s"] = raw[f"operators.{m}_s"]
    for k, v in raw.items():
        if k.startswith("spark."):
            out[k] = v
    for layer, ops in (("delta", DELTA_OPS), ("acid", ACID_OPS)):
        for op in ops:
            for suffix in ("_s", ".jobs", ".outside_jobs_s"):
                out[f"{layer}.{op}{suffix}"] = raw[f"{layer}.{op}{suffix}"]
    out["fs.list_calls"] = sum(1 for n, *_ in tracer.spans if n == "fs.list")
    out["fs.list_s"] = raw["fs.list_s"]
    out["fs.files_listed"] = raw.get("fs.files_listed", 0)
    out["pyds.read_s"] = raw["pyds.read_s"]
    out["streaming.cdf_s"] = raw["streaming.cdf_s"]
    log = {"delta.files_added": 0, "delta.files_removed": 0, "delta.cdc_files": 0,
           "delta.log_bytes": 0, "acid.files_added": 0, "acid.files_removed": 0}
    lifecycle = isinstance(workload, LifecycleWorkload)
    out.update(class_totals(traced_round["ops"] if lifecycle else []))
    out["lifecycle.write_amp"] = 0.0
    if lifecycle:
        tables = os.path.join(workload.work, "tables")
        log.update(checks.delta_log_counts(os.path.join(tables, "delta")))
        log.update(checks.acid_log_counts(os.path.join(tables, "acid")))
        out["lifecycle.write_amp"] = workload.write_amp(workload.results[-1])
    out.update(log)
    out["trace.overhead_s"] = traced_round["wall_s"] - untraced_wall
    return out


def unit(metric: str) -> str:
    if metric == "lifecycle.write_amp":
        return "ratio"
    if metric.endswith("_bytes"):
        return "bytes"
    return "s" if metric.endswith("_s") else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", args.workload)
    extra_conf = configure_env(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # fails here, before any output, where the program is not present
    from delta_lake_validation_spark.session import get_session

    from perfbench import procstat
    from perfbench.lifecycle import LifecycleWorkload
    from perfbench.neardup import NeardupWorkload

    workload = (LifecycleWorkload(work) if args.workload == "table_lifecycle"
                else NeardupWorkload(work))
    t0 = time.perf_counter()
    workload.make_inputs(args.seed)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_session("perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    try:
        tracer = install_tracer(spark)
        import delta_lake_validation_spark.plans  # noqa: F401  binds wrapped operators

        t0 = time.perf_counter()
        workload.warm_up(spark, tracer)
        warmup_s = time.perf_counter() - t0
        setup_s = process_age()

        with procstat.PeakRss() as rss:
            rounds = timed_phase(workload, spark, tracer, args.seconds)
        traced = None
        if args.trace:
            tracer.reset()
            tracer.enabled = True
            traced = timed_phase(workload, spark, tracer, 0)[0]
            tracer.enabled = False
            tracer.harvest()
            rounds_wall = statistics.median(r["wall_s"] for r in rounds)
            metrics = layer_metrics(tracer, workload, traced, rounds_wall,
                                    session_start_s, warmup_s)
        errors = workload.check()
    finally:
        shutdown(spark)

    attempted = sum(len(r["ops"]) for r in rounds + ([traced] if traced else []))
    if args.trace:
        report = {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}
    else:
        report = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(r["wall_s"] for r in rounds), "unit": "s"},
            "cpu_s": {"value": statistics.median(r["cpu_s"] for r in rounds), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        }
    detail = {"setup": {"inputs_s": inputs_s, "session_start_s": session_start_s,
                        "warmup_s": warmup_s, "setup_s": setup_s},
              "rounds": rounds, "errors": errors}
    if args.workload == "table_lifecycle":
        detail["class_totals"] = [class_totals(r["ops"]) for r in rounds]
    with open(os.path.join(ROOT, ".perfbench", f"{args.workload}-last.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(f"run took {process_age():.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": 0,
        "metrics": report,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
