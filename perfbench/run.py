"""Link-graph benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload pr_converge --seed 7 --seconds 5 --trace 0

Run from the repository root. The input is generated from the seed (numpy,
untimed, cached under ``perfbench/.cache``); then one Python process runs
one Spark job at a time on ``local[nproc]``: it sets up the session (several
times; the median is ``setup_s``) and repeats the workload's operation until
``--seconds`` have passed (at least once), checking every output against the
oracles. One operation on a small input runs first, untimed, to warm up
the JVM and the Python workers. The last stdout line is
one JSON object with the run's end-to-end metrics (``--trace 0``) or
per-layer metrics (``--trace 1``); lines before it print every metric by
name and unit. Scratch files live under ``perfbench/.work``, results and
traces under ``perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "3g"

END_TO_END = [("setup_s", "s"), ("build_s", "s"), ("compute_s", "s"),
              ("edges_per_s", "edges/s"), ("total_s", "s"), ("cpu_s", "cpu-s")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pr_converge", "pr_bulk_resume", "crawl_structure"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Everything the session needs, set before pyspark is imported.

    Python workers import ``pagerank_spark`` (pandas UDFs), so the checkout
    root goes on PYTHONPATH; every scratch path points inside ``work``."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    return len(os.sched_getaffinity(0))


def session_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + event_log
    return conf


def setup(cpus: int, work: str, input_dir: str, event_log: str | None = None):
    """Session up + input registered; returns (spark, input df, seconds)."""
    t0 = time.perf_counter()
    from pagerank_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus, extra_conf=session_conf(work, event_log))
    df = spark.read.parquet(os.path.join(input_dir, "input.parquet"))
    df.createOrReplaceTempView("input")
    return spark, df, time.perf_counter() - t0


def shutdown() -> None:
    """Stop Spark, then the gateway JVM, and wait for it (its Python
    workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pagerank_spark", "__init__.py")):
        print(f"perfbench: no pagerank_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", str(os.getpid()))
    try:
        return run(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    cpus = pin_environment(work)
    import gen
    import report
    from spans import Tracer, cpu_ticks, steal_pct, vm_hwm_mb
    from workloads import WORKLOADS, Ctx

    wl_cls = WORKLOADS[args.workload]
    cache = os.path.join(HERE, ".cache")
    input_dir = gen.materialize(cache, args.workload, args.seed, wl_cls.params)
    warm_dir = gen.materialize(cache, args.workload, args.seed, wl_cls.warm_params)

    host0 = cpu_ticks()
    # the traced run keeps the Spark event log on from its first session
    event_log = os.path.join(work, "eventlog") if args.trace else None
    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        spark, df, s = setup(cpus, work, input_dir, event_log)
        setups.append(s)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    wl, warm = wl_cls(input_dir), wl_cls(warm_dir, warm=True)  # oracles, untimed
    ctx = Ctx(spark, jvm_pid, spark.read.parquet(os.path.join(warm_dir, "input.parquet")),
              work, Tracer(spark, f"{args.workload}-{args.seed}", False))
    ops, attempted, failed = [], 0, 0

    def attempt(w=wl) -> bool:
        nonlocal attempted, failed
        try:
            r = w.op(ctx)
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            return False
        attempted += len(r.checks)
        bad = [k for k, ok in r.checks.items() if not ok]
        failed += len(bad)
        if bad:
            print(f"perfbench: check failed: {', '.join(bad)}", file=sys.stderr)
        ops.append(r)
        return not bad

    t_warm = time.perf_counter()
    warm_ok = attempt(warm)
    t_warm = time.perf_counter() - t_warm
    if warm_ok:
        ops.clear()
        ctx.input_df = df
        # a traced run times two untraced operations, so the last one is as
        # warm as the traced operation that follows it
        min_ops = 2 if args.trace else 1
        t_loop = time.perf_counter()
        while attempt() and (len(ops) < min_ops or time.perf_counter() - t_loop < args.seconds):
            pass
    timed = list(ops)

    layer = {}
    if args.trace and failed == 0:
        ctx.tracer = Tracer(spark, ctx.tracer.run_id, True)
        with ctx.tracer.span("sources.scan") as scan:
            df.write.format("noop").mode("overwrite").save()
        layer["sources.rows"] = df.count()
        if attempt():
            layer["session.jvm_peak_rss_mb"] = vm_hwm_mb(jvm_pid)
            spark.stop()  # flushes the event log
            layer.update(report.per_layer(ctx.tracer, ops[-1], event_log))
            layer.update({
                "session.start_s": setups[0], "sources.scan_s": scan.end - scan.start,
                "trace.overhead_s": ops[-1].total_s - timed[-1].total_s,
            })
    host1 = cpu_ticks()

    steal = steal_pct(host0, host1)
    error_rate = failed / attempted
    e2e = {}
    if timed:
        e2e = {
            "setup_s": median(setups),
            "build_s": median([r.build_s for r in timed]),
            "compute_s": median([r.compute_s for r in timed]),
            "edges_per_s": median([r.edges_per_s for r in timed]),
            "total_s": median([r.total_s for r in timed]),
            "cpu_s": median([r.cpu_s for r in timed]),
        }
    units = dict(END_TO_END)
    print(f"workload={args.workload} seed={args.seed} ops={len(timed)} "
          f"passes={[r.passes for r in timed]} setups_s={[round(s, 3) for s in setups]} "
          f"warmup_s={t_warm:.3f} "
          f"process_s={time.perf_counter() - T0:.3f}")
    for k, v in e2e.items():
        print(f"  {k:<34} {v:>14.4f} {units[k]}")
    print(f"  {'error_rate':<34} {error_rate:>14.4f} ratio ({failed}/{attempted})")
    print(f"  {'host.steal_pct':<34} {steal:>14.4f} %")
    if args.trace:
        layer.update({"host.steal_pct": steal, "error_rate": error_rate})
        report.print_layers(layer)
        report.write(HERE, args, layer, ctx.tracer)
        metrics = {k: {"value": layer[k], "unit": report.unit_of(k)}
                   for k in report.PER_LAYER if k in layer}
        complete = len(metrics) == len(report.PER_LAYER)
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        complete = len(metrics) == len(END_TO_END)
    print(json.dumps({"correct": failed == 0 and complete, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
