"""Run one workload of the archive-lifecycle benchmark.

    python3 perfbench/run.py --workload sip_build --seed 1 --seconds 1 --trace 0

Runs from the root of a source checkout. Set-up is one cold start of
the session (JVM launch included), input generation from the seed,
preparation, and one untimed warm-up op; then ops run back to back,
one client, for ``--seconds`` (at least MIN_OPS). Every op verifies its own
output. The last line of standard output is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics from a traced pass with
``--trace 1``. Exits with code 2, printing no result, when the program
is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_OPS = 1
DRIVER_MEM = "2g"
WORKLOADS = ("sip_build", "corpus_dedup")


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "loadavg": os.getloadavg()}


def configure_env(workdir: str) -> None:
    """Spark settings for this host, and keep every file the run writes
    inside the checkout."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    # get_spark defaults to a 16g driver, more than a 15 GB host has.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import razulibs_spark and perfbench from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def timed_ops(wl, spark, ctx, seconds: float, tr, first: int,
              min_ops: int = MIN_OPS) -> list[dict]:
    """Closed loop, one client: start ops until ``seconds`` have passed
    (at least ``min_ops``). Returns one record per op."""
    from perfbench import procstat
    from perfbench.workloads import bytes_written_since

    recs = []
    start = time.perf_counter()
    i = first
    while len(recs) < min_ops or time.perf_counter() - start < seconds:
        cpu0 = procstat.cpu_snapshot()
        start_ns = time.time_ns()
        tr.begin_op(i)
        t0 = time.perf_counter()
        res, errs = {}, []
        try:
            res = wl.run_op(spark, ctx, i, tr)
            errs = wl.verify(spark, ctx, res)
        except Exception:  # an op that raises counts as failed; the run goes on
            errs = [traceback.format_exc()]
        t1 = time.perf_counter()
        layers = tr.end_op(t1 - t0)
        cpu1 = procstat.cpu_snapshot()
        written = bytes_written_since(res.get("out_roots", []), start_ns)
        wl.cleanup(ctx, i)
        for e in errs:
            print(f"op {i} FAILED: {e}", file=sys.stderr)
        recs.append({"op_s": t1 - t0, "ok": not errs, "written": written,
                     "layers": layers, **procstat.cpu_delta(cpu0, cpu1)})
        i += 1
    return recs


def setup(wl, seed: int, workdir: str):
    """Start the session (launching the JVM), generate the inputs and
    prepare the state the ops start from. Returns the session, the
    context, the set-up time and the session-start time."""
    from perfbench.trace import NullTracer
    from perfbench.workloads import Ctx
    from razulibs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start = time.perf_counter() - t0
    ctx = Ctx(os.path.join(workdir, "setup"), seed)
    wl.generate(ctx)
    wl.prepare(spark, ctx, NullTracer())
    return spark, ctx, time.perf_counter() - t0, start


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from perfbench import procstat

    pids = procstat.descendants()
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(procstat.alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description="archive-lifecycle benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import razulibs_spark.session  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import procstat
    from perfbench.trace import NullTracer
    from perfbench.workloads import WORKLOADS as IMPL

    wl = IMPL[args.workload]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(workdir)
    host = host_info()
    spark = None
    try:
        spark, ctx, setup_time, start_time = setup(wl, args.seed, workdir)
        with procstat.RssSampler() as rss:
            warm = timed_ops(wl, spark, ctx, 0, NullTracer(), first=-1, min_ops=1)
            rss.mark()
            recs = timed_ops(wl, spark, ctx, args.seconds, NullTracer(), first=0)
        info = {"workload": args.workload, "seed": args.seed, "host": host,
                "planted": ctx.summary, "setup_s": setup_time,
                "warmup_op_s": warm[0]["op_s"],
                "op_s": [round(r["op_s"], 4) for r in recs],
                "cpu": [{k: round(r[k], 2) for k in ("jvm_cpu_s", "pyworker_cpu_s")}
                        for r in recs],
                "peak_rss_mb": round(rss.peak / 2**20)}
        print(json.dumps(info))
        attempted = len(recs) + len(warm)
        failed = sum(not r["ok"] for r in recs + warm)
        if args.trace:
            from perfbench.trace import Tracer, layer_metrics

            tr = Tracer(spark, workdir)
            traced = timed_ops(wl, spark, ctx, args.seconds, tr, first=len(recs))
            tr.write(os.path.join(ROOT, ".perfbench_out",
                                  f"spans-{args.workload}-{args.seed}.json"))
            attempted += len(traced)
            failed += sum(not r["ok"] for r in traced)
            metrics = layer_metrics(traced, recs, start_time)
        else:
            metrics = {
                "setup_s": (setup_time + warm[0]["op_s"], "s"),
                "op_s": (med([r["op_s"] for r in recs]), "s"),
                "cpu_s": (med([r["jvm_cpu_s"] + r["pyworker_cpu_s"] for r in recs]), "s"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
                "stored_bytes_ratio": (med([r["written"] for r in recs]) / wl.input_bytes(ctx), "ratio"),
                "ops_ok_frac": ((attempted - failed) / attempted, "frac"),
            }
        for k, (v, u) in metrics.items():
            print(f"{k:40s} {v:14.6g} {u}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
