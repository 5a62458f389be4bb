"""Benchmark of the rag-spark build and query CLI.

    python3 perfbench/run.py --workload build|ingest|query --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one client thread, Spark on
``local[<usable cores>]``. Prints the environment as one JSON line, then,
as the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Workloads, metrics and known defects: perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

# name -> (class name, keyword arguments). BENCHMARK.json lists ingest and
# query; build is run by hand (sizes and the reasons: NOTES.md)
WORKLOADS = {
    # shipped defaults but --dim 128: the mock embedder expression, fixed
    # chunker 380/0, llamastack-faiss store; a few skewed pages per op
    "build": ("Build", dict(dim=128, pages=6, median_sections=2, sigma=0.6,
                            words=(40, 40), unit="chunks")),
    # embedding made a small share: many small pages per op
    "ingest": ("Build", dict(dim=4, pages=300, median_sections=10, sigma=0.5,
                             words=(20, 60), unit="files")),
    # read-only path against one ~4k-chunk index
    "query": ("Query", dict(dim=64, pages=40, median_sections=100, sigma=0.3,
                            words=(20, 60))),
}


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


class Ctx:
    """What the workloads share: the session, work dir, seed and tracer."""

    def __init__(self, spark, work, seed, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.traced = tracer.enabled


def pin_environment(work: str, traced: bool) -> dict:
    """Pin cores, memory and every scratch directory before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, d))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            # zstandard is not installed, so a compressed log is unreadable
            "spark.eventLog.compress": "false",
        })
    # a fixed heap (-Xms = SPARK_DRIVER_MEM) keeps peak RSS from following
    # the collector's heap-growth decisions from run to run. C1 only
    # (TieredStopAtLevel=1): with C2 the ops kept speeding up for 15 s and
    # more, so a run's median depended on when C2 got to which method
    java_opts = (f"-Xms2g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work}/tmp"
                 f" -Dderby.system.home={work} -XX:-UsePerfData")
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f"--driver-java-options '{java_opts}'")
    os.environ.update({
        # unset, session.get_spark runs local[32]
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        "PYSPARK_SUBMIT_ARGS": " ".join(args) + " pyspark-shell",
    })
    return {"nproc": cpus}


def jvm_peak_rss_mb() -> float:
    """Peak RSS of the driver JVM (a child process of this one)."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            if stat.split(")")[-1].split()[1] != me or "(java)" not in stat:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            continue
    raise RuntimeError("driver JVM not found")


def git_head() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def stop_spark() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def bench(args, work: str) -> dict:
    env = pin_environment(work, args.trace)
    sys.path.insert(0, ROOT)
    import pyspark

    from rag_content_spark.session import get_spark

    import workloads
    from spans import Tracer, event_log_counters

    env.update(spark=pyspark.__version__, python=sys.version.split()[0],
               git_head=git_head(), workload=args.workload, seed=args.seed,
               trace=args.trace)
    print(json.dumps({"environment": env}), flush=True)

    tracer = Tracer(bool(args.trace))
    t_run = time.perf_counter()
    with tracer.span("session.get_spark") as s_spark:
        spark = get_spark("perfbench")
    ctx = Ctx(spark, work, args.seed, tracer)
    cls, kwargs = WORKLOADS[args.workload]
    wl = getattr(workloads, cls)(ctx, **kwargs)
    reps = []
    for rep in range(SETUP_REPS):
        with tracer.span("workload.setup") as s:
            wl.setup(rep)
        reps.append(s["end"] - s["start"])
    setup_s = (s_spark["end"] - s_spark["start"]) + statistics.median(reps)

    errors = wl.prepare()
    attempted = failed = 0

    def run_op() -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            with tracer.span("op"):
                errs = wl.op(attempted - 1)
        except Exception as exc:  # an op that raises is a failed op
            print(f"op {attempted - 1} failed: {exc!r}", file=sys.stderr)
            failed += 1
            return
        errors.extend(errs)
        print(f"op {attempted - 1}: {wl.last_wall:.3f} s", file=sys.stderr)

    # warm-up: checked but not measured; the first calls of a fresh JVM
    # run slower while it compiles
    for _ in range(wl.warm_ops):
        run_op()
    wl.reset()
    warm = attempted
    t0_ms = time.time() * 1000
    t_loop = time.perf_counter()
    # measure whole blocks, as many as fit --seconds best: a block starts
    # while the run would end nearer to --seconds with it than without it
    blocks = 0
    while True:
        elapsed = time.perf_counter() - t_loop
        if blocks and elapsed + elapsed / blocks / 2 >= args.seconds:
            break
        for _ in range(wl.block):
            run_op()
        blocks += 1
    t1_ms = time.time() * 1000
    errors += wl.self_test()

    rss = jvm_peak_rss_mb()
    metrics = {"setup_s": setup_s, "peak_rss_mb": rss, **wl.metrics()}
    e2e_units, layer_units = declared_metrics()
    units = e2e_units
    if args.trace:
        stop_spark()
        layers = {k: 0.0 for k in layer_units}
        layers.update(wl.layer_metrics())
        layers.update(event_log_counters(os.path.join(work, "events"), t0_ms, t1_ms))
        layers["session.get_spark_s"] = s_spark["end"] - s_spark["start"]
        layers["trace.overhead_s"] = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"].endswith(".split") and s["start"] >= t_loop
        )
        unknown = set(layers) - set(layer_units)
        if unknown:
            raise RuntimeError(f"layer metrics missing from BENCHMARK.json: {unknown}")
        tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                  f"{args.workload}-{args.seed}.json"))
        metrics = {k: layers[k] for k in layer_units}
        units = layer_units
    for e in errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    print(f"run wall {time.perf_counter() - t_run:.1f} s, {attempted} ops,"
          f" {warm} of them warm-up", file=sys.stderr)
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": unit} for k, unit in units.items()
        },
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "rag_content_spark", "cli.py")):
        print("rag_content_spark not found: run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    try:
        result = bench(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
