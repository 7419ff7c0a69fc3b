"""Benchmark runner.

    python3 perfbench/run.py --workload intake_bulk --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed``, starts Spark at local[nproc]
(shuffle partitions = nproc) from this one driver process, warms up on
inputs made from a different seed, then measures for at least
``--seconds``, checks every output, and prints as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are BENCHMARK.json's end_to_end list; with
``--trace 1`` its per_layer list, from a run that repeats the timed region
with spans, Spark job groups and the status REST API on, and then measures
each layer. The line before it records the host (nproc, pyspark, Java and
Python versions) and the sample counts.

Work files live under ``.perfbench_work/`` in the checkout and are removed
when the run ends, except the result and span files under
``.perfbench_work/results``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import harness  # noqa: E402
from pyspark import SparkContext  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK_ROOT, "results")
WORKLOADS = {"intake_bulk": "intake", "query_mix": "query"}
# Layer prefixes every workload reports; the rest belong to one workload
# each and read 0 on the others (that layer did not run).
SHARED_LAYERS = ("run", "trace", "spark", "jvm")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _descendants() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait until no child process is left."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.1)


def run(args) -> tuple[str, dict]:
    spec = harness.load_spec()
    mod = importlib.import_module(WORKLOADS[args.workload])
    trace = bool(args.trace)
    work = os.path.join(
        WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    cores = harness.nproc()
    session = {}
    try:
        # inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(mod.prepare, args.seed, work)
            session["spark"] = harness.start_spark(work, cores, ui=trace)
            state = inputs.result()
        spark = session["spark"]
        mod.warm_up(spark, state)
        setup_s = time.time() - T_START
        env = harness.runtime_info(spark)
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        with harness.RssSampler() as rss:
            res = mod.measure(spark, state, args.seconds, harness.Tracer(run_id, False))
        heap_mb = harness.java_heap_rss_mb(SparkContext._gateway.proc.pid, work)
        problems = mod.verify(state, res)
        attempted = res["attempted"]
        metrics = {
            "setup_s": setup_s,
            "throughput_per_s": res["throughput_per_s"],
            "latency_p50_s": res["latency_p50_s"],
            "latency_p90_s": res["latency_p90_s"],
            "peak_rss_nonheap_mb": rss.peak_mb - heap_mb,
        }
        details = {
            "workload": args.workload, "seed": args.seed, "env": env,
            "wall_s": res["wall_s"], "latency_samples": res["latency_samples"],
            "ops": res["ops"], "op_s": res["op_s"], "heap_rss_mb": heap_mb,
        }
        if trace:
            metrics, more, more_attempted = traced(
                spark, mod, state, args, res, run_id, work, session
            )
            metrics["run.error_rate"] = len(problems) / attempted
            problems += more
            attempted += more_attempted
            details["trace_file"] = os.path.join(RESULTS, f"{run_id}.spans.jsonl")
    finally:
        if "spark" in session:
            stop_spark(session["spark"])
        shutil.rmtree(work, ignore_errors=True)

    if trace:
        own = set(mod.LAYERS) | set(SHARED_LAYERS)
        for m in spec["per_layer"]:
            prefix = m["name"].split(".", 1)[0]
            if prefix not in own:
                metrics.setdefault(m["name"], 0.0)
    details["problems"] = problems[:20]
    line = harness.result_line(
        spec, trace, metrics, correct=not problems,
        attempted=attempted, failed=len(problems),
    )
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({**details, "result": json.loads(line)}, f, indent=1)
    return line, details


def traced(spark, mod, state, args, untraced, run_id, work, session):
    """Repeat the timed region with tracing on; add Spark runtime, JVM and
    layer figures. Returns (metrics, problems, operations attempted)."""
    tracer = harness.Tracer(run_id, True)
    status = harness.SparkStatus(spark)
    log = harness.JvmLog(work)
    log.mark()
    gc0 = status.gc_ms()
    status.reset_heap_peak()
    with tracer.span("run.timed"):
        res = mod.measure(spark, state, args.seconds, tracer, rounds=untraced["rounds"])
    problems = list(res["problems"])
    jobs = status.jobs(res["groups"])
    res["jobs"] = jobs
    windows = [(s["start"], s["end"]) for s in tracer.spans
               if s["name"].startswith(mod.OP_SPAN)]
    metrics = status.summary(jobs, windows)
    metrics["spark.codegen_disabled"] = log.codegen_disabled()
    metrics["jvm.gc_s"] = (status.gc_ms() - gc0) / 1000
    metrics["jvm.heap_peak_mb"] = status.heap_peak_mb()
    metrics["run.wall_s"] = untraced["wall_s"]
    metrics["run.latency_samples"] = untraced["latency_samples"]
    # Traced minus untraced time for the same operations, the untraced
    # figure being the mean of the regions just before and just after the
    # traced one, so warm-up still going on across the three cancels.
    after = mod.measure(
        spark, state, args.seconds, harness.Tracer(run_id, False),
        rounds=untraced["rounds"],
    )
    problems += after["problems"]
    metrics["trace.overhead_s"] = res["wall_s"] - (untraced["wall_s"] + after["wall_s"]) / 2

    def restart(n):
        # same JVM (already JIT-warm), new SparkContext
        session.pop("spark").stop()
        session["spark"] = harness.start_spark(work, n, ui=False)
        return session["spark"]

    layer, more = mod.traced_layers(spark, state, args.seed, res, tracer, restart)
    metrics.update(layer)
    problems += more
    tracer.dump(os.path.join(RESULTS, f"{run_id}.spans.jsonl"))
    return metrics, problems, res["attempted"] + after["attempted"]


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    line, details = run(args)
    print("# " + json.dumps(details, default=str))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
