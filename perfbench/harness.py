"""Shared benchmark plumbing: the Spark session, process-tree RSS, spans,
Spark/JVM runtime probes and the result printer.

Everything a run writes goes under its work directory inside the checkout:
Spark local dirs, the JVM temp dir, the JVM log and the span dump.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import re
import statistics
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
# Driver heap, fixed (initial = max): with a growable heap, peak RSS
# flipped between G1 heap sizes from run to run (2.7 vs 3.5 GB).
HEAP = "3g"
CODEGEN_DISABLED_RE = re.compile(
    r"Whole-stage codegen disabled|whole-stage codegen was disabled"
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile (q in [0, 100]): a
    Beta-weighted mean of all order statistics. A run yields a few dozen
    latency samples at most; a single order statistic of so few jumps
    with whichever sample lands on the rank, the weighted mean does not."""
    import numpy as np

    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if n == 1:
        return float(xs[0])
    p = q / 100
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # Beta(a, b) CDF at i/n by the midpoint rule (the density may be
    # unbounded at 0 or 1, never at a midpoint)
    mids = (np.arange(20000) + 0.5) / 20000
    dens = np.exp((a - 1) * np.log(mids) + (b - 1) * np.log1p(-mids))
    cdf = np.concatenate([[0.0], np.cumsum(dens)])
    cdf /= cdf[-1]
    w = np.diff(cdf[np.round(np.arange(n + 1) / n * 20000).astype(int)])
    return float(w @ xs)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# process-tree RSS and the Java heap
# ---------------------------------------------------------------------------

HEAP_ADDRESS_RE = re.compile(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB")


def _tree_rss(root_pid: int) -> int:
    """RSS bytes of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc on a thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def java_heap_rss_mb(jvm_pid: int, work: str) -> float:
    """Resident MB of the JVM's heap: its mappings inside the address
    range the JVM logged at start-up (``gc+heap+coops``). Reading smaps
    walks the heap's page tables (about 30 ms for 3 GiB), too slow to
    sample; the heap is pre-touched, so one reading holds for the run."""
    with open(os.path.join(work, "jvm.log"), errors="replace") as f:
        m = HEAP_ADDRESS_RE.search(f.read())
    if m is None:
        raise RuntimeError("the JVM log has no heap address line")
    lo = int(m.group(1), 16)
    hi = lo + int(m.group(2)) * 2**20
    total, inside = 0, False
    with open(f"/proc/{jvm_pid}/smaps") as f:
        for line in f:
            head = line.split(None, 1)[0]
            if not head.endswith(":"):  # a mapping's "start-end perms ..." line
                start, end = (int(x, 16) for x in head.split("-"))
                inside = lo <= start and end <= hi
            elif inside and head == "Rss:":
                total += int(line.split()[1])
    return total / 1024


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float, parent: int | None) -> None:
        """A span whose bounds were taken elsewhere (e.g. a callback)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": parent,
                "run": self.run_id, "start": start, "end": end,
            })

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark session and runtime probes
# ---------------------------------------------------------------------------

def start_spark(work: str, cores: int, ui: bool):
    """The program's session factory at local[cores] with shuffle
    partitions = cores. JVM stdout/stderr go to ``work/jvm.log`` (the
    codegen-disabled count reads it); scratch space stays under ``work``.
    The Spark UI (and with it the status REST API) is on only when
    ``ui``."""
    from da_transform_judgments_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": HEAP,
        # The heap is fixed and pre-touched, so its resident size is the
        # same in every run and can be left out of the gated RSS figure;
        # the JVM logs the heap's address range for that.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
            " -XX:+AlwaysPreTouch -Xlog:gc+heap+coops=debug"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "ab") as log:
        # the JVM inherits fds 1 and 2 at launch; point them at the log
        # only for the launch so this process's own output is untouched
        sys.stdout.flush()
        sys.stderr.flush()
        saved = [os.dup(1), os.dup(2)]
        os.dup2(log.fileno(), 1)
        os.dup2(log.fileno(), 2)
        try:
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
                extra_conf=conf,
            )
        finally:
            os.dup2(saved[0], 1)
            os.dup2(saved[1], 2)
            for fd in saved:
                os.close(fd)
    return spark


def runtime_info(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class JvmLog:
    """Counts codegen-disabled warnings in the JVM log written since
    :meth:`mark`."""

    def __init__(self, work: str):
        self.path = os.path.join(work, "jvm.log")
        self.offset = 0

    def mark(self) -> None:
        self.offset = os.path.getsize(self.path) if os.path.exists(self.path) else 0

    def codegen_disabled(self) -> int:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            text = f.read().decode(errors="replace")
        return len(CODEGEN_DISABLED_RE.findall(text))


def _rest_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkStatus:
    """Job and stage metrics from the status REST API (UI on) and JVM
    GC/heap figures from the platform MXBeans."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"
        ]

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools) / 2**20

    def jobs(self, groups: set[str], settle_s: float = 10.0) -> list[dict]:
        """Jobs of the given job groups, once every one has completed (the
        status store is fed asynchronously by the listener bus)."""
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j.get("completionTime") for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def summary(self, jobs: list[dict], windows: list[tuple[float, float]]) -> dict:
        """Totals over ``jobs`` plus the driver gap: the part of the timed
        operations' ``windows`` (wall-clock start, end) in which none of
        the jobs was running."""
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        merged: list[list[float]] = []
        for s, e in sorted(
            (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        busy = sum(
            max(0.0, min(e, we) - max(s, ws))
            for ws, we in windows
            for s, e in merged
        )
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000,
            "spark.driver_gap_s": sum(we - ws for ws, we in windows) - busy,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / 2**20,
        }


# ---------------------------------------------------------------------------
# result printer
# ---------------------------------------------------------------------------

def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def result_line(
    spec: dict, trace: bool, metrics: dict[str, float],
    correct: bool, attempted: int, failed: int,
) -> str:
    """The run's final stdout line: every metric BENCHMARK.json declares
    for this mode (end_to_end untraced, per_layer traced), with its unit.
    A declared metric the run did not produce is an error."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    })
