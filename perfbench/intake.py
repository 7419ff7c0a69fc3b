"""intake_bulk: the nightly backlog through the batched intake chain.

Closed loop, one client: each operation is one
``validate_consignments_batch(..., to_sip=True)`` call over the same seeded
batch of consignments, into a fresh store. Calls repeat until the timed
calls add up to the run length. Every consignment of a call completes when
the call returns, so its latency is the call's duration.
"""

from __future__ import annotations

import csv
import io
import json
import os
import shutil
import tarfile
import time

import gen
from harness import median, percentile

from da_transform_judgments_pipeline_spark.plans.batch import (
    validate_consignments_batch,
)
from da_transform_judgments_pipeline_spark.plans.stages import StageContext

N_CONSIGNMENTS = 30
DATA_BYTES = 12 * 2**20
# The warm-up is one call on a third of a batch of the same shape from
# another seed: it runs every code path (each tamper class included) at
# the timed call's per-file sizes.
WARM_SEED_OFFSET = 1_000_003
WARM_CONSIGNMENTS = N_CONSIGNMENTS // 3
STREAM_DATA_BYTES = 2 * 2**20
ENVELOPE_REPS = 2000
STAGES = ("A", "B", "SIP")
LAYERS = ("batch", "archive", "validation", "sinks", "events", "stream")
OP_SPAN = "intake.call"


def prepare(seed: int, work: str) -> dict:
    return {
        "work": work,
        "batch": gen.intake_batch(seed, os.path.join(work, "delivery"),
                                  N_CONSIGNMENTS, DATA_BYTES),
        "warm": gen.intake_batch(
            seed + WARM_SEED_OFFSET, os.path.join(work, "delivery-warm"),
            WARM_CONSIGNMENTS, DATA_BYTES * WARM_CONSIGNMENTS // N_CONSIGNMENTS,
            tag="W",
        ),
    }


def _call(spark, records: list[dict], work: str, name: str, hook=None):
    ctx = StageContext(
        store_root=os.path.join(work, f"store-{name}"),
        out_root=os.path.join(work, f"out-{name}"),
    )
    t0 = time.perf_counter()
    out = validate_consignments_batch(
        spark, [r["event"] for r in records], ctx, to_sip=True, between_stages=hook
    )
    return out, time.perf_counter() - t0, ctx


def _sip_rows(url: str) -> dict[str, int]:
    """Data rows of the metadata.csv and closure.csv inside a SIP archive."""
    rows = {}
    with tarfile.open(url, "r:gz") as tf:
        for m in tf.getmembers():
            base = m.name.rsplit("/", 1)[-1]
            if base in ("metadata.csv", "closure.csv"):
                text = tf.extractfile(m).read().decode()
                rows[base] = sum(1 for _ in csv.reader(io.StringIO(text))) - 1
    return rows


def check(records: list[dict], out: list[dict]) -> list[str]:
    """One problem string per consignment whose terminal event is not the
    one its generated class calls for."""
    problems = []
    if len(out) != len(records):
        return [f"{len(out)} terminal events for {len(records)} consignments"]
    for rec, event in zip(records, out):
        want, reason = gen.OUTCOMES[rec["tamper"]]
        name = event["producer"]["event-name"]
        params = event["parameters"].get(name, {})
        where = f"{rec['reference']} ({rec['tamper']})"
        if name != want:
            problems.append(f"{where}: {name}, expected {want}: {params.get('errors')}")
        elif reason is not None:
            errors = params.get("errors") or [""]
            if reason not in errors[0]:
                problems.append(f"{where}: error {errors[0]!r} lacks {reason!r}")
        else:
            rows = _sip_rows(params["s3-folder-url"])
            want_rows = rec["n_files"] + rec["n_folders"]
            for csv_name in ("metadata.csv", "closure.csv"):
                if rows.get(csv_name) != want_rows:
                    problems.append(
                        f"{where}: {csv_name} has {rows.get(csv_name)} rows, "
                        f"expected {want_rows}"
                    )
    return problems


def verify(state: dict, res: dict) -> list[str]:
    """Each call was checked as it finished (its store is gone now)."""
    return list(res["problems"])


def _cleanup(ctx: StageContext) -> None:
    shutil.rmtree(ctx.store_root, ignore_errors=True)
    shutil.rmtree(ctx.out_root, ignore_errors=True)


def warm_up(spark, state: dict) -> None:
    _, _, ctx = _call(spark, state["warm"], state["work"], "warm")
    _cleanup(ctx)


def measure(spark, state: dict, seconds: float, tracer, rounds: int | None = None) -> dict:
    """Calls until their summed duration reaches ``seconds`` (or exactly
    ``rounds`` calls). With tracing on, each call gets a span per stage,
    and its Spark jobs a job group per stage, both switched from the
    chain's between-stages hook."""
    sc = spark.sparkContext
    batch = state["batch"]
    durations, problems, ok_events = [], [], 0
    while (len(durations) < rounds) if rounds else (sum(durations) < seconds):
        name = f"{'traced' if tracer.enabled else 'timed'}{len(durations)}"
        if tracer.enabled:
            marks: list[float] = []

            def hook(label, marks=marks):
                marks.append(time.time())
                if len(marks) < len(STAGES):
                    sc.setJobGroup(STAGES[len(marks)], "")

            sc.setJobGroup(STAGES[0], "")
            with tracer.span("intake.call") as call:
                out, dt, ctx = _call(spark, batch, state["work"], name, hook)
            sc.setLocalProperty("spark.jobGroup.id", None)
            for stage, start, end in zip(STAGES, [call["start"]] + marks, marks):
                tracer.record(f"batch.stage_{stage.lower()}", start, end, call["id"])
        else:
            out, dt, ctx = _call(spark, batch, state["work"], name)
        durations.append(dt)
        problems += check(batch, out)
        ok_events += len(out)
        if tracer.enabled:  # the layer probes read the last traced call's store
            if "last_ctx" in state:
                _cleanup(state["last_ctx"])
            state["last_ctx"] = ctx
        else:
            _cleanup(ctx)
    wall = sum(durations)
    latencies = [d for d in durations for _ in batch]
    return {
        "wall_s": wall,
        "ops": ok_events,
        "throughput_per_s": ok_events / wall,
        "latency_p50_s": percentile(latencies, 50),
        "latency_p90_s": percentile(latencies, 90),
        "latency_samples": len(latencies),
        "attempted": len(batch) * len(durations),
        "rounds": len(durations),
        "problems": problems,
        "op_s": durations,
        "groups": set(STAGES),
    }


# ---------------------------------------------------------------------------
# traced run: per-layer figures
# ---------------------------------------------------------------------------

def _tree_size(*roots: str) -> tuple[int, int]:
    files = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def archive_and_validation(spark, ctx: StageContext, tracer) -> dict:
    """sources.archive ``untar`` over the store's staged archives, then
    ``batch_validation_report`` over the untarred members."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from da_transform_judgments_pipeline_spark.plans.batch import (
        batch_validation_report,
    )
    from da_transform_judgments_pipeline_spark.sources.archive import untar
    from da_transform_judgments_pipeline_spark.sources.catalog import (
        read_file_catalog,
    )

    archives = read_file_catalog(
        spark, os.path.join(ctx.store_root, "consignments"), glob="*.tar.gz"
    )
    with tracer.span("archive.untar") as sp:
        members = untar(archives, on_error="report").filter(
            F.col("error").isNull()
        ).persist(StorageLevel.MEMORY_AND_DISK)
        agg = members.agg(
            F.count("*").alias("n"), F.sum("size").alias("bytes")
        ).first()
    untar_s = sp["end"] - sp["start"]
    rel = members.select(
        F.col("archive").alias("consignment"),
        F.expr("substring(name, instr(name, '/') + 1)").alias("name"),
        "content",
    )
    with tracer.span("validation.report") as sp:
        batch_validation_report(rel).collect()
    report_s = sp["end"] - sp["start"]
    members.unpersist()
    return {
        "archive.untar_s": untar_s,
        "archive.members": agg["n"],
        "archive.bytes_out": agg["bytes"] or 0,
        "validation.report_s": report_s,
        "validation.sha256_mb_per_s": (agg["bytes"] or 0) / 2**20 / report_s,
    }


def envelope_us(tracer) -> float:
    """Mean cost of building and validating one event envelope."""
    from da_transform_judgments_pipeline_spark.plans.events import (
        create_event,
        validate_event,
    )

    params = {"bagit-available": {"reference": "TDR-2026-X1", "number-of-retries": 0}}
    with tracer.span("events.envelope", reps=ENVELOPE_REPS):
        t0 = time.perf_counter()
        for _ in range(ENVELOPE_REPS):
            e = create_event("bench", "TDR", "consignment-export", "bagit-available",
                             params, type="judgment")
            validate_event(e, "bagit-available")
        dt = time.perf_counter() - t0
    return dt / ENVELOPE_REPS * 1e6


def stream_drain(spark, seed: int, work: str, tracer) -> tuple[dict, list[str]]:
    """streaming.orchestrator: drain a seeded event stream (deliveries,
    resends, error events with retry counters, invalid envelopes) through
    ``run_pipeline`` with the batched A+B chain as the stage; report its
    micro-batch progress and sink contents and check the routing."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        orchestrated_batch_stage,
    )
    from da_transform_judgments_pipeline_spark.streaming import orchestrator

    root = os.path.join(work, "stream")
    events = gen.stream_events(seed, os.path.join(root, "delivery"), STREAM_DATA_BYTES)
    indir = os.path.join(root, "in")
    os.makedirs(indir)
    for i, e in enumerate(events):
        with open(os.path.join(indir, f"event-{i:04d}.json"), "w") as f:
            f.write(e["line"] + "\n")
    out = os.path.join(root, "out")
    ctx = StageContext(store_root=os.path.join(root, "store"))
    with tracer.span("stream.drain"):
        q = orchestrator.run_pipeline(
            spark, indir, out, os.path.join(root, "ckpt"),
            stages={"bagit-available": orchestrated_batch_stage(ctx)},
        )
        q.awaitTermination(90)
        progress = q.recentProgress
        if q.isActive:
            q.stop()

    def rows(sink):
        path = os.path.join(out, sink)
        return spark.read.parquet(path).collect() if os.path.exists(path) else []

    terminal = [r for r in rows("events") if r["event_name"] is not None]
    retries = rows("retries")
    dlq = rows("dlq")
    problems = []
    uniq = {e["key"]: e for e in events if e["kind"] != gen.KIND_DUPLICATE}
    got: dict[str, list] = {}
    for r in terminal:
        got.setdefault(r["reference"], []).append(r["event_name"])
    for key, e in uniq.items():
        if e["kind"] == gen.KIND_CONSIGNMENT:
            want = ("bagit-validated" if e["tamper"] == gen.VALID
                    else "bagit-validation-error")
            if got.get(key) != [want]:
                problems.append(f"stream {key}: terminal {got.get(key)}, expected [{want}]")
    retry_keys = {k for k, e in uniq.items()
                  if e["kind"] == gen.KIND_ERROR and e["retries"] < 2}
    dlq_keys = {k for k, e in uniq.items()
                if e["kind"] == gen.KIND_INVALID
                or (e["kind"] == gen.KIND_ERROR and e["retries"] == 2)}
    for r in retries:
        payload = json.loads(r["value"])["parameters"][r["event_name"]]
        if isinstance(payload, str):  # re-serialized blocks are JSON text
            payload = json.loads(payload)
        want = uniq[r["reference"]]["retries"] + 1
        if payload.get("number-of-retries") != want or r["retries"] != want:
            problems.append(f"stream {r['reference']}: retry counter not bumped to {want}")
    if sorted(r["reference"] for r in retries) != sorted(retry_keys):
        problems.append("stream retry sink does not hold exactly the retries<2 errors")
    dlq_refs = [r["reference"] for r in dlq]
    if sorted(dlq_refs) != sorted(dlq_keys):
        problems.append("stream DLQ does not hold exactly the retries=2 and invalid rows")

    batches = [p for p in progress if p["numInputRows"] > 0]
    if not batches:
        return {}, problems + ["stream: no micro-batch processed any input"]

    def secs(key):
        return [p["durationMs"].get(key, 0) / 1000 for p in batches]

    state_rows = max(
        (op["numRowsTotal"] for p in progress for op in p.get("stateOperators", [])),
        default=0,
    )
    n_in = sum(p["numInputRows"] for p in batches)
    processed = spark.read.parquet(os.path.join(out, "processed")).count()
    metrics = {
        "stream.batches": len(batches),
        "stream.rows_per_batch_mean": n_in / len(batches),
        "stream.trigger_s_p50": median(secs("triggerExecution")),
        "stream.trigger_s_p90": percentile(secs("triggerExecution"), 90),
        "stream.add_batch_s_p50": median(secs("addBatch")),
        "stream.planning_s_p50": median(secs("queryPlanning")),
        "stream.wal_commit_s_p50": median(secs("walCommit")),
        "stream.state_rows": state_rows,
        "stream.route_ok": len(terminal),
        "stream.route_retry": len(retries),
        "stream.route_dlq": sum(1 for r in dlq if r["route"] == orchestrator.ROUTE_DEAD_LETTER),
        "stream.route_invalid": sum(1 for r in dlq if r["route"] == orchestrator.ROUTE_INVALID),
        "stream.dup_dropped": n_in - processed,
    }
    return metrics, problems


def traced_layers(spark, state: dict, seed: int, traced: dict, tracer, restart):
    """Per-layer figures after the traced calls: stage split, archive and
    validation layers on the last call's store, what the sinks hold, the
    event envelope cost, the orchestrator drain and, last, one call at
    local[1] for the single-core baseline. ``restart(cores)`` returns a
    fresh session. Returns (metrics, problems)."""
    calls = len(traced["op_s"])
    metrics = {}
    for stage in STAGES:
        key = f"batch.stage_{stage.lower()}"
        metrics[f"{key}_s"] = median(tracer.durations(key))
        metrics[f"{key}_jobs"] = sum(
            1 for j in traced["jobs"] if j["jobGroup"] == stage
        ) / calls
    ctx = state.pop("last_ctx")
    metrics.update(archive_and_validation(spark, ctx, tracer))
    files, size = _tree_size(ctx.store_root, ctx.out_root)
    metrics["sinks.files_written"] = files
    metrics["sinks.mb_written"] = size / 2**20
    _cleanup(ctx)
    metrics["events.envelope_us"] = envelope_us(tracer)
    stream, problems = stream_drain(spark, seed, state["work"], tracer)
    metrics.update(stream)

    spark1 = restart(1)
    with tracer.span("intake.one_core_call"):
        out, t1, ctx = _call(spark1, state["batch"], state["work"], "one-core")
    problems += check(state["batch"], out)
    _cleanup(ctx)
    metrics["batch.speedup_vs_1core"] = t1 / median(traced["op_s"])
    return metrics, problems
