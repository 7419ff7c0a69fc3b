"""Measure the batched intake chain against the sequential per-event
stages at growing consignment counts — the evidence behind plans/batch.py's
claim that N consignments should cost three job sets, not N state-machine
executions.

Builds N synthetic consignments (valid bagits, a few files each), stages
them twice into independent stores, then times:
- sequential: validate_bagit + validate_bagit_files per event (the
  reference's per-Lambda shape)
- batch: validate_consignments_batch (stage-A + stage-B batch twins)

and counts Spark jobs for each via job groups. Events are
equivalence-checked (the pytest contract, re-asserted here on the larger
N). Appends a summary to BATCHCHECK_r08.md.

``--batch-only`` skips the sequential baseline (for soak N where the
sequential loop's ~18 jobs/consignment would take tens of minutes to
prove a point already made at smaller N) and records the batch side's
job count, per-consignment wall-clock, and peak driver/JVM-heap memory.

Usage: python scripts/batch_vs_sequential.py [--sip] [--batch-only] [N ...]
(default 6 24). The session is session.get_spark's: local[SPARK_GRAFT_CPUS]
(default: every core), one shuffle partition per core.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def build_bagit(ref: str) -> bytes:
    data = {
        f"data/content/file-{i}.txt": f"{ref} body {i}\n".encode() * 50
        for i in range(4)
    }
    fm = (
        "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,"
        "HeldBy,Language,FoiExemptionCode,LastModified\n"
    )
    for path, blob in sorted(data.items()):
        name = path.rsplit("/", 1)[1]
        fm += (
            f"{path},{name},File,{len(blob)},Crown Copyright,Public Record,"
            "TNA,English,open,2022-09-29T15:10:20\n"
        )
    fm += (
        "data/content,content,Folder,,Crown Copyright,Public Record,"
        "TNA,English,open,\n"
    )
    root = {
        "bagit.txt": b"BagIt-Version: 0.97\n",
        "bag-info.txt": (
            "Consignment-Series: MOCKA 101\n"
            f"Internal-Sender-Identifier: {ref}\n"
            "Consignment-Export-Datetime: 2022-07-18T12:45:45Z\n"
        ).encode(),
        "file-metadata.csv": fm.encode(),
    }
    root["manifest-sha256.txt"] = "".join(
        f"{sha(v)}  {k}\n" for k, v in sorted(data.items())
    ).encode()
    tag = "".join(
        f"{sha(v)}  {k}\n" for k, v in sorted(root.items())
    ).encode()
    entries = dict(root)
    entries["tagmanifest-sha256.txt"] = tag
    entries.update(data)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, content in sorted(entries.items()):
            info = tarfile.TarInfo(name=f"{ref}/{name}")
            info.size = len(content)
            info.mtime = 1660000000
            tf.addfile(info, io.BytesIO(content))
    return buf.getvalue()


def main() -> None:
    ns = [int(a) for a in sys.argv[1:] if not a.startswith("-")] or [6, 24]

    from da_transform_judgments_pipeline_spark.plans.batch import (
        validate_consignments_batch,
    )
    from da_transform_judgments_pipeline_spark.plans.events import (
        create_event,
    )
    from da_transform_judgments_pipeline_spark.plans.stages import (
        StageContext,
        bagit_to_dri_sip,
        validate_bagit,
        validate_bagit_files,
    )
    from da_transform_judgments_pipeline_spark.session import get_spark

    spark = get_spark(app_name="batch-vs-sequential")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    results = {}
    for n in ns:
        base = tempfile.mkdtemp(prefix=f"bvs-{n}-")
        delivery = os.path.join(base, "delivery")
        os.makedirs(delivery)
        events = []
        for i in range(n):
            ref = f"TDR-2026-N{i:03d}"
            blob = build_bagit(ref)
            p = os.path.join(delivery, f"{ref}.tar.gz")
            with open(p, "wb") as f:
                f.write(blob)
            with open(p + ".sha256", "w") as f:
                f.write(f"{sha(blob)}  {ref}.tar.gz\n")
            events.append(
                create_event(
                    environment="test",
                    producer="TDR",
                    process="consignment-export",
                    event_name="bagit-available",
                    type="judgment",
                    parameters={
                        "bagit-available": {
                            "resource": {"value": p},
                            "resource-validation": {"value": p + ".sha256"},
                            "number-of-retries": 0,
                            "reference": ref,
                        }
                    },
                )
            )

        ctx_seq = StageContext(store_root=os.path.join(base, "store-seq"))
        ctx_bat = StageContext(store_root=os.path.join(base, "store-bat"))
        to_sip = "--sip" in sys.argv
        batch_only = "--batch-only" in sys.argv

        seq_out, seq_s = None, None
        if not batch_only:
            sc.setJobGroup(f"seq-{n}", "sequential")
            t0 = time.perf_counter()
            seq_out = []
            for e in events:
                a = validate_bagit(spark, e, ctx_seq)
                b = (
                    validate_bagit_files(spark, a, ctx_seq)
                    if a["producer"]["event-name"] == "bagit-received"
                    else a
                )
                if to_sip and b["producer"]["event-name"] == "bagit-validated":
                    b = bagit_to_dri_sip(spark, b, ctx_seq)
                seq_out.append(b)
            seq_s = time.perf_counter() - t0
            sc.setJobGroup(None, None)

        sc.setJobGroup(f"bat-{n}", "batched")
        t0 = time.perf_counter()
        bat_out = validate_consignments_batch(
            spark, events, ctx_bat, to_sip=to_sip
        )
        bat_s = time.perf_counter() - t0
        sc.setJobGroup(None, None)

        bat_jobs = len(tracker.getJobIdsForGroup(f"bat-{n}"))
        # peak memory: python driver RSS high-water, plus two JVM heap
        # views (local mode: that one JVM is both "driver" and
        # "executors"). Per-pool peaks occur at DIFFERENT instants
        # (Eden's just before a young GC, Old Gen's before a full GC),
        # so their sum is an UPPER BOUND on any instantaneous footprint,
        # never an observed high-water mark — recorded under that name,
        # alongside the actual heap in use after the run.
        import resource

        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        mf = spark._jvm.java.lang.management.ManagementFactory
        heap_peak_bound = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                heap_peak_bound += pool.getPeakUsage().getUsed()
        heap_used = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        bat_names = [e["producer"]["event-name"] for e in bat_out]
        results[n] = {
            "consignments": n,
            "chain": "A+B+SIP" if to_sip else "A+B",
            "batch_sec": round(bat_s, 2),
            "batch_sec_per_consignment": round(bat_s / n, 3),
            "batch_jobs": bat_jobs,
            "batch_all_terminal_ok": all(
                x in ("bagit-validated", "dri-preingest-sip-available")
                for x in bat_names
            ),
            "driver_rss_peak_mb": rss_mb,
            "jvm_heap_peak_upper_bound_mb": heap_peak_bound
            // (1024 * 1024),
            "jvm_heap_used_after_mb": heap_used // (1024 * 1024),
        }
        if seq_out is not None:
            seq_jobs = len(tracker.getJobIdsForGroup(f"seq-{n}"))
            results[n].update(
                {
                    "sequential_sec": round(seq_s, 2),
                    "sequential_jobs": seq_jobs,
                    "speedup": round(seq_s / bat_s, 2),
                    "all_validated_agree": [
                        e["producer"]["event-name"] for e in seq_out
                    ]
                    == bat_names,
                }
            )
        print(json.dumps(results[n]))

    out_path = os.path.join(REPO, "BATCHCHECK_r08.md")
    chain = "A+B+SIP" if "--sip" in sys.argv else "A+B"
    header_needed = not os.path.exists(out_path)
    with open(out_path, "a") as f:
        if header_needed:
            f.write(
                "# Batched vs sequential intake chain (round 8)\n\n"
                f"Measured on {sc.master}; valid consignments, 4 data "
                "files each; independent\nstores, event-name equivalence checked "
                "per run. The batch twin's job count\nis O(1) in N while "
                "the sequential loop's grows linearly. Soak rows\n"
                "(--batch-only) record per-consignment wall-clock and peak "
                "driver RSS /\nJVM heap instead of the sequential baseline."
                "\n"
            )
        f.write(
            f"\n## Chain {chain}\n\n```json\n"
            + json.dumps(results, indent=2)
            + "\n```\n"
        )
    ok = all(
        v.get("all_validated_agree", v["batch_all_terminal_ok"])
        for v in results.values()
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
