"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical archives, events and tables (gzip headers carry mtime 0,
tar members a fixed mtime, event UUIDs come from the seeded generator and
event timestamps are fixed). The program under test only ever sees the
files these write.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
import tarfile
import uuid

from da_transform_judgments_pipeline_spark.plans.events import (
    create_event,
    validate_event,
)

SERIES = "MOCKA 101"
EXPORT_DATETIME = "2022-07-18T12:45:45Z"
MEMBER_MTIME = 1660000000
# Fixed envelope timestamp (ns): a wall-clock stamp would make the inputs
# differ from run to run.
EPOCH_NS = 1_700_000_000 * 10**9
BAGIT_TXT = b"BagIt-Version: 0.97\nTag-File-Character-Encoding: UTF-8\n"
FILE_METADATA_HEADER = (
    "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,"
    "HeldBy,Language,FoiExemptionCode,LastModified\n"
)
MAX_FILE_BYTES = 2 * 1024 * 1024

VALID = "valid"
# Tamper classes and the (terminal event, error-reason substring) each must
# produce. "corrupt_gzip" and "malformed_csv" ship a sidecar that matches the
# damaged bytes, so they pass the archive checksum and fail on unpack and on
# the tagmanifest respectively.
OUTCOMES = {
    VALID: ("dri-preingest-sip-available", None),
    "sidecar_mismatch": ("bagit-validation-error", "Checksum mismatch for"),
    "data_mismatch": ("bagit-validation-error", "does not match expected checksum"),
    "missing_file": ("bagit-validation-error", 'checksum "None" does not match'),
    "extra_file": ("bagit-validation-error", "Incorrect total file count"),
    "corrupt_gzip": ("bagit-validation-error", "Unpack failed for"),
    "malformed_csv": ("bagit-validation-error", 'file-metadata.csv" checksum'),
}
TAMPER_CLASSES = [c for c in OUTCOMES if c != VALID]


def sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def seeded_uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _file_bytes(rng: random.Random, size: int, tag: str) -> bytes:
    """Half incompressible (random bytes), half repetitive text."""
    noise = rng.randbytes(size // 2)
    text = (f"{tag} judgment paragraph text. " * (size // 20 + 1)).encode()
    return noise + text[: size - len(noise)]


def _data_sizes(rng: random.Random, counts: list[int], total: int) -> list[list[int]]:
    """Pareto(1.2)-shaped file sizes for files grouped by ``counts``. The
    sizes are the distribution's quantiles scaled to ``total`` bytes and
    capped at MAX_FILE_BYTES, so every seed gets the same multiset of
    sizes (the same work); the seed decides which file gets which."""
    n = sum(counts)
    raw = [(1 - (i + 0.5) / n) ** (-1 / 1.2) for i in range(n)]
    scale = total / sum(raw)
    sizes = [max(64, min(MAX_FILE_BYTES, int(x * scale))) for x in raw]
    rng.shuffle(sizes)
    out, i = [], 0
    for c in counts:
        out.append(sizes[i:i + c])
        i += c
    return out


def consignment_members(
    rng: random.Random, ref: str, sizes: list[int], tamper: str
) -> tuple[dict[str, bytes], int, int]:
    """Unpacked-bagit members (name relative to the bag root) for one
    consignment, with ``tamper`` applied. Returns (members, n_files,
    n_folders) where the counts are the file-metadata.csv rows the SIP
    metadata.csv / closure.csv must reproduce."""
    n_sub = 1 + len(sizes) // 8
    folders = ["data/content"] + [f"data/content/part-{i}" for i in range(n_sub)]
    data = {}
    for i, size in enumerate(sizes):
        folder = folders[1 + i % n_sub]
        data[f"{folder}/file-{i:02d}.txt"] = _file_bytes(rng, size, ref)
    fm = FILE_METADATA_HEADER
    for path, blob in sorted(data.items()):
        fm += (
            f"{path},{path.rsplit('/', 1)[1]},File,{len(blob)},Crown Copyright,"
            "Public Record,TNA,English,open,2022-09-29T15:10:20\n"
        )
    for folder in folders:
        fm += (
            f"{folder},{folder.rsplit('/', 1)[1]},Folder,,Crown Copyright,"
            "Public Record,TNA,English,open,\n"
        )
    root = {
        "bagit.txt": BAGIT_TXT,
        "bag-info.txt": (
            f"Consignment-Series: {SERIES}\n"
            f"Internal-Sender-Identifier: {ref}\n"
            f"Consignment-Export-Datetime: {EXPORT_DATETIME}\n"
        ).encode(),
        "file-metadata.csv": fm.encode(),
    }
    data_manifest = {k: sha(v) for k, v in data.items()}
    if tamper == "missing_file":
        data_manifest["data/content/ghost.txt"] = sha(b"ghost")
    root["manifest-sha256.txt"] = "".join(
        f"{c}  {k}\n" for k, c in sorted(data_manifest.items())
    ).encode()
    members = dict(root)
    members["tagmanifest-sha256.txt"] = "".join(
        f"{sha(v)}  {k}\n" for k, v in sorted(root.items())
    ).encode()
    members.update(data)
    if tamper == "data_mismatch":
        first = sorted(data)[0]
        members[first] = members[first][:-1] + b"!"
    elif tamper == "extra_file":
        members["data/content/stray.txt"] = b"not in any manifest\n"
    elif tamper == "malformed_csv":
        # truncated mid-row after the manifests were written
        members["file-metadata.csv"] = root["file-metadata.csv"][:-7]
    return members, len(data), len(folders)


def tar_gz(ref: str, members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, content in sorted(members.items()):
            info = tarfile.TarInfo(name=f"{ref}/{name}")
            info.size = len(content)
            info.mtime = MEMBER_MTIME
            tf.addfile(info, io.BytesIO(content))
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0, compresslevel=1) as gz:
        gz.write(buf.getvalue())
    return out.getvalue()


def available_event(
    rng: random.Random, ref: str, archive: str, sidecar: str
) -> dict:
    """A ``bagit-available`` delivery envelope with seeded lineage."""
    event = create_event(
        environment="bench",
        producer="TDR",
        process="consignment-export",
        event_name="bagit-available",
        type="judgment",
        parameters={
            "bagit-available": {
                "resource": {"value": archive},
                "resource-validation": {"value": sidecar},
                "number-of-retries": 0,
                "reference": ref,
            }
        },
        timestamp_ns_utc=EPOCH_NS,
    )
    event["UUIDs"] = [{"TDR-UUID": seeded_uuid(rng)}]
    validate_event(event, "bagit-available")
    return event


def write_consignments(
    rng: random.Random,
    delivery_dir: str,
    specs: list[tuple[str, str, list[int]]],
) -> list[dict]:
    """Write each (reference, tamper class, data file sizes) delivery as
    ``<ref>.tar.gz`` + ``<ref>.tar.gz.sha256`` and return one record per
    consignment: its ``bagit-available`` event and what it must produce."""
    os.makedirs(delivery_dir, exist_ok=True)
    out = []
    for ref, tamper, sizes in specs:
        members, n_files, n_folders = consignment_members(rng, ref, sizes, tamper)
        blob = tar_gz(ref, members)
        if tamper == "corrupt_gzip":
            cut = len(blob) // 2
            blob = blob[:cut] + bytes(64) + blob[cut + 64:]
        digest = sha(blob + b"!") if tamper == "sidecar_mismatch" else sha(blob)
        archive = os.path.join(delivery_dir, f"{ref}.tar.gz")
        with open(archive, "wb") as f:
            f.write(blob)
        with open(archive + ".sha256", "w") as f:
            f.write(f"{digest}  {ref}.tar.gz\n")
        out.append({
            "reference": ref,
            "tamper": tamper,
            "n_files": n_files,
            "n_folders": n_folders,
            "archive_bytes": len(blob),
            "event": available_event(rng, ref, archive, archive + ".sha256"),
        })
    return out


def _file_counts(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` seeded file counts in [lo, hi] that always sum to
    n * (lo + hi) // 2, so every seed's batch holds the same number of
    files."""
    counts = [rng.randint(lo, hi) for _ in range(n)]
    target = n * (lo + hi) // 2
    while sum(counts) != target:
        i = rng.randrange(n)
        step = 1 if sum(counts) < target else -1
        if lo <= counts[i] + step <= hi:
            counts[i] += step
    return counts


def intake_batch(
    seed: int, delivery_dir: str, n: int, data_bytes: int, tag: str = "I"
) -> list[dict]:
    """One nightly-backlog batch: ``n`` consignments of 2–32 files (17 on
    average, every seed) holding ``data_bytes`` in total; one of each
    tamper class, the rest valid, in seeded order."""
    rng = random.Random(f"intake:{seed}")
    classes = TAMPER_CLASSES + [VALID] * (n - len(TAMPER_CLASSES))
    rng.shuffle(classes)
    counts = _file_counts(rng, n, 2, 32)
    sizes = _data_sizes(rng, counts, data_bytes)
    refs = [f"TDR-2026-{tag}{i:03d}" for i in range(n)]
    return write_consignments(
        rng, delivery_dir, list(zip(refs, classes, sizes))
    )


# ---------------------------------------------------------------------------
# orchestrator drain: one event per file, in arrival order
# ---------------------------------------------------------------------------

KIND_CONSIGNMENT = "consignment"
KIND_DUPLICATE = "duplicate"
KIND_ERROR = "error"
KIND_INVALID = "invalid"


def _error_event(rng: random.Random, ref: str, retries: int) -> dict:
    event = create_event(
        environment="bench",
        producer="TRE",
        process="validate-bagit",
        event_name="bagit-validation-error",
        type="judgment",
        parameters={
            "bagit-validation-error": {
                "reference": ref,
                "errors": ["upstream checksum failure"],
                "number-of-retries": retries,
            }
        },
        timestamp_ns_utc=EPOCH_NS,
    )
    event["UUIDs"] = [{"TRE-UUID": seeded_uuid(rng)}]
    return event


def _invalid_event(rng: random.Random, ref: str, variant: int) -> dict:
    """A parseable envelope that breaks one schema constraint."""
    event = create_event(
        environment="bench",
        producer="TDR",
        process="consignment-export",
        event_name="bagit-available",
        type="judgment",
        parameters={"bagit-available": {"reference": ref}},
        timestamp_ns_utc=EPOCH_NS,
    )
    event["UUIDs"] = [{"TDR-UUID": seeded_uuid(rng)}]
    if variant == 0:
        event["producer"]["event-name"] = "bagit-exploded"
        event["parameters"] = {"bagit-exploded": {"reference": ref}}
    elif variant == 1:
        event["UUIDs"] = [{"TDR-UUID": "not-a-uuid"}]
    else:
        event["producer"]["type"] = "parcel"
    return event


def stream_events(seed: int, delivery_dir: str, data_bytes: int) -> list[dict]:
    """A seeded stream of 20 events for the orchestrator, in arrival order.
    Each entry is {kind, key, line, ...}: ``line`` is the JSON line the
    event file holds and ``key`` names the logical event (a resend shares
    its original's key). The mix is fixed, only the order and contents
    vary with the seed: 13 ``bagit-available`` deliveries (one sidecar and
    one data-manifest mismatch among them), 2 verbatim resends, 3
    ``bagit-validation-error`` events with retry counters 0, 1 and 2, and 2
    envelopes that fail validation."""
    rng = random.Random(f"stream:{seed}")
    kinds = ([KIND_CONSIGNMENT] * 13 + [KIND_DUPLICATE] * 2 + [KIND_ERROR] * 3
             + [KIND_INVALID] * 2)
    rng.shuffle(kinds)
    # a resend needs an earlier original: the first delivery goes first
    first = kinds.index(KIND_CONSIGNMENT)
    kinds[0], kinds[first] = kinds[first], kinds[0]
    cons_idx = [i for i, k in enumerate(kinds) if k == KIND_CONSIGNMENT]
    tampers = ["sidecar_mismatch", "data_mismatch"] + [VALID] * (len(cons_idx) - 2)
    rng.shuffle(tampers)
    retries = [0, 1, 2]
    rng.shuffle(retries)
    counts = [rng.randint(2, 8) for _ in cons_idx]
    specs = [
        (f"TDR-2026-S{j:03d}", tamper, sizes)
        for j, (tamper, sizes) in enumerate(
            zip(tampers, _data_sizes(rng, counts, data_bytes))
        )
    ]
    records = dict(zip(
        cons_idx,
        write_consignments(rng, delivery_dir, specs),
    ))

    out: list[dict] = []
    for i, kind in enumerate(kinds):
        entry = {"kind": kind}
        if kind == KIND_CONSIGNMENT:
            rec = records[i]
            entry.update(
                key=rec["reference"], tamper=rec["tamper"],
                line=json.dumps(rec["event"]),
            )
        elif kind == KIND_DUPLICATE:
            orig = rng.choice([e for e in out if e["kind"] == KIND_CONSIGNMENT])
            entry.update(key=orig["key"], line=orig["line"])
        elif kind == KIND_ERROR:
            ref = f"TDR-2026-E{i:03d}"
            n = retries.pop()
            entry.update(
                key=ref, retries=n, line=json.dumps(_error_event(rng, ref, n))
            )
        else:
            ref = f"TDR-2026-N{i:03d}"
            entry.update(key=ref, line=json.dumps(_invalid_event(rng, ref, i % 3)))
        out.append(entry)
    return out


# ---------------------------------------------------------------------------
# query_mix: the analytics tables the query registry reads
# ---------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def analytics_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the star schema + events/documents/embeddings tables the
    registry's queries read, one parquet file each, with the column types,
    value domains and row counts of the reference test data at scale
    factor ``sf`` (0.1: 600k lineitem, 150k orders, 100k events, 5000
    documents, 2000 embeddings). Returns {table: rows}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_items = int(6_000_000 * sf)
    n_parts = int(200_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = max(500, int(20_000 * sf))
    n_users = int(15_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    def i32(a):
        return pa.array(a, pa.int32())

    tables = {
        "region": {
            "r_regionkey": i32(np.arange(5)),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "orders": {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": money(1000, 500000, n_orders),
            "o_orderdate": days("1995-01-01", 2405, n_orders),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, n_parts, n_items),
            "l_suppkey": rng.integers(0, n_supp, n_items),
            "l_linenumber": i32(rng.integers(1, 8, n_items)),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_items),
            "l_discount": np.round(rng.integers(0, 11, n_items) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_items) / 100, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_items)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_items)],
            "l_shipdate": days("1995-01-02", 2498, n_items),
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86400 * 10**6, n_events).astype(
                    "timedelta64[us]"
                )
            ),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    }

    # 5% of documents (always the same count) are near-duplicates: an
    # earlier document plus a marker word
    dup_at = set(rng.choice(np.arange(11, n_docs), n_docs // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in dup_at:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    }

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
