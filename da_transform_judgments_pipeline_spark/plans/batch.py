"""Batched multi-consignment stage execution (SURVEY.md §3, §7.6).

The per-event stages in :mod:`.stages` reproduce the reference's one-Lambda-
invocation-per-consignment shape (tre_vb_validate_bagit_files.py:40-174):
N consignments = N sequential stage invocations, each with its own driver
round-trips. That is the right PARITY surface but the wrong SCALE surface —
on a real cluster a nightly batch of thousands of consignments should be ONE
Spark job, not thousands of driver loops.

This module is the Spark-native batch twin: given ALL pending
``bagit-received`` events, it

1. reads every consignment's archive in ONE binaryFile scan,
2. untars them all in ONE ``mapInPandas`` fan-out (one task per archive),
3. writes every member in ONE distributed ``foreachPartition`` pass,
4. parses every tag/data manifest from the already-in-flight member rows
   (no re-read of what we just wrote),
5. verifies every checksum with ONE join (the J2 machinery, keyed by
   (consignment, file) instead of (file)),
6. reconciles every consignment's counts in ONE aggregation (A3/J4),
7. re-lists the store ONCE for the write-back audit count,

then emits one ``bagit-validated`` / ``bagit-validation-error`` event per
consignment with the same parameters and error strings as the sequential
stage (equivalence is pytest-asserted against
:func:`..plans.stages.validate_bagit_files` on the same store; the
validated-file lists are sorted rather than manifest-line-ordered).

Scale shape: per-consignment work never funnels through one task — untar is
one task per archive, checksum sha2 is map-side over the member rows, the
manifest side of the verification join is KBs per consignment (broadcast),
and the only driver-side materialization is the N-row per-consignment report
plus the manifest-sized validated-file lists the output events must carry
(the same lists the reference's events carry — control-plane by contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validation import STATUS_OK
from ..session import local_df
from ..sources.archive import untar
from ..sources.catalog import key_by_root, read_keyed_catalog
from ..sources.manifest import manifest_from_lines
from .events import latest_uuid, validate_event
from .stages import (
    EVENT_BAGIT_AVAILABLE,
    EVENT_BAGIT_ERROR,
    EVENT_BAGIT_RECEIVED,
    EVENT_BAGIT_VALIDATED,
    StageContext,
    _write_members,
)

# Manifest kinds, in the order the sequential stage checks them: the
# tagmanifest (root files) first, the data manifest second — the batch
# report's "first error" must pick the same winner as the sequential
# stage's first raise.
KIND_ROOT = "root"
KIND_DATA = "data"
TAGMANIFEST = "tagmanifest-sha256.txt"
DATA_MANIFEST = "manifest-sha256.txt"


def batch_manifest_entries(
    members: DataFrame,
    consignment_col: str = "consignment",
    name_col: str = "name",
    content_col: str = "content",
) -> DataFrame:
    """Parse every consignment's tag + data manifests from in-flight member
    rows → (consignment, kind, checksum, file, basename).

    One plan over all consignments: filter to the two manifest basenames,
    explode lines (S11 fixed-width parse, same projection as
    :func:`..sources.manifest.read_manifest`). ``kind`` is 'root' for the
    tagmanifest, 'data' for the data manifest.
    """
    m = members.filter(
        F.col(name_col).isin(TAGMANIFEST, DATA_MANIFEST)
    ).select(
        F.col(consignment_col).alias("consignment"),
        F.when(F.col(name_col) == F.lit(TAGMANIFEST), F.lit(KIND_ROOT))
        .otherwise(F.lit(KIND_DATA))
        .alias("kind"),
        F.col(content_col).alias("content"),
    )
    return manifest_from_lines(m, "content")


def batch_validation_report(
    members: DataFrame,
    consignment_col: str = "consignment",
    name_col: str = "name",
    content_col: str = "content",
) -> DataFrame:
    """Validate MANY consignments' manifests + checksums + counts in one
    plan (reference semantics: tre_vb_validate_bagit_files.py:88-174,
    batched; J2 checksum join + A3 count reconciliation keyed by
    consignment).

    Input: one row per extracted file per consignment —
    (consignment, name, content), ``name`` relative to the unpacked root
    (``bag-info.txt``, ``data/content/x.txt``, ...).

    Output: ONE row per consignment:

    - ``status`` 'ok' | 'error'
    - ``error`` — NULL when ok, else the SAME message the sequential stage
      raises, chosen with the SAME precedence: first bad tagmanifest entry,
      else first bad data-manifest entry (bad = mismatch or missing,
      ordered by file; missing files print actual='None' exactly like the
      sequential stage's f-string), else total-count mismatch, else
      data-count mismatch.
    - audit counts: ``n_root_listed``/``n_data_listed`` (manifest entries),
      ``n_root_bad``/``n_data_bad``, ``n_extracted``/``n_data_extracted``.

    The store re-listing audit (sequential stage's third count check) needs
    the filesystem, not these rows — :func:`validate_bagit_files_batch`
    runs it; this report is the pure relational core, oracle-checkable.

    Shape: checksum sha2 is map-side; the verification join's manifest side
    is per-consignment KBs (broadcast); the rollup is one partial-agg
    groupBy(consignment). Nothing funnels through a single task.
    """
    src = members.select(
        F.col(consignment_col).alias("consignment"),
        F.col(name_col).alias("name"),
        F.col(content_col).alias("content"),
    )

    manifests = batch_manifest_entries(src)
    computed = src.select(
        "consignment",
        F.col("name").alias("file"),
        F.sha2(F.col("content").cast("binary"), 256).alias("actual"),
    )

    # J2, batched: manifest → files left join on (consignment, file).
    # The reference's bad-filter keeps rows with a manifest entry whose
    # file is missing OR mismatched (expected.isNotNull() in the
    # sequential stage) — a left join IS that filter.
    kord = F.when(F.col("kind") == KIND_ROOT, F.lit(0)).otherwise(F.lit(1))
    report = (
        manifests.select(
            "consignment", "kind", "file",
            F.col("checksum").alias("expected"),
        )
        .join(computed, ["consignment", "file"], "left")
        .select(
            "consignment",
            "kind",
            kord.alias("kord"),
            "file",
            "expected",
            "actual",
            (
                F.col("actual").isNull()
                | (F.col("actual") != F.col("expected"))
            ).alias("bad"),
        )
    )

    bad_struct = F.when(
        F.col("bad"),
        F.struct(
            F.col("kord"), F.col("file"), F.col("expected"), F.col("actual")
        ),
    )
    per_manifest = report.groupBy("consignment").agg(
        F.sum(F.when(F.col("kind") == KIND_ROOT, 1).otherwise(0))
        .cast("long")
        .alias("n_root_listed"),
        F.sum(F.when(F.col("kind") == KIND_DATA, 1).otherwise(0))
        .cast("long")
        .alias("n_data_listed"),
        F.sum(
            F.when((F.col("kind") == KIND_ROOT) & F.col("bad"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_root_bad"),
        F.sum(
            F.when((F.col("kind") == KIND_DATA) & F.col("bad"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_data_bad"),
        # first error = min (kord, file): tagmanifest wins over data
        # manifest, then file order — the sequential stage's raise order
        F.min(bad_struct).alias("first_bad"),
    )

    extracted = src.groupBy("consignment").agg(
        F.count("*").cast("long").alias("n_extracted"),
        F.sum(F.when(F.col("name").startswith("data/"), 1).otherwise(0))
        .cast("long")
        .alias("n_data_extracted"),
    )

    joined = extracted.join(per_manifest, "consignment", "left").select(
        "consignment",
        F.coalesce("n_root_listed", F.lit(0)).alias("n_root_listed"),
        F.coalesce("n_data_listed", F.lit(0)).alias("n_data_listed"),
        F.coalesce("n_root_bad", F.lit(0)).alias("n_root_bad"),
        F.coalesce("n_data_bad", F.lit(0)).alias("n_data_bad"),
        "n_extracted",
        "n_data_extracted",
        "first_bad",
    )

    # manifests_total = the tagmanifest file itself (+1) + every listed
    # root + data file (sequential stage's arithmetic verbatim)
    manifests_total = (
        F.lit(1) + F.col("n_root_listed") + F.col("n_data_listed")
    )
    n_bad_for_first = F.when(
        F.col("first_bad.kord") == 0, F.col("n_root_bad")
    ).otherwise(F.col("n_data_bad"))
    checksum_error = F.concat(
        F.lit('Object "'),
        F.col("consignment"),
        F.lit("/"),
        F.col("first_bad.file"),
        F.lit('" checksum "'),
        F.coalesce(F.col("first_bad.actual"), F.lit("None")),
        F.lit('" does not match expected checksum "'),
        F.col("first_bad.expected"),
        F.lit('" ('),
        n_bad_for_first.cast("string"),
        F.lit(" problem file(s) total)"),
    )
    total_count_error = F.concat(
        F.lit("Incorrect total file count; "),
        manifests_total.cast("string"),
        F.lit(" in manifest, but "),
        F.col("n_extracted").cast("string"),
        F.lit(" found"),
    )
    data_count_error = F.concat(
        F.lit("Incorrect data file count; "),
        F.col("n_data_listed").cast("string"),
        F.lit(" in manifest but "),
        F.col("n_data_extracted").cast("string"),
        F.lit(" found"),
    )
    error = (
        F.when(F.col("first_bad").isNotNull(), checksum_error)
        .when(F.col("n_extracted") != manifests_total, total_count_error)
        .when(
            F.col("n_data_listed") != F.col("n_data_extracted"),
            data_count_error,
        )
    )
    return joined.select(
        "consignment",
        F.when(error.isNull(), F.lit(STATUS_OK))
        .otherwise(F.lit("error"))
        .alias("status"),
        error.alias("error"),
        "n_root_listed",
        "n_data_listed",
        "n_root_bad",
        "n_data_bad",
        "n_extracted",
        "n_data_extracted",
        F.col("first_bad.file").alias("first_bad_file"),
        F.col("first_bad.expected").alias("first_bad_expected"),
        F.col("first_bad.actual").alias("first_bad_actual"),
    )


def validate_bagit_files_batch(
    spark: SparkSession, events: list[dict], ctx: StageContext
) -> list[dict]:
    """bagit-received* → (bagit-validated | bagit-validation-error)* —
    ALL consignments in one set of Spark jobs.

    Returns one output event per input event, in input order, with the
    same parameters + error strings as running
    :func:`..plans.stages.validate_bagit_files` per event (sequential /
    batch equivalence is pytest-asserted). Consignments are keyed by
    their unpacked root (``consignments/{type}/{reference}/{uuid}/...``) —
    the reference's (type, reference, retry) grouping — so duplicate
    references in one batch stay distinct.

    Driver-side cost is O(batch): the N-row report, the manifest-sized
    validated-file lists the events must carry, and the extracted-name
    lists per consignment. Data-proportional work (untar, sha2, joins,
    count rollups) is all executor-side, one job each for the whole batch.
    """
    plans: list[dict] = []
    for event in events:
        validate_event(event, EVENT_BAGIT_RECEIVED)
        params = event["parameters"][EVENT_BAGIT_RECEIVED]
        s3_bagit_name = params["s3-bagit-name"]
        unpacked_root = (
            s3_bagit_name[: -len(".tar.gz")]
            if s3_bagit_name.endswith(".tar.gz")
            else s3_bagit_name
        )
        plans.append(
            {
                "event": event,
                "reference": params["reference"],
                "store": params["s3-bucket"],
                "s3_bagit_name": s3_bagit_name,
                "out_prefix": os.path.split(s3_bagit_name)[0],
                "unpacked_root": unpacked_root,
                "archive_path": f"{params['s3-bucket']}/{s3_bagit_name}",
            }
        )
    if not plans:
        return []
    if len({p["store"] for p in plans}) != 1:
        raise ValueError("one batch = one store root")
    store = plans[0]["store"]

    # 1+2) ONE binaryFile scan over every archive, keyed by its archive
    # path, then ONE untar fan-out whose ``archive`` column is that key.
    # Report-mode untar: a corrupt delivery yields one error row instead
    # of failing the whole batch job — that consignment routes to its own
    # error event below, everyone else proceeds
    archives = read_keyed_catalog(
        spark, [(p["archive_path"], p["archive_path"]) for p in plans]
    )
    members = untar(archives, path_col="key", on_error="report")
    plan_df = local_df(
        spark,
        [
            (p["archive_path"], p["unpacked_root"], p["out_prefix"])
            for p in plans
        ],
        "archive string, unpacked_root string, out_prefix string",
    )
    # persisted ONCE: four downstream actions (counts, member write,
    # validation report, manifest-list collect) all derive from the
    # untarred member set — without the persist each action would re-scan
    # and re-untar EVERY archive (MEMORY_AND_DISK: the member set is the
    # same bytes a task already held during untar, spilled if large)
    keyed = members.join(F.broadcast(plan_df), "archive").persist()
    _cached_members = keyed  # keep the handle: `keyed` is reassigned below
    # and unpersist() on a derived frame would silently leak the cache

    # Per-consignment unpack error + extracted count in ONE aggregation.
    # The count covers EVERY member the archive produced, including a
    # malformed tar's stray siblings outside the unpacked root — the
    # sequential stage's extracted_total sees those too, and the count
    # checks below must agree with it.
    unpack_errors: dict[str, str] = {}
    n_all_by_root: dict[str, int] = {}
    for r in keyed.groupBy("unpacked_root").agg(
        F.count("name").alias("n"), F.max("error").alias("error")
    ).collect():
        n_all_by_root[r["unpacked_root"]] = r["n"]
        if r["error"] is not None:
            unpack_errors[r["unpacked_root"]] = r["error"]
    keyed = keyed.filter(F.col("error").isNull())
    live_roots = [
        p["unpacked_root"]
        for p in plans
        if p["unpacked_root"] not in unpack_errors
    ]

    # 3) ONE distributed member write for every consignment (members land
    # under {store}/{out_prefix}/{name}, the untar-in-place layout)
    to_write = keyed.select(
        F.when(
            F.col("out_prefix") != "",
            F.concat_ws("/", F.col("out_prefix"), F.col("name")),
        )
        .otherwise(F.col("name"))
        .alias("name"),
        "content",
    )
    _write_members(to_write, store)

    # 4+5+6) manifests + checksums + counts: one relational report over
    # member rows STILL IN FLIGHT (never re-read from the store). Members
    # inside the unpacked root are named relative to it (the report's
    # name contract); top-level siblings can't occur in a bagit archive.
    rel_members = keyed.filter(
        F.col("name").startswith(F.concat(F.element_at(F.split(F.col("unpacked_root"), "/"), -1), F.lit("/")))
    ).select(
        F.col("unpacked_root").alias("consignment"),
        F.expr(
            "substring(name, length(element_at(split(unpacked_root, '/'), -1)) + 2)"
        ).alias("name"),
        "content",
    )
    report_rows = {
        r["consignment"]: r
        for r in batch_validation_report(rel_members).collect()
    }
    manifest_lists = {}
    for r in (
        batch_manifest_entries(rel_members)
        .select("consignment", "kind", "file")
        .collect()
    ):
        manifest_lists.setdefault(r["consignment"], {KIND_ROOT: [], KIND_DATA: []})[
            r["kind"]
        ].append(r["file"])

    # 7) store re-listing audit, ONE scan: the sequential stage's third
    # count check (extracted vs what the store now actually holds)
    listing_counts: dict[str, int] = {}
    if live_roots:
        listing_counts = {
            r["key"]: r["count"]
            for r in read_keyed_catalog(
                spark, [(r, f"{store}/{r}") for r in live_roots],
                with_content=False,
            )
            .groupBy("key")
            .count()
            .collect()
        }
    _cached_members.unpersist()

    out_events: list[dict] = []
    for p in plans:
        root = p["unpacked_root"]
        reference = p["reference"]
        rep = report_rows.get(root)
        lists = manifest_lists.get(root, {KIND_ROOT: [], KIND_DATA: []})
        error: str | None = None
        if root in unpack_errors:
            error = (
                f'Unpack failed for "{p["archive_path"]}": '
                f"{unpack_errors[root]}"
            )
        elif rep is None:
            error = f'Object "{p["archive_path"]}" produced no members'
        elif rep["first_bad_file"] is not None:
            # checksum errors come from the relational report (same
            # message + precedence as the sequential stage's raises)
            error = rep["error"]
        else:
            # the three count checks, in the sequential stage's order and
            # with ITS operands: totals include stray members outside the
            # unpacked root (n_all), which the root-relative report can't
            # see — driver-side arithmetic on already-collected counts
            n_all = n_all_by_root.get(root, 0)
            manifests_total = 1 + rep["n_root_listed"] + rep["n_data_listed"]
            n_listed = listing_counts.get(root, 0)
            if n_all != manifests_total:
                error = (
                    f"Incorrect total file count; {manifests_total} in "
                    f"manifest, but {n_all} found"
                )
            elif rep["n_data_listed"] != rep["n_data_extracted"]:
                error = (
                    f"Incorrect data file count; {rep['n_data_listed']} in "
                    f"manifest but {rep['n_data_extracted']} found"
                )
            elif n_listed != n_all:
                error = (
                    f"Incorrect data file count; {n_all} "
                    f"extracted but {n_listed} found"
                )
        if error is not None:
            out_events.append(
                ctx.emit_error(
                    EVENT_BAGIT_ERROR, p["event"], reference, ValueError(error)
                )
            )
            continue
        # sorted for determinism: the sequential stage carries manifest
        # LINE order, which a distributed explode+collect can't promise —
        # equivalence tests compare as sorted sets
        validated = {
            "path": root,
            "root": sorted(f"{root}/{f}" for f in lists[KIND_ROOT]),
            "data": sorted(f"{root}/{f}" for f in lists[KIND_DATA]),
        }
        out_events.append(
            ctx.emit(
                EVENT_BAGIT_VALIDATED,
                p["event"],
                {
                    EVENT_BAGIT_VALIDATED: {
                        "reference": reference,
                        "s3-bucket": store,
                        "s3-bagit-name": p["s3_bagit_name"],
                        "s3-object-root": root,
                        "validated-files": validated,
                    }
                },
            )
        )
    return out_events


def validate_bagit_batch(
    spark: SparkSession, events: list[dict], ctx: StageContext
) -> list[dict]:
    """bagit-available* → (bagit-received | bagit-validation-error)* —
    the stage-A batch twin (sequential form: stages.validate_bagit,
    reference tre_vb_validate_bagit.py:43-161), ALL deliveries in one set
    of Spark jobs:

    1. ONE distributed STREAMED copy of every delivery's archive +
       sidecar into its consignment store prefix
       (``consignments/{type}/{reference}/{uuid}/``) — fixed 5 MB blocks
       through pyarrow filesystem streams with a running SHA-256 folded
       during the transfer (:func:`..sources.ingest.copy_objects_streamed`;
       the reference's multipart copy + checksum fold,
       object_lib.py:87-171 / checksum_lib.py:101-119). A multi-GB bagit
       never materializes as a Spark row. The running digest IS the
       stored bytes' digest, so no second read pass hashes the archive.
    2. ONE scan over the (tiny) stored sidecars parsing every manifest,
       each row keyed by its consignment prefix with one broadcast join
       (:func:`..sources.catalog.read_keyed_catalog`),
    3. ONE joined report applying the stage's checks per consignment, in
       its order and with its error strings: exactly-one sidecar row →
       basename parity → archive checksum. A failed copy (unreadable
       source, full disk) routes that consignment to the error event with
       the transfer error — the batch twin's report-then-route upgrade
       over the sequential stage's uncaught IOError.

    Emits one event per input event, in order, matching the sequential
    stage (pytest-asserted equivalence).
    """
    plans: list[dict] = []
    for event in events:
        validate_event(event, EVENT_BAGIT_AVAILABLE)
        params = event["parameters"][EVENT_BAGIT_AVAILABLE]
        bagit_url = params["resource"]["value"]
        sha_url = params["resource-validation"]["value"]
        prefix = (
            f"consignments/{event['producer']['type']}/"
            f"{params['reference']}/{latest_uuid(event)}"
        )
        bagit_name = os.path.basename(bagit_url)
        plans.append(
            {
                "event": event,
                "reference": params["reference"],
                "prefix": prefix,
                "bagit_url": bagit_url,
                "sha_url": sha_url,
                "bagit_name": bagit_name,
                "sha_name": os.path.basename(sha_url),
                "s3_bagit_name": f"{prefix}/{bagit_name}",
            }
        )
    if not plans:
        return []

    # 1) one distributed streamed copy of every delivery file; the
    # running digest doubles as the stored archive's checksum (no second
    # read pass over archive bytes, which never ride a row)
    from ..sources.ingest import copy_objects_streamed

    copy_rows = [
        (p[src_key], f"{ctx.store_root}/{p['prefix']}/{p[name_key]}")
        for p in plans
        for src_key, name_key in (
            ("bagit_url", "bagit_name"),
            ("sha_url", "sha_name"),
        )
    ]
    copy_df = local_df(spark, copy_rows, "src string, dest string")
    copy_results = {
        r["dest"]: r for r in copy_objects_streamed(copy_df).collect()
    }

    # 2) one scan over the stored sidecars only (KBs each) → keyed
    # manifest rows; archives are NOT re-read
    sidecars = [
        (p["prefix"], f"{ctx.store_root}/{p['prefix']}/{p['sha_name']}")
        for p in plans
    ]
    sidecars = [
        (key, path) for key, path in sidecars
        if copy_results.get(path, {"ok": False})["ok"]
    ]
    m_agg_rows = {}
    if sidecars:
        manifests = manifest_from_lines(
            read_keyed_catalog(spark, sidecars).select("key", "content"),
            "content",
        )
        m_agg_rows = {
            r["key"]: r
            for r in manifests.groupBy("key")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.min(F.struct("checksum", "file", "basename")).alias(
                    "entry"
                ),
            )
            .collect()
        }

    # 3) the stage's checks, its order, its strings — driver-side
    # arithmetic over the N collected rows (control-plane)
    out_events: list[dict] = []
    for p in plans:
        bagit_dest = f"{ctx.store_root}/{p['prefix']}/{p['bagit_name']}"
        sha_dest = f"{ctx.store_root}/{p['prefix']}/{p['sha_name']}"
        bagit_copy = copy_results.get(bagit_dest)
        sha_copy = copy_results.get(sha_dest)
        r = m_agg_rows.get(p["prefix"])
        error: str | None = None
        if bagit_copy is None or not bagit_copy["ok"]:
            error = (
                "Transfer failed for "
                f'"{p["bagit_url"]}": '
                f'{bagit_copy["error"] if bagit_copy else "not attempted"}'
            )
        elif sha_copy is None or not sha_copy["ok"]:
            error = (
                "Transfer failed for "
                f'"{p["sha_url"]}": '
                f'{sha_copy["error"] if sha_copy else "not attempted"}'
            )
        elif (r["n_rows"] if r is not None else 0) != 1:
            n_rows = r["n_rows"] if r is not None else 0
            error = f"Incorrect number of checksums; expected 1, found {n_rows}"
        else:
            entry = r["entry"]
            if entry["basename"] != p["bagit_name"]:
                error = (
                    f'The name "{entry["basename"]}" (derived from manifest '
                    f'file entry) does not match the value '
                    f'"{p["bagit_name"]}" (derived from the input URL)'
                )
            elif bagit_copy["sha256"] != entry["checksum"]:
                error = (
                    f'Checksum mismatch for "{p["s3_bagit_name"]}": expected '
                    f'"{entry["checksum"]}", calculated '
                    f'"{bagit_copy["sha256"]}"'
                )
        if error is not None:
            out_events.append(
                ctx.emit_error(
                    EVENT_BAGIT_ERROR, p["event"], p["reference"],
                    ValueError(error),
                )
            )
        else:
            out_events.append(
                ctx.emit(
                    EVENT_BAGIT_RECEIVED,
                    p["event"],
                    {
                        EVENT_BAGIT_RECEIVED: {
                            "reference": p["reference"],
                            "s3-bucket": ctx.store_root,
                            "s3-bagit-name": p["s3_bagit_name"],
                        }
                    },
                )
            )
    return out_events


EVENT_SIP_AVAILABLE = "dri-preingest-sip-available"
EVENT_SIP_ERROR = "dri-preingest-sip-error"


def bagit_to_dri_sip_batch(
    spark: SparkSession, events: list[dict], ctx: StageContext
) -> list[dict]:
    """bagit-validated* → (dri-preingest-sip-available |
    dri-preingest-sip-error)* — the stage-3 batch twin (sequential form:
    stages.bagit_to_dri_sip, reference tre_bagit_to_dri_sip.py:38-150),
    ALL consignments' SIPs built in one set of Spark jobs:

    1. ONE scan collects every bag-info.txt (N×a-dozen kv rows —
       config-plane), keyed by consignment root with one broadcast join
       (:func:`..sources.catalog.read_keyed_catalog`); per-consignment
       :func:`..operators.dri_sip.dri_config` naming is driver
       arithmetic. Config failures (missing keys, malformed reference)
       route that consignment to the error event and drop it from the
       batch, like the sequential try/except.
    2. ONE manifest scan + ONE file-metadata.csv scan, each keyed by the
       same broadcast join (all files in one spark.read.csv, keyed by
       :func:`..sources.catalog.key_by_root` — the batch therefore assumes a
       uniform TDR header vocabulary across its consignments; mix v1.1
       and v1.2 batches by grouping on vocabulary first). The read sets
       ``enforceSchema=false`` so EVERY file's header row is validated
       positionally against the schema taken from the first file — a
       consignment whose CSV carries the same column names in a
       different order fails the read loudly instead of silently
       landing values in the wrong columns.
    3. ONE plan renders every consignment's metadata.csv + closure.csv
       (dri_metadata_keyed / dri_closure_keyed over a broadcast config
       dim; per-group CSV text via render_csv_by_key — byte-identical to
       the sequential render).
    4. ONE distributed write lands CSVs, .sha256 sidecars (sha2 over the
       in-flight CSV text — the same bytes the file holds), and schema
       files under each ``{root}/sip/``.
    5. ONE keyed scan of every ``data/`` and ``sip/`` tree, then ONE
       tar_gz_pack call packs every SIP (applyInPandas groups by
       archive — one task per consignment's tar.gz, the same per-archive
       memory model as the sequential stage; member names drop the keyed
       root's URI), then one distributed write lands each archive + its
       sidecar under ``ctx.out_root``.

    Note on error isolation: after config build, the remaining work is
    one fused job set — an engine-side strict-enum error (dri_sip P1
    parity raises) fails the whole batch rather than one consignment.
    Consignments reaching this stage already passed full checksum
    validation, so that is the rare path; when per-consignment isolation
    matters more than batch throughput, run the sequential stage.
    """
    from ..operators.dri_sip import (
        dri_closure_keyed,
        dri_config,
        dri_metadata_keyed,
    )
    from ..schemas import DRI_CLOSURE_COLUMNS, DRI_METADATA_COLUMNS
    from ..sources.archive import tar_gz_pack
    from ..sources.bagit import FILE_METADATA_COLUMNS_V11
    from ..sources.sinks import render_csv_by_key
    from .stages import _dri_schema_text

    plans: list[dict] = []
    for event in events:
        validate_event(event, EVENT_BAGIT_VALIDATED)
        params = event["parameters"][EVENT_BAGIT_VALIDATED]
        plans.append(
            {
                "event": event,
                "reference": params["reference"],
                "store": params["s3-bucket"],
                "root": params["s3-object-root"],
            }
        )
    if not plans:
        return []
    if len({p["store"] for p in plans}) != 1:
        raise ValueError("one batch = one store root")
    store = plans[0]["store"]

    def under_roots(ps, name):
        return [(p["root"], f"{store}/{p['root']}/{name}") for p in ps]

    # 1) config: one scan over every bag-info.txt, parsed driver-side
    # with the reference's left-most-colon split (object_lib.py:211-228)
    info_by_root: dict[str, dict] = {}
    for r in read_keyed_catalog(
        spark, under_roots(plans, "bag-info.txt")
    ).select("key", "content").collect():
        kv = info_by_root[r["key"]] = {}
        for line in bytes(r["content"]).decode().splitlines():
            if line.strip():
                k, _, v = line.partition(":")
                kv[k.strip()] = v.strip()

    out_events: dict[int, dict] = {}
    live: list[dict] = []
    for i, p in enumerate(plans):
        try:
            info = info_by_root.get(p["root"])
            if info is None:
                raise ValueError(f"bag-info.txt not found under {p['root']}")
            dc = dri_config(p["reference"], info["Consignment-Series"])
            p["dc"] = dc
            p["export_dt"] = info["Consignment-Export-Datetime"]
            p["index"] = i
            live.append(p)
        except (KeyError, ValueError) as exc:
            msg = (
                f"missing bag-info key: {exc}"
                if isinstance(exc, KeyError)
                else str(exc)
            )
            out_events[i] = ctx.emit_error(
                EVENT_SIP_ERROR, p["event"], p["reference"], ValueError(msg)
            )
    if not live:
        return [out_events[i] for i in range(len(plans))]

    # 2) keyed manifest + file-metadata scans (one job each)
    manifest = manifest_from_lines(
        read_keyed_catalog(
            spark, under_roots(live, "manifest-sha256.txt")
        ).select(F.col("key").alias("consignment"), "content"),
        "content",
    )
    fm_roots = under_roots(live, "file-metadata.csv")
    fm = (
        key_by_root(
            spark.read.option("enforceSchema", False).csv(
                [path for _, path in fm_roots],
                header=True,
                inferSchema=False,
                escape='"',
            ),
            fm_roots,
        )
        .withColumnRenamed("key", "consignment")
        .drop("uri")
        .na.fill("")
        .withColumn("_row_order", F.monotonically_increasing_id())
    )
    missing = [c for c in FILE_METADATA_COLUMNS_V11 if c not in fm.columns]
    if missing:
        raise ValueError(
            f"file-metadata.csv missing required columns: {missing}"
        )

    config_df = local_df(spark, 
        [
            (
                p["root"],
                p["reference"],
                p["export_dt"],
                p["dc"]["IDENTIFIER_PREFIX"],
            )
            for p in live
        ],
        "consignment string, reference string, export_datetime string,"
        " identifier_prefix string",
    )

    # 3) every consignment's CSV text in one plan each
    md_csv = render_csv_by_key(
        dri_metadata_keyed(fm, manifest, config_df),
        "consignment",
        DRI_METADATA_COLUMNS,
    )
    cl_csv = render_csv_by_key(
        dri_closure_keyed(fm, config_df), "consignment", DRI_CLOSURE_COLUMNS
    )

    # 4) SIP metadata files: CSVs + sidecars + schema files → one write
    name_dim = local_df(spark, 
        [
            (
                p["root"],
                p["dc"]["METADATA_IN_SIP"],
                p["dc"]["CLOSURE_IN_SIP"],
                p["dc"]["METADATA_CHECKSUM_IN_SIP"],
                p["dc"]["CLOSURE_CHECKSUM_IN_SIP"],
                p["dc"]["METADATA"],
                p["dc"]["CLOSURE"],
            )
            for p in live
        ],
        "consignment string, md_key string, cl_key string, md_side string,"
        " cl_side string, md_name string, cl_name string",
    )

    def _sip_files(csv_df, key_col, side_col, name_col):
        j = csv_df.join(F.broadcast(name_dim), "consignment")
        sip = F.concat(F.col("consignment"), F.lit("/sip/"))
        return j.select(
            F.concat(sip, F.col(key_col)).alias("name"),
            F.col("csv").cast("binary").alias("content"),
        ).unionByName(
            j.select(
                F.concat(sip, F.col(side_col)).alias("name"),
                F.concat(
                    F.sha2(F.col("csv").cast("binary"), 256),
                    F.lit("  "),
                    F.col(name_col),
                    F.lit("\n"),
                )
                .cast("binary")
                .alias("content"),
            )
        )

    schema_rows = [
        (
            f"{p['root']}/sip/{p['dc'][dest_key]}",
            _dri_schema_text(schema_name).encode(),
        )
        for p in live
        for schema_name, dest_key in (
            ("metadata-schema.txt", "METADATA_SCHEMA_IN_SIP"),
            ("closure-schema.txt", "CLOSURE_SCHEMA_IN_SIP"),
        )
    ]
    sip_meta = (
        _sip_files(md_csv, "md_key", "md_side", "md_name")
        .unionByName(_sip_files(cl_csv, "cl_key", "cl_side", "cl_name"))
        .unionByName(
            local_df(spark, schema_rows, "name string, content binary")
        )
    )
    _write_members(sip_meta, store)

    # 5) one pack job for every SIP, then one archive+sidecar write
    pack_dim = local_df(spark, 
        [
            (
                p["root"],
                p["dc"]["BATCH"] + ".tar.gz",
                p["dc"]["INTERNAL_PREFIX"],
            )
            for p in live
        ],
        "consignment string, zip_name string, internal_prefix string",
    )

    def pack_members(subdir, rm):
        # rm: the path prefix each tar member name drops, built from the
        # keyed root's URI (data/ loses "{uri}/", sip/ the internal prefix)
        return (
            read_keyed_catalog(spark, under_roots(live, subdir))
            .withColumnRenamed("key", "consignment")
            .join(F.broadcast(pack_dim), "consignment")
            .withColumn("rm", rm)
            .filter(F.col("path").startswith(F.col("rm")))
            .select(
                "consignment",
                F.col("zip_name").alias("archive"),
                F.col("path").alias("name"),
                "content",
                F.unix_timestamp("modificationTime").alias("mtime"),
                "rm",
                F.col("internal_prefix").alias("add"),
            )
        )

    data_members = pack_members("data", F.concat(F.col("uri"), F.lit("/")))
    meta_members = pack_members(
        "sip", F.concat(F.col("uri"), F.lit("/"), F.col("internal_prefix"))
    )
    packed = tar_gz_pack(
        data_members.unionByName(meta_members),
        remove_prefix_col="rm",
        add_prefix_col="add",
    )
    zip_to_root = {p["dc"]["BATCH"] + ".tar.gz": p["root"] for p in live}
    if len(zip_to_root) != len(live):
        raise ValueError("duplicate SIP batch names in one batch")
    zip_dim = local_df(spark, 
        [(z, r) for z, r in zip_to_root.items()], "archive string, root string"
    )
    to_out = packed.join(F.broadcast(zip_dim), "archive").select(
        F.concat(
            F.col("root"), F.lit("/sip/"), F.col("archive")
        ).alias("name"),
        "content",
        F.concat(
            F.sha2(F.col("content").cast("binary"), 256),
            F.lit("  "),
            F.col("archive"),
            F.lit("\n"),
        ).alias("sidecar"),
    )
    sidecars = to_out.select(
        F.concat(F.col("name"), F.lit(".sha256")).alias("name"),
        F.col("sidecar").cast("binary").alias("content"),
    )
    _write_members(
        to_out.select("name", "content").unionByName(sidecars),
        ctx.out_root,
    )

    for p in live:
        zip_key = f"{p['root']}/sip/{p['dc']['BATCH']}.tar.gz"
        out_path = f"{ctx.out_root}/{zip_key}"
        out_events[p["index"]] = ctx.emit(
            EVENT_SIP_AVAILABLE,
            p["event"],
            {
                EVENT_SIP_AVAILABLE: {
                    "reference": p["reference"],
                    "s3-folder-url": out_path,
                    "s3-sha256-url": out_path + ".sha256",
                    "file-type": "TAR",
                }
            },
        )
    return [out_events[i] for i in range(len(plans))]


def validate_consignments_batch(
    spark: SparkSession,
    events: list[dict],
    ctx: StageContext,
    to_sip: bool = False,
    between_stages=None,
) -> list[dict]:
    """The full intake chain, batched: bagit-available* → stage A
    (:func:`validate_bagit_batch`) → stage B
    (:func:`validate_bagit_files_batch`) → optionally stage 3
    (:func:`bagit_to_dri_sip_batch` when ``to_sip``) → one terminal
    event per input consignment (``bagit-validated`` /
    ``dri-preingest-sip-available`` or the first failing stage's error).
    Failures at each stage short-circuit (those consignments never enter
    the next stage, exactly like the sequential state machine routing
    errors away); everything else flows through as ONE job set per stage
    regardless of N — the whole nightly intake is three job sets.

    ``between_stages(label)`` (optional) is called after each stage's
    job set completes — the chaos harness uses it to kill the driver
    BETWEEN job sets and prove a restart replays the chain to the same
    terminal events with no duplicates (store writes are overwrite-
    idempotent, so a half-run chain converges on replay)."""

    def advance(current: list[dict], ok_name: str, stage_fn) -> list[dict]:
        ok_idx = [
            i
            for i, e in enumerate(current)
            if e["producer"]["event-name"] == ok_name
        ]
        if not ok_idx:
            return current
        nxt = stage_fn(spark, [current[i] for i in ok_idx], ctx)
        out = list(current)
        for i, v in zip(ok_idx, nxt):
            out[i] = v
        return out

    out = validate_bagit_batch(spark, events, ctx)
    if between_stages:
        between_stages("A")
    out = advance(out, EVENT_BAGIT_RECEIVED, validate_bagit_files_batch)
    if between_stages:
        between_stages("B")
    if to_sip:
        out = advance(out, EVENT_BAGIT_VALIDATED, bagit_to_dri_sip_batch)
        if between_stages:
            between_stages("SIP")
    return out


def orchestrated_batch_stage(
    ctx: StageContext, to_sip: bool = False, between_stages=None
):
    """Bridge the batched intake chain into the streaming orchestrator
    (:func:`..streaming.orchestrator.run_pipeline`): returns a stage
    function for the ``stages`` dict, keyed on ``bagit-available``. Each
    micro-batch (≤10 events under the reference's SQS trigger shape —
    control-plane to collect) runs the WHOLE chain as the batch twins'
    three job sets and emits one terminal event row per consignment to
    the orchestrator's events sink: (value, event_name, reference).

    This is the composed 100 TB shape: T1 trigger batching + T3/T10
    dedup/replay guards upstream in the orchestrator, then ONE job set
    per stage for everything the trigger admitted — instead of the
    reference's one state-machine execution per consignment."""
    import json

    def stage(spark: SparkSession, batch_df: DataFrame):
        events = [
            json.loads(r["value"])
            for r in batch_df.select("value").collect()
        ]
        if not events:
            return None
        out = validate_consignments_batch(
            spark, events, ctx, to_sip=to_sip, between_stages=between_stages
        )
        rows = [
            (
                json.dumps(e),
                e["producer"]["event-name"],
                e["parameters"][e["producer"]["event-name"]].get(
                    "reference"
                ),
            )
            for e in out
        ]
        return local_df(spark, 
            rows, "value string, event_name string, reference string"
        )

    return stage
