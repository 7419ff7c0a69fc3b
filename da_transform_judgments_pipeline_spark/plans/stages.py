"""Pipeline stages as composable event→event functions (SURVEY.md §3, §7.6).

Each stage reproduces one reference Lambda's semantics — event in, event out,
ok/error bifurcation from the same code path (T5) — but does its data work as
Spark plans: checksum verification is a parallel sha2 scan + join instead of a
sequential per-file loop, reconciliation is anti-joins instead of count
equality, untar fans out across executors.

The "bucket" is any Spark-readable filesystem root (file:// in tests,
s3a://bucket in production); object keys are paths under it. Stage citations:

- validate_bagit        ← tre-vb-validate-bagit/tre_vb_validate_bagit.py:43-161
- validate_bagit_files  ← tre-vb-validate-bagit-files/tre_vb_validate_bagit_files.py:40-174
- bagit_to_dri_sip      ← tre-bagit-to-dri-sip/tre_bagit_to_dri_sip.py:38-150
"""

from __future__ import annotations

import importlib.resources
import os
import re
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.dri_sip import (
    dri_closure,
    dri_config,
    dri_metadata,
    to_closure_csv,
    to_metadata_csv,
)
from ..operators.validation import (
    STATUS_OK,
    assert_exactly_one,
    basename_matches,
    checksum_report,
    computed_checksums,
)
from ..sources.archive import untar
from ..sources.bagit import bag_info_to_dict, read_bag_info, read_file_metadata
from ..sources.catalog import read_file_catalog
from ..sources.manifest import read_manifest
from ..sources.sinks import write_single_text
from .events import create_event, latest_uuid, validate_event

EVENT_BAGIT_AVAILABLE = "bagit-available"
EVENT_BAGIT_RECEIVED = "bagit-received"
EVENT_BAGIT_VALIDATED = "bagit-validated"
EVENT_BAGIT_ERROR = "bagit-validation-error"
EVENT_SIP_AVAILABLE = "dri-preingest-sip-available"
EVENT_SIP_ERROR = "dri-preingest-sip-error"


class StageContext:
    """Producer identity + store roots for a pipeline deployment (the
    reference's TRE_* environment variables)."""

    def __init__(
        self,
        environment: str = "test",
        producer: str = "TRE",
        process: str = "da_transform_judgments_pipeline_spark",
        store_root: str = "/tmp/tre-store",
        out_root: str | None = None,
    ):
        self.environment = environment
        self.producer = producer
        self.process = process
        self.store_root = store_root.rstrip("/")
        self.out_root = (out_root or store_root).rstrip("/")

    def emit(self, event_name: str, prior: dict, parameters: dict) -> dict:
        return create_event(
            environment=self.environment,
            producer=self.producer,
            process=self.process,
            event_name=event_name,
            parameters=parameters,
            prior_event=prior,
        )

    def emit_error(self, error_event_name: str, prior: dict, reference: str,
                   exc: Exception) -> dict:
        return self.emit(
            error_event_name,
            prior,
            {error_event_name: {"reference": reference, "errors": [str(exc)]}},
        )


def _sha256_of(spark: SparkSession, path: str) -> str:
    # streamed (5 MB blocks, content never a row) so a multi-GB bagit or
    # SIP archive hashes in bounded memory — same digest as sha2(content)
    from ..operators.validation import computed_checksums_streamed

    row = computed_checksums_streamed(
        read_file_catalog(spark, path, with_content=False)
    ).first()
    if row is None:
        raise ValueError(f"Object not found: {path}")
    return row["actual"]


def validate_bagit(spark: SparkSession, event: dict, ctx: StageContext) -> dict:
    """bagit-available → bagit-received | bagit-validation-error.

    Copies the bagit + sidecar into
    `{store}/consignments/{type}/{reference}/{uuid}/`, requires exactly one
    sidecar checksum row, checks basename parity, verifies the archive's
    SHA-256 (reference: tre_vb_validate_bagit.py:43-161).
    """
    validate_event(event, EVENT_BAGIT_AVAILABLE)
    params = event["parameters"][EVENT_BAGIT_AVAILABLE]
    reference = params["reference"]
    bagit_url = params["resource"]["value"]
    sha_url = params["resource-validation"]["value"]
    consignment_type = event["producer"]["type"]
    event_uuid = latest_uuid(event)

    try:
        prefix = f"consignments/{consignment_type}/{reference}/{event_uuid}"
        bagit_name = os.path.basename(bagit_url)
        sha_name = os.path.basename(sha_url)
        s3_bagit_name = f"{prefix}/{bagit_name}"
        dest_dir = f"{ctx.store_root}/{prefix}"
        os.makedirs(dest_dir, exist_ok=True)
        shutil.copyfile(bagit_url, f"{dest_dir}/{bagit_name}")
        shutil.copyfile(sha_url, f"{dest_dir}/{sha_name}")

        manifest = read_manifest(spark, f"{dest_dir}/{sha_name}")
        entry = assert_exactly_one(manifest, "checksums")
        basename_matches(entry["basename"], bagit_name)

        actual = _sha256_of(spark, f"{dest_dir}/{bagit_name}")
        if actual != entry["checksum"]:
            raise ValueError(
                f'Checksum mismatch for "{s3_bagit_name}": expected '
                f'"{entry["checksum"]}", calculated "{actual}"'
            )

        return ctx.emit(
            EVENT_BAGIT_RECEIVED,
            event,
            {
                EVENT_BAGIT_RECEIVED: {
                    "reference": reference,
                    "s3-bucket": ctx.store_root,
                    "s3-bagit-name": s3_bagit_name,
                }
            },
        )
    except ValueError as e:
        return ctx.emit_error(EVENT_BAGIT_ERROR, event, reference, e)


def validate_bagit_files(
    spark: SparkSession, event: dict, ctx: StageContext
) -> dict:
    """bagit-received → bagit-validated | bagit-validation-error.

    Untars in place (executor-parallel), verifies tagmanifest + data manifest
    checksums as ONE parallel scan+join per manifest, reconciles counts
    (reference: tre_vb_validate_bagit_files.py:40-174). Validation failures
    carry the full mismatch list, not just the first (report-then-route
    upgrade; first error text matches the reference's shape).
    """
    validate_event(event, EVENT_BAGIT_RECEIVED)
    params = event["parameters"][EVENT_BAGIT_RECEIVED]
    reference = params["reference"]
    s3_bagit_name = params["s3-bagit-name"]
    store = params["s3-bucket"]

    try:
        bagit_path = f"{store}/{s3_bagit_name}"
        out_prefix = os.path.split(s3_bagit_name)[0]
        unpacked_root = (
            s3_bagit_name[: -len(".tar.gz")]
            if s3_bagit_name.endswith(".tar.gz")
            else s3_bagit_name
        )

        # untar in place: one task per archive, members written under the
        # archive's own prefix (distributed write via partition iterator)
        members = untar(read_file_catalog(spark, bagit_path))
        names = _write_members(members, f"{store}/{out_prefix}")
        # full keys, matching the reference's untar_s3_object return value
        extracted = [f"{out_prefix}/{n}" if out_prefix else n for n in names]

        # verify both manifests with a parallel checksum join
        root_dir = f"{store}/{unpacked_root}"
        validated = {"path": unpacked_root, "root": [], "data": []}
        for manifest_name, bucket_key in (
            ("tagmanifest-sha256.txt", "root"),
            ("manifest-sha256.txt", "data"),
        ):
            manifest = read_manifest(spark, f"{root_dir}/{manifest_name}")
            listed = [
                f"{unpacked_root}/{r['file']}"
                for r in manifest.select("file").collect()
            ]
            validated[bucket_key] = listed
            files = (
                read_file_catalog(spark, root_dir)
                .select(
                    F.regexp_replace(
                        F.col("path"), f"^file:{re.escape(store)}/{re.escape(unpacked_root)}/", ""
                    ).alias("file"),
                    "content",
                )
            )
            report = checksum_report(manifest, computed_checksums(files))
            bad = (
                report.filter(
                    (F.col("status") != STATUS_OK)
                    & F.col("expected").isNotNull()
                )
                .orderBy("file")
                .collect()
            )
            if bad:
                r = bad[0]
                raise ValueError(
                    f'Object "{unpacked_root}/{r.file}" checksum '
                    f'"{r.actual}" does not match expected checksum '
                    f'"{r.expected}" ({len(bad)} problem file(s) total)'
                )

        # count reconciliation (A3/J4)
        manifests_total = 1 + len(validated["root"]) + len(validated["data"])
        extracted_total = len(extracted)
        if extracted_total != manifests_total:
            raise ValueError(
                f"Incorrect total file count; {manifests_total} in "
                f"manifest, but {extracted_total} found"
            )
        data_dir = f"{unpacked_root}/data/"
        extracted_data = [e for e in extracted if e.startswith(data_dir)]
        if len(validated["data"]) != len(extracted_data):
            raise ValueError(
                f"Incorrect data file count; {len(validated['data'])} in "
                f"manifest but {len(extracted_data)} found"
            )
        listing = (
            read_file_catalog(spark, root_dir, with_content=False).count()
        )
        if listing != extracted_total:
            raise ValueError(
                f"Incorrect data file count; {extracted_total} extracted "
                f"but {listing} found"
            )

        return ctx.emit(
            EVENT_BAGIT_VALIDATED,
            event,
            {
                EVENT_BAGIT_VALIDATED: {
                    "reference": reference,
                    "s3-bucket": store,
                    "s3-bagit-name": s3_bagit_name,
                    "s3-object-root": unpacked_root,
                    "validated-files": validated,
                }
            },
        )
    except ValueError as e:
        return ctx.emit_error(EVENT_BAGIT_ERROR, event, reference, e)


def bagit_to_dri_sip(spark: SparkSession, event: dict, ctx: StageContext) -> dict:
    """bagit-validated → dri-preingest-sip-available | dri-preingest-sip-error.

    Reads bag-info/manifest/file-metadata from the unpacked bagit, runs the
    DRI transform (broadcast join + CASE plan), writes metadata.csv /
    closure.csv (+ .sha256 sidecars + schema files), packs the SIP tar.gz
    with prefix substitution, writes its sidecar (reference:
    tre_bagit_to_dri_sip.py:38-150).
    """
    validate_event(event, EVENT_BAGIT_VALIDATED)
    params = event["parameters"][EVENT_BAGIT_VALIDATED]
    reference = params["reference"]
    store = params["s3-bucket"]
    object_root = params["s3-object-root"]

    try:
        bagit_root = f"{store}/{object_root}"
        info = bag_info_to_dict(read_bag_info(spark, f"{bagit_root}/bag-info.txt"))
        manifest = read_manifest(spark, f"{bagit_root}/manifest-sha256.txt")
        fm = read_file_metadata(spark, f"{bagit_root}/file-metadata.csv")
        dc = dri_config(reference, info["Consignment-Series"])
        export_dt = info["Consignment-Export-Datetime"]

        sip_root = f"{bagit_root}/sip"
        md_df = dri_metadata(fm, manifest, reference, export_dt,
                             dc["IDENTIFIER_PREFIX"])
        cl_df = dri_closure(fm, dc["IDENTIFIER_PREFIX"])
        metadata_csv = to_metadata_csv(md_df)
        closure_csv = to_closure_csv(cl_df)
        write_single_text(closure_csv, f"{sip_root}/{dc['CLOSURE_IN_SIP']}")
        write_single_text(metadata_csv, f"{sip_root}/{dc['METADATA_IN_SIP']}")
        for key, sidecar in (
            ("METADATA", "METADATA_CHECKSUM_IN_SIP"),
            ("CLOSURE", "CLOSURE_CHECKSUM_IN_SIP"),
        ):
            csv_key = dc[f"{key}_IN_SIP"]
            digest = _sha256_of(spark, f"{sip_root}/{csv_key}")
            write_single_text(
                f"{digest}  {dc[key]}\n", f"{sip_root}/{dc[sidecar]}"
            )
        for schema_name, dest in (
            ("metadata-schema.txt", dc["METADATA_SCHEMA_IN_SIP"]),
            ("closure-schema.txt", dc["CLOSURE_SCHEMA_IN_SIP"]),
        ):
            write_single_text(_dri_schema_text(schema_name),
                              f"{sip_root}/{dest}")

        # pack: bagit data/ + sip metadata under INTERNAL_PREFIX (S15)
        from ..sources.archive import tar_gz_pack

        sip_zip_object = dc["BATCH"] + ".tar.gz"
        data_members = (
            untar_free_catalog(spark, f"{bagit_root}/data")
            .withColumn("rm", F.lit(f"file:{bagit_root}/data/"))
        )
        meta_members = (
            untar_free_catalog(spark, f"{sip_root}/{dc['INTERNAL_PREFIX']}")
            .withColumn("rm", F.lit(f"file:{sip_root}/{dc['INTERNAL_PREFIX']}"))
        )
        members = data_members.unionByName(meta_members).select(
            F.lit(sip_zip_object).alias("archive"),
            F.col("path").alias("name"),
            "content",
            F.unix_timestamp("modificationTime").alias("mtime"),
            "rm",
            F.lit(dc["INTERNAL_PREFIX"]).alias("add"),
        )
        packed = tar_gz_pack(
            members, remove_prefix_col="rm", add_prefix_col="add"
        ).collect()[0]
        sip_zip_key = f"{object_root}/sip/{sip_zip_object}"
        out_path = f"{ctx.out_root}/{sip_zip_key}"
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "wb") as f:
            f.write(bytes(packed["content"]))
        digest = _sha256_of(spark, out_path)
        write_single_text(f"{digest}  {sip_zip_object}\n", out_path + ".sha256")

        return ctx.emit(
            EVENT_SIP_AVAILABLE,
            event,
            {
                EVENT_SIP_AVAILABLE: {
                    "reference": reference,
                    "s3-folder-url": out_path,
                    "s3-sha256-url": out_path + ".sha256",
                    "file-type": "TAR",
                }
            },
        )
    except ValueError as e:
        return ctx.emit_error(EVENT_SIP_ERROR, event, reference, e)


def untar_free_catalog(spark: SparkSession, root: str):
    """binaryFile catalog of already-extracted files (no archive involved)."""
    return read_file_catalog(spark, root)


def _dri_schema_text(name: str) -> str:
    res = importlib.resources.files("da_transform_judgments_pipeline_spark.plans")
    return (res / "dri_schemas" / name).read_text()


def _write_members(members, dest_root: str) -> list[str]:
    """Distributed member write: foreachPartition writes each untarred member
    under dest_root (shared FS / object store). Returns extracted names."""
    dest_root = dest_root.rstrip("/")

    def write_partition(rows):
        for row in rows:
            path = os.path.join(dest_root, row["name"])
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(bytes(row["content"]))

    members.persist()
    try:
        members.foreachPartition(write_partition)
        return [r["name"] for r in members.select("name").collect()]
    finally:
        members.unpersist()
