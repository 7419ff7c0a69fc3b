"""File-catalog scans (SURVEY.md §1.1, §2.1 S1-S3/S10).

The reference's "table space" is an object store keyed by path convention
`consignments/{type}/{reference}/{uuid}/...`. The Spark-native equivalent is
a binaryFile scan over many roots at once, each row keyed by the root it
lies under with one broadcast join — the 100 TB-scale replacement for
boto3 prefix listings, with a plan whose size does not grow with the
number of roots.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_file_catalog(
    spark: SparkSession,
    root: str | list[str],
    glob: str = "*",
    with_content: bool = True,
) -> DataFrame:
    """binaryFile scan → (path, modificationTime, length, content).

    S1 prefix-list scan (reference: s3_lib object_lib.py:37-52 s3_ls) and S10
    single-object get in one operator. With ``with_content=False`` only file
    status is read (column pruning drops the content read entirely).
    ``root`` may be a list of roots — ONE scan over all of them (the batched
    multi-consignment stages read every consignment's archive in one job).
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    if not with_content:
        df = df.drop("content")
    return df


def key_by_root(df: DataFrame, roots: list[tuple[str, str]]) -> DataFrame:
    """Tag each row of a file-source scan with the key of the root its
    file lies under: ``df``'s columns + ``key``, ``uri``.

    ``roots`` is a (key, path) list; a root is one file or a directory.
    The roots ride ONE broadcast (key, uri) table joined on ``path == uri
    OR startswith(path, uri || '/')``, so the plan is the same size for 3
    roots or 3000 (a per-root CASE chain outgrows Spark's generated-method
    limit). Rows under no root are dropped, and ``.../A1`` does not claim
    ``.../A10/x``. ``uri`` is the root as Hadoop spells the paths under it
    (``file:/...`` for local roots), for callers that derive further path
    prefixes. Works for any file format: the row's file comes from the
    ``_metadata.file_path`` URI, percent-decoded ('+' kept literal).
    """
    dim = df.sparkSession.createDataFrame(
        pa.table(
            {"key": [k for k, _ in roots], "uri": [_uri(p) for _, p in roots]},
            schema=pa.schema([("key", pa.string()), ("uri", pa.string())]),
        )
    )
    path = F.url_decode(
        F.replace(F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B"))
    )
    under = (F.col("_file") == F.col("uri")) | F.col("_file").startswith(
        F.concat(F.col("uri"), F.lit("/"))
    )
    return (
        df.withColumn("_file", path)
        .join(F.broadcast(dim), under)
        .drop("_file")
    )


def read_keyed_catalog(
    spark: SparkSession,
    roots: list[tuple[str, str]],
    with_content: bool = True,
) -> DataFrame:
    """ONE :func:`read_file_catalog` scan over every root of a (key, path)
    list, each row tagged with its root's key by :func:`key_by_root`."""
    paths = [p for _, p in roots]
    return key_by_root(
        read_file_catalog(spark, paths, with_content=with_content), roots
    )


def _uri(path: str) -> str:
    """``path`` as Hadoop spells it: a local path becomes a ``file:`` URI."""
    if not re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        path = "file:" + os.path.abspath(path)
    return re.sub(r"^file://(?=/)", "file:", path).rstrip("/")


def prefix_exists(catalog: DataFrame, prefix: str) -> bool:
    """S2 existence probe (reference: object_lib.py:23-35) — `limit(1)` scan,
    not a count over the catalog."""
    return bool(
        catalog.filter(F.col("path").startswith(prefix)).limit(1).take(1)
    )


def max_numeric_subfolder(catalog: DataFrame, prefix: str) -> int | None:
    """S3 max-numeric-subfolder scan (reference: object_lib.py:54-85) —
    the retry-discovery operator. Keeps only all-digit first segments after
    the prefix, returns their max as int (None when none exist)."""
    prefix = prefix if prefix.endswith("/") else prefix + "/"
    seg = F.regexp_extract(
        F.col("path"), "^" + re.escape(prefix) + r"(\d+)/", 1
    )
    row = (
        catalog.filter(F.col("path").startswith(prefix))
        .select(seg.alias("n"))
        .filter(F.col("n") != "")
        .agg(F.max(F.col("n").cast("int")).alias("max_n"))
        .first()
    )
    return None if row is None else row["max_n"]

