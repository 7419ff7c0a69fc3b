"""Scans / sources / sinks (SURVEY.md §2.1)."""

from .bagit import bag_info_to_dict, read_bag_info, read_file_metadata
from .catalog import (
    key_by_root,
    max_numeric_subfolder,
    prefix_exists,
    read_file_catalog,
    read_keyed_catalog,
)
from .manifest import manifest_from_lines, parse_manifest_lines, read_manifest
from .sinks import require_absent, write_single_csv, write_single_text

__all__ = [
    "bag_info_to_dict",
    "read_bag_info",
    "read_file_metadata",
    "max_numeric_subfolder",
    "prefix_exists",
    "read_file_catalog",
    "read_keyed_catalog",
    "key_by_root",
    "manifest_from_lines",
    "parse_manifest_lines",
    "read_manifest",
    "require_absent",
    "write_single_csv",
    "write_single_text",
]
