"""Keyed catalog scans (sources/catalog.py): one scan over many roots, each
row tagged with the key of the root it lies under by one broadcast join."""

import re

from da_transform_judgments_pipeline_spark.sources.catalog import (
    key_by_root,
    read_file_catalog,
    read_keyed_catalog,
)


def _tree(base, names):
    for name in names:
        p = base / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(name)


def _keyed_names(df, base):
    prefix = f"file:{base}/"
    return sorted(
        (r["key"], r["path"][len(prefix):])
        for r in df.select("key", "path").collect()
    )


def test_keyed_catalog_prefix_siblings_exact_file_and_strays(spark, tmp_path):
    _tree(tmp_path, [
        "TDR-2026-A1/a.txt",
        "TDR-2026-A1/sub/b.txt",
        "TDR-2026-A10/c.txt",
        "TDR-2026-A100/stray.txt",  # under no root
        "bag-info.txt",
        "bag-info.txt.sha256",  # under no root
    ])
    roots = [
        ("A1", str(tmp_path / "TDR-2026-A1")),
        ("A10", str(tmp_path / "TDR-2026-A10")),
        ("info", str(tmp_path / "bag-info.txt")),
    ]
    expected = [
        ("A1", "TDR-2026-A1/a.txt"),
        ("A1", "TDR-2026-A1/sub/b.txt"),
        ("A10", "TDR-2026-A10/c.txt"),
        ("info", "bag-info.txt"),
    ]
    keyed = read_keyed_catalog(spark, roots)
    assert _keyed_names(keyed, tmp_path) == expected
    uris = {r["key"]: r["uri"] for r in keyed.select("key", "uri").collect()}
    assert uris["A10"] == f"file:{tmp_path}/TDR-2026-A10"

    # the same join over a catalog of the WHOLE tree: files under no root
    # (string-prefix siblings of a directory root and of a file root) get
    # no row
    whole = key_by_root(read_file_catalog(spark, str(tmp_path)), roots)
    assert _keyed_names(whole, tmp_path) == expected


def test_key_by_root_decodes_non_binary_file_paths(spark, tmp_path):
    """A CSV scan's file URI is percent-encoded ("a b" → "a%20b"); the
    join still matches the root as Hadoop spells it, '+' included."""
    for ref in ("TDR 2026+A1", "TDR 2026+A10"):
        (tmp_path / ref).mkdir()
        (tmp_path / ref / "f.csv").write_text(f"ref\n{ref}\n")
    roots = [
        (ref, str(tmp_path / ref / "f.csv"))
        for ref in ("TDR 2026+A1", "TDR 2026+A10")
    ]
    rows = key_by_root(
        spark.read.csv([p for _, p in roots], header=True), roots
    ).select("key", "ref").collect()
    assert sorted((r["key"], r["ref"]) for r in rows) == [
        ("TDR 2026+A1", "TDR 2026+A1"),
        ("TDR 2026+A10", "TDR 2026+A10"),
    ]


def test_keyed_catalog_plan_does_not_grow_with_roots(spark, tmp_path):
    """No per-root CASE chain: the analyzed plan is the same text (up to
    expression ids) for 3 roots and 60, and the key join is a broadcast
    nested-loop join."""

    def plan(n):
        roots = []
        for i in range(n):
            _tree(tmp_path, [f"n{n}/TDR-2026-A{i}/f.txt"])
            roots.append((f"A{i}", str(tmp_path / f"n{n}/TDR-2026-A{i}")))
        df = read_keyed_catalog(spark, roots, with_content=False)
        qe = df._jdf.queryExecution()
        analyzed = re.sub(r"#\d+", "#", qe.analyzed().toString())
        assert "CASE WHEN" not in analyzed.upper()
        assert "CASE WHEN" not in qe.optimizedPlan().toString().upper()
        assert "BroadcastNestedLoopJoin" in qe.executedPlan().toString()
        assert df.count() == n
        return analyzed

    small, large = plan(3), plan(60)
    assert len(small) == len(large)
