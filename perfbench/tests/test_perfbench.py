"""Generator determinism and the result line's shape.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil

import pytest

import gen
import harness


def _tree(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _twice(tmp_path, make):
    """Run ``make(dir)`` twice into the same directory (event payloads
    carry absolute archive paths) and return both (result, files)."""
    d = str(tmp_path / "inputs")
    runs = []
    for _ in range(2):
        shutil.rmtree(d, ignore_errors=True)
        result = make(d)
        runs.append((json.dumps(result, sort_keys=True), _tree(d)))
    return runs


def test_intake_batch_is_a_function_of_its_seed(tmp_path):
    (r1, f1), (r2, f2) = _twice(tmp_path, lambda d: gen.intake_batch(5, d, 9, 2**16))
    assert r1 == r2 and f1 == f2
    shutil.rmtree(tmp_path / "inputs")
    other = gen.intake_batch(6, str(tmp_path / "inputs"), 9, 2**16)
    assert json.dumps(other, sort_keys=True) != r1
    assert _tree(str(tmp_path / "inputs")) != f1


def test_intake_batch_shape(tmp_path):
    recs = gen.intake_batch(1, str(tmp_path), 9, 2**16)
    classes = [r["tamper"] for r in recs]
    assert sorted(c for c in classes if c != gen.VALID) == sorted(gen.TAMPER_CLASSES)
    assert classes.count(gen.VALID) == 9 - len(gen.TAMPER_CLASSES)
    for r in recs:
        with open(tmp_path / f"{r['reference']}.tar.gz", "rb") as f:
            head = f.read(10)
        assert head[:2] == b"\x1f\x8b" and head[4:8] == bytes(4)  # gzip mtime 0
        assert r["event"]["producer"]["event-name"] == "bagit-available"


def test_stream_events_are_a_function_of_their_seed(tmp_path):
    (r1, f1), (r2, f2) = _twice(tmp_path, lambda d: gen.stream_events(3, d, 2**15))
    assert r1 == r2 and f1 == f2
    shutil.rmtree(tmp_path / "inputs")
    assert json.dumps(
        gen.stream_events(4, str(tmp_path / "inputs"), 2**15), sort_keys=True
    ) != r1
    events = json.loads(r1)
    kinds = [e["kind"] for e in events]
    assert (kinds.count(gen.KIND_CONSIGNMENT), kinds.count(gen.KIND_DUPLICATE),
            kinds.count(gen.KIND_ERROR), kinds.count(gen.KIND_INVALID)) == (13, 2, 3, 2)
    assert sorted(e["retries"] for e in events if e["kind"] == gen.KIND_ERROR) == [0, 1, 2]
    for i, e in enumerate(events):
        if e["kind"] == gen.KIND_DUPLICATE:  # resends an earlier delivery verbatim
            assert any(o["line"] == e["line"] and o["kind"] == gen.KIND_CONSIGNMENT
                       for o in events[:i])


def test_analytics_tables_are_a_function_of_their_seed(tmp_path):
    (r1, f1), (r2, f2) = _twice(tmp_path, lambda d: gen.analytics_tables(2, d, 0.002))
    assert r1 == r2 and f1 == f2
    shutil.rmtree(tmp_path / "inputs")
    gen.analytics_tables(3, str(tmp_path / "inputs"), 0.002)
    assert _tree(str(tmp_path / "inputs")) != f1


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_emits_every_declared_metric_with_its_unit(trace):
    spec = harness.load_spec()
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: i + 0.5 for i, m in enumerate(declared)}
    out = json.loads(harness.result_line(spec, trace, metrics, True, 3, 0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {
        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
    }


def test_result_line_refuses_a_missing_metric():
    spec = harness.load_spec()
    metrics = {m["name"]: 1.0 for m in spec["end_to_end"][1:]}
    with pytest.raises(KeyError):
        harness.result_line(spec, False, metrics, True, 1, 0)


def test_percentile_is_harrell_davis():
    assert harness.percentile([7], 90) == 7
    assert harness.percentile([5.0] * 40, 90) == pytest.approx(5.0)
    assert harness.percentile([3, 1, 2], 50) == pytest.approx(2)  # symmetric weights
    xs = list(range(101))
    assert harness.percentile(xs, 50) == pytest.approx(50, abs=1e-6)
    assert 88 < harness.percentile(xs, 90) < 92
    assert harness.percentile(xs, 90) > harness.percentile(xs, 50)
