"""query_mix: read-only analytics through the ``__spark_entry__`` registry.

Closed loop, one client: whole passes over the registered queries below,
each pass in a seeded order, until the timed passes add up to the run
length. A query execution is the registry call plus fetching its result
to the driver. Results are checked once per run, untimed, against each
query's DuckDB ``oracle_sql()`` with the comparison scripts/selfcheck.py
uses. The oracle side is computed while the JVM starts, in a process of
its own (``python3 perfbench/query.py <tables> <out.json>``): in a thread
its Python-level hashing would hold the GIL the session start needs.
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys
import time

import gen
from harness import ROOT, median, percentile

QUERY_IDS = (
    "s01 p01 j01 j04 a01 a07 a09 a13 w02 w04 t01 t08 t09 t10 l01 m02 b01 b02 "
    "d03 e02 m13"
).split()
# Scale factor of the timed tables: the row counts of the reference sf0.1
# test data.
SF = 0.1
# The warm-up is one pass over sf0.01-sized tables from another seed.
WARM_SEED_OFFSET = 1_000_003
WARM_SF = 0.01
# DuckDB threads for the oracle digests, which share the host with the
# starting JVM.
ORACLE_THREADS = 2
LAYERS = ("query",)
OP_SPAN = "query."


def registry() -> dict:
    import __spark_entry__

    qs = __spark_entry__.queries()
    names = {}
    for qid in QUERY_IDS:
        [name] = [k for k in qs if k.startswith(qid + "_")]
        names[name] = qs[name]
    return names


def prepare(seed: int, work: str) -> dict:
    tables = os.path.join(work, "tables")
    warm = os.path.join(work, "tables-warm")
    oracle_path = os.path.join(work, "oracle.json")
    gen.analytics_tables(seed, tables, SF)
    oracle = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), tables, oracle_path],
        env={**os.environ, "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])},
    )
    gen.analytics_tables(seed + WARM_SEED_OFFSET, warm, WARM_SF)
    queries = registry()
    if oracle.wait() != 0:
        raise RuntimeError(f"oracle digests exited with {oracle.returncode}")
    with open(oracle_path) as f:
        digests = json.load(f)
    return {"seed": seed, "tables": tables, "warm": warm, "queries": queries,
            "oracle": digests}


def warm_up(spark, state: dict) -> None:
    for fn in state["queries"].values():
        try:
            fn(spark, state["warm"]).toPandas()
        except Exception:  # counted when the timed pass raises it again
            pass


def measure(spark, state: dict, seconds: float, tracer, rounds: int | None = None) -> dict:
    """Whole passes until their summed query time reaches ``seconds`` (or
    exactly ``rounds`` passes)."""
    sc = spark.sparkContext
    queries = state["queries"]
    times: dict[str, list[float]] = {name: [] for name in queries}
    results = {}
    latencies, wall, passes, errors = [], 0.0, 0, []
    while (passes < rounds) if rounds else (wall < seconds):
        order = list(queries)
        random.Random(f"order:{state['seed']}:{passes}").shuffle(order)
        for name in order:
            if tracer.enabled:
                sc.setJobGroup(name, name)
            with tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                try:
                    pdf = queries[name](spark, state["tables"]).toPandas()
                except Exception as exc:  # a failing query is counted, not fatal
                    pdf = exc
                    errors.append(f"{name}: {type(exc).__name__}: {exc}")
                dt = time.perf_counter() - t0
            results.setdefault(name, pdf)
            times[name].append(dt)
            latencies.append(dt)
            wall += dt
        passes += 1
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    attempted = len(latencies)
    return {
        "wall_s": wall,
        "ops": attempted - len(errors),
        "throughput_per_s": (attempted - len(errors)) / wall,
        "latency_p50_s": percentile(latencies, 50),
        "latency_p90_s": percentile(latencies, 90),
        "latency_samples": attempted,
        "attempted": attempted,
        "problems": errors,
        "rounds": passes,
        "op_s": times,
        "results": results,
        "groups": set(queries),
    }


def _digest(pdf) -> list:
    """[row count, sorted column names, {column: dtype kind}, value hash]
    of a result, by the row conversion and hash scripts/selfcheck.py
    compares with."""
    from scripts.selfcheck import df_rows, value_hash

    rows, cols = df_rows(pdf)
    return [len(rows), sorted(cols), {c: pdf[c].dtype.kind for c in cols},
            value_hash(rows, cols)]


def oracle_digests(tables: str) -> dict:
    """Per query, the digest of its DuckDB ``oracle_sql()`` result on
    ``tables``, or a string saying why there is none. Oracle SQL that names
    the committed fixtures is pointed at this checkout's copy."""
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect(config={"threads": ORACLE_THREADS})
    for f in sorted(os.listdir(tables)):
        con.execute(
            f"CREATE VIEW {f.removesuffix('.parquet')} AS "
            f"SELECT * FROM read_parquet('{os.path.join(tables, f)}')"
        )
    fixtures = os.path.join(ROOT, "fixtures") + "/"
    out = {}
    for name in registry():
        if name not in oracles:
            out[name] = "no oracle"
            continue
        sql = re.sub(r"'[^']*/fixtures/", "'" + fixtures, oracles[name])
        try:
            out[name] = _digest(con.execute(sql).fetch_arrow_table().to_pandas())
        except duckdb.Error as exc:
            out[name] = f"oracle error {exc}"
    con.close()
    return out


def verify(state: dict, res: dict) -> list[str]:
    return res["problems"] + check(state, res["results"])


def traced_layers(spark, state, seed, traced, tracer, restart):
    """Median time of each query over the traced passes."""
    return {
        f"query.{name}_s": median(times) for name, times in traced["op_s"].items()
    }, []


def check(state: dict, results: dict) -> list[str]:
    """One problem string per query whose first result in the run differs
    from its DuckDB oracle (row count, column set, dtype kinds, value
    hash)."""
    problems = []
    for name, spdf in results.items():
        if isinstance(spdf, Exception):
            continue  # already counted when it was raised
        want = state["oracle"][name]
        if isinstance(want, str):
            problems.append(f"{name}: {want}")
            continue
        n, cols, kinds, digest = _digest(spdf)
        if n != want[0]:
            problems.append(f"{name}: rows {n} vs oracle {want[0]}")
        elif cols != want[1]:
            problems.append(f"{name}: columns {cols} vs oracle {want[1]}")
        elif kinds != want[2]:
            problems.append(f"{name}: dtype kinds differ from oracle")
        elif digest != want[3]:
            problems.append(f"{name}: value hash differs from oracle")
    return problems


if __name__ == "__main__":
    tables_dir, out_path = sys.argv[1:]
    with open(out_path, "w") as out_file:
        json.dump(oracle_digests(tables_dir), out_file)
