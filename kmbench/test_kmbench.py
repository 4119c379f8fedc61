"""Self-tests of the benchmark: python -m pytest kmbench -q

They check the benchmark's own claims: inputs are seeded and hermetic, the
timed action keeps a query's work, clear_all_memos() isolates passes, the
benchmark runs from any directory, and BENCHMARK.json matches what run.py
prints.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import workloads
from spans import SparkCounters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env_without_pythonpath() -> dict:
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


@pytest.fixture(scope="module")
def spark():
    # Spark's Python workers import the program; the benchmark gives them the
    # repository through PYTHONPATH, and so does this fixture.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from k_means_map_reduce_spark.session import get_spark

    session = get_spark("kmbench-selftest")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tables"))
    gen.write_tables(out, seed=3, scale=workloads.WORKLOADS["query_mix"].scale)
    return out


def test_points_are_seeded(tmp_path):
    paths = [tmp_path / f"{i}.txt" for i in range(3)]
    for p, seed in zip(paths, (5, 5, 6)):
        gen.write_points(str(p), 1000, 2, seed)
    a, b, c = (p.read_bytes() for p in paths)
    assert a == b
    assert a != c
    lines = a.decode().splitlines()
    assert len(lines) == 1000
    assert all(re.fullmatch(r"\d{3}\.\d{4}, \d{3}\.\d{4}", ln) for ln in lines)


def test_tables_are_seeded(tmp_path):
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        gen.write_tables(str(tmp_path / d), seed, 0.05)
    for name in ("lineitem", "documents", "embeddings", "events"):
        a, b, c = (pq.read_table(str(tmp_path / d / f"{name}.parquet")) for d in "abc")
        assert a.equals(b), name
        assert not a.equals(c), name


def test_read_points_txt_parses_generated_points(spark, tmp_path):
    from k_means_map_reduce_spark.sources.points_txt import read_points_txt

    path = str(tmp_path / "points.txt")
    gen.write_points(path, 500, 3, 9)
    got = np.array([r.coordinates for r in read_points_txt(spark, path).collect()])
    assert np.array_equal(got, gen.points_matrix(500, 3, 9) / 10_000)


def _last_plan(spark) -> str:
    # the SQL status store is filled from the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return executions.apply(executions.size() - 1).physicalPlanDescription()


def test_noop_write_keeps_the_aggregates(spark, tables):
    from k_means_map_reduce_spark.registry import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, tables)
    aggregates = df._jdf.queryExecution().optimizedPlan().toString().count("sum(")
    assert aggregates == 7
    df.write.format("noop").mode("overwrite").save()
    assert _last_plan(spark).count("sum(") >= aggregates
    df.count()
    assert _last_plan(spark).count("sum(") == 0  # what .count() would have timed


def test_clear_all_memos_isolates_passes(spark, tables):
    """geo_knn_ring_search memoizes its near-result; after clear_all_memos()
    a warm build launches the same jobs as the cold one, and without it the
    memo replays the result with no job at all."""
    from k_means_map_reduce_spark._memo import clear_all_memos
    from k_means_map_reduce_spark.registry import QUERIES

    counters = SparkCounters(spark)
    build = QUERIES["geo_knn_ring_search"]

    def build_jobs(clear: bool) -> int:
        if clear:
            clear_all_memos()
        with counters.group("build") as gid:
            df = build(spark, tables)
        df.write.format("noop").mode("overwrite").save()
        return counters.job_count(gid)

    cold, warm = build_jobs(True), build_jobs(True)
    assert cold > 0
    assert warm == cold
    assert build_jobs(False) == 0


def test_runs_from_any_directory_without_pythonpath(tmp_path):
    """kmeans_arrow's Python worker imports the program: run.py must put the
    repository on the workers' path itself."""
    p = subprocess.run(
        [sys.executable, RUN, "--workload", "kmeans_iter", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=_env_without_pythonpath(), capture_output=True, text=True,
        timeout=180,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert set(res["metrics"]) == {m["name"] for m in _benchmark()["end_to_end"]}
    assert re.search(r"kmeans_arrow_jobs=1\b", p.stdout)  # the one-task path


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "kmbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "kmbench/run.py", "--workload", "kmeans_iter", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=_env_without_pythonpath(), capture_output=True, text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert "{" not in p.stdout


def test_benchmark_json_matches_the_catalogue():
    bench = _benchmark()
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["per_layer"]
    assert bench["per_layer"] == [
        {k: m[k] for k in ("name", "unit", "better")} for m in layers
    ]
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    queries = {m["name"] for m in layers if m["name"].startswith("query.")}
    assert queries == {f"query.{q}_s" for q in workloads.WORKLOADS["query_mix"].queries}
