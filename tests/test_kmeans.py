"""K-Means correctness per SURVEY.md §5: determinism, monotone WSSSE,
fixed-point, MLlib agreement on separable blobs, and 2-D parity with the
reference's input format (/root/reference/Data/Input/points.txt shape).
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from k_means_map_reduce_spark.kmeans import (
    KMeansResult,
    assign_clusters,
    kmeans_mllib,
    kmeans_native,
    kmeans_native_df,
)
from k_means_map_reduce_spark.sources import load_table


def _blobs(spark, centers, n_per=50, sigma=0.05, seed=7):
    rng = random.Random(seed)
    rows = []
    for label, c in enumerate(centers):
        for _ in range(n_per):
            rows.append(([x + rng.gauss(0, sigma) for x in c], label))
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "vec ARRAY<DOUBLE>, label INT")


def test_native_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    r1 = kmeans_native(e, k=4, max_iter=5, seed=42)
    r2 = kmeans_native(e, k=4, max_iter=5, seed=42)
    assert r1.centers == r2.centers
    assert r1.wssse_history == r2.wssse_history


def test_wssse_monotone_nonincreasing(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_native(e, k=6, max_iter=10, seed=1)
    hist = r.wssse_history
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-9, f"WSSSE increased: {a} -> {b}"


def test_converged_fixed_point(spark, sf_dir):
    """Re-assigning with converged centroids must reproduce the same means."""
    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_native(e, k=4, max_iter=50, tol=1e-6, seed=42)
    assert r.converged
    pts = e.select(F.col("embedding").cast("array<double>").alias("vec"))
    assigned = assign_clusters(pts, r.centers, "vec")
    dim = len(r.centers[0])
    agg = assigned.groupBy("cid").agg(
        *[F.avg(F.element_at("vec", i + 1)).alias(f"m{i}") for i in range(dim)]
    )
    for row in agg.collect():
        mean = [row[f"m{i}"] for i in range(dim)]
        d = math.sqrt(sum((a - b) ** 2 for a, b in zip(mean, r.centers[row["cid"]])))
        assert d < 1e-5, f"cluster {row['cid']} not a fixed point (moved {d})"


def test_blob_recovery_native_vs_mllib(spark):
    """On well-separated blobs both implementations recover the true centers
    from the same kind of init: k-means||, MLlib's default. (A uniform init
    puts one seed in each of 4 equal blobs with probability about 10%.)"""
    true_centers = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]]
    df = _blobs(spark, true_centers)
    native = kmeans_native(df, vec_col="vec", k=4, max_iter=30, seed=42, init="k||")
    mllib_df = kmeans_mllib(df, vec_col="vec", k=4, max_iter=30, seed=42)
    mllib_centers = [r["center"] for r in mllib_df.collect()]

    def match(centers):
        matched = 0
        for t in true_centers:
            best = min(math.dist(t, c) for c in centers)
            if best < 0.1:
                matched += 1
        return matched

    assert match(native.centers) == 4, f"native missed blobs: {native.centers}"
    assert match(mllib_centers) == 4, f"mllib missed blobs: {mllib_centers}"


def test_reference_2d_parity(spark):
    """Reference input shape: 2-D comma-separated points, k=5
    (/root/reference/Data/Input/points.txt, README.md:58). Our engine is
    N-dim by construction; verify 2-D is just the n=2 case and clustering
    covers all points."""
    rng = random.Random(3)
    pts = [[rng.uniform(0, 100), rng.uniform(0, 100)] for _ in range(20)]
    df = spark.createDataFrame([(p,) for p in pts], "vec ARRAY<DOUBLE>")
    r = kmeans_native(df, vec_col="vec", k=5, max_iter=10, seed=42)
    assert len(r.centers) == 5
    assigned = assign_clusters(df, r.centers, "vec")
    assert assigned.count() == 20
    assert assigned.select("cid").distinct().count() <= 5
    # every centroid is inside the data's bounding box (mean property)
    for c in r.centers:
        assert 0 <= c[0] <= 100 and 0 <= c[1] <= 100


def test_translation_invariance(spark):
    """Translate input => translated centroids (mean-invariance property)."""
    base = _blobs(spark, [[0.0, 0.0], [5.0, 5.0]], n_per=30, seed=11)
    shifted = base.select(
        F.transform("vec", lambda x: x + F.lit(100.0)).alias("vec"), "label"
    )
    r1 = kmeans_native(base, vec_col="vec", k=2, max_iter=20, seed=42)
    r2 = kmeans_native(shifted, vec_col="vec", k=2, max_iter=20, seed=42)
    c1 = sorted([tuple(c) for c in r1.centers])
    c2 = sorted([tuple(c) for c in r2.centers])
    for a, b in zip(c1, c2):
        for x, y in zip(a, b):
            assert abs((x + 100.0) - y) < 1e-6


def test_empty_cluster_retention(spark):
    """k > natural clusters: empty clusters keep their previous centroid
    (deliberate fix of the reference's shrinking-k, reducer.py:65-67)."""
    df = spark.createDataFrame(
        [([0.0, 0.0],), ([0.1, 0.0],), ([10.0, 10.0],), ([10.1, 10.0],)],
        "vec ARRAY<DOUBLE>",
    )
    r = kmeans_native(df, vec_col="vec", k=4, max_iter=10, seed=42)
    assert len(r.centers) == 4  # k never shrinks


def test_kmeans_native_df_schema(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_native_df(spark, e, k=4, max_iter=5, seed=42)
    assert out.schema.simpleString() == (
        "struct<cluster_id:int,size:bigint,center:array<double>>"
    )
    sizes = [r["size"] for r in out.collect()]
    assert sum(sizes) == e.count()


def test_arrow_equals_native(spark, sf_dir):
    """The Arrow/BLAS loop and the expression-tree loop implement the same
    algorithm: same seeded init => same trajectory (to float-merge noise).
    Three inputs: the parquet table and a 4-partition copy of it (small
    plan estimate: arrow's one-task path), and an in-memory single-partition
    copy of it (unknown plan statistics: arrow's treeAggregate path)."""
    from k_means_map_reduce_spark.kmeans import kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    in_memory = spark.createDataFrame(e.collect(), e.schema).coalesce(1)
    for df in (e, e.repartition(4), in_memory):
        a = kmeans_arrow(df, k=6, max_iter=8, tol=1e-6, seed=42)
        n = kmeans_native(df, k=6, max_iter=8, tol=1e-6, seed=42)
        assert a.iterations == n.iterations
        diff = max(
            abs(x - y) for ca, cn in zip(a.centers, n.centers) for x, y in zip(ca, cn)
        )
        assert diff < 1e-9, f"centers diverged by {diff}"
        assert a.sizes == n.sizes


def test_arrow_degenerate_init_sample(spark, tmp_path, monkeypatch):
    """A small parquet input whose 4k lowest-rank rows hold fewer than k
    distinct vectors (each vector repeats at least 4k times, so the lowest
    4k rows are copies of one vector at any seed): the driver's init falls
    back to ranking the distinct vectors, and the one-task path, which
    ranks all rows in its task, picks the same init."""
    from k_means_map_reduce_spark import kmeans
    from k_means_map_reduce_spark.kmeans import _rank, kmeans_arrow

    rows = [([0.0, 0.0],)] * 1000 + [([5.0, 5.0],)] * 12 + [([9.0, 9.0],)] * 12
    path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(rows, "vec ARRAY<DOUBLE>").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    lowest = df.orderBy(_rank(42), "vec").limit(4 * 3).collect()
    assert len({tuple(r["vec"]) for r in lowest}) < 3  # the case under test
    fast = kmeans_arrow(df, vec_col="vec", k=3, max_iter=5, seed=42)
    assert len({tuple(c) for c in fast.centers}) == 3
    assert sum(fast.sizes.values()) == len(rows)
    monkeypatch.setattr(kmeans, "_LOCAL_BYTES", 0)
    dist = kmeans_arrow(df, vec_col="vec", k=3, max_iter=5, seed=42)
    assert (fast.centers, fast.sizes, fast.iterations) == (
        dist.centers, dist.sizes, dist.iterations
    )


@pytest.mark.parametrize(
    "engine, case",
    [
        ("native", "empty"),
        ("native", "k_gt_distinct"),
        ("arrow", "empty"),
        ("arrow", "k_gt_distinct"),
        ("mllib", "empty"),
    ],
)
def test_failed_fit_releases_cached_input(spark, engine, case):
    """A fit that raises (empty input, or k above the number of distinct
    points) leaves no cached input pinned."""
    from k_means_map_reduce_spark.kmeans import kmeans_arrow

    fit = {"native": kmeans_native, "arrow": kmeans_arrow, "mllib": kmeans_mllib}[engine]
    # MLlib's fit fails in the JVM
    error = Py4JJavaError if engine == "mllib" else ValueError
    rows = [] if case == "empty" else [([0.0, 0.0],), ([1.0, 1.0],)] * 5
    df = spark.createDataFrame(rows, "vec ARRAY<DOUBLE>")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(error):
        fit(df, vec_col="vec", k=3, max_iter=5, seed=42)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_arrow_single_task_equals_distributed(spark, sf_dir, monkeypatch):
    """kmeans_arrow's two physical strategies — the one-job single-task loop
    (small input) and the per-iteration treeAggregate loop (forced here by
    setting kmeans._LOCAL_BYTES to 0) — produce the same trajectory: the
    task's (rank, vec) order must pick the init _init_random picks on the
    driver, and both paths run _lloyd with _lloyd_kernel as the step."""
    from k_means_map_reduce_spark import kmeans
    from k_means_map_reduce_spark.kmeans import kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    fast = kmeans_arrow(e, k=6, max_iter=8, tol=1e-6, seed=42)
    monkeypatch.setattr(kmeans, "_LOCAL_BYTES", 0)
    dist = kmeans_arrow(e, k=6, max_iter=8, tol=1e-6, seed=42)
    assert fast.iterations == dist.iterations
    assert fast.converged == dist.converged
    assert fast.sizes == dist.sizes
    diff = max(
        abs(x - y) for cf, cd in zip(fast.centers, dist.centers) for x, y in zip(cf, cd)
    )
    assert diff < 1e-9, f"physical paths diverged by {diff}"


def test_kmeans_parallel_init_recovers_blobs(spark):
    """k-means|| init + Lloyd recovers well-separated blobs exactly (one
    center per blob), so its final WSSSE is the optimum and no higher than
    random-init's on the same data. Also deterministic per seed."""
    import random as _random

    from k_means_map_reduce_spark.kmeans import kmeans_native

    rng = _random.Random(11)
    blob_centers = [[0.0, 0.0], [50.0, 0.0], [0.0, 50.0], [50.0, 50.0]]
    rows = []
    i = 0
    for c in blob_centers:
        for _ in range(60):
            rows.append((i, [x + rng.uniform(-1, 1) for x in c]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    r1 = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="k||")
    r2 = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="k||")
    assert r1.centers == r2.centers  # deterministic
    # each blob center has exactly one recovered centroid within spread
    for c in blob_centers:
        near = [
            v for v in r1.centers
            if sum((a - b) ** 2 for a, b in zip(c, v)) < 4.0
        ]
        assert len(near) == 1, (c, r1.centers)
    rr = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="random")
    assert r1.wssse_history[-1] <= rr.wssse_history[-1] * (1 + 1e-6)


# Fits one seed at each master in argv, restarting the SparkContext between
# them, on a parquet input repartitioned to the master's parallelism, and
# prints one JSON line of inits and fits per master.
_PARTITIONS_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
from k_means_map_reduce_spark import kmeans

path, out = sys.argv[1], {}
for master in sys.argv[2:]:
    spark = (
        SparkSession.builder.master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("kmeans-partition-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    df = spark.read.parquet(path).repartition(n)
    pts = df.select("vec")
    fits = {
        "native_random": lambda: kmeans.kmeans_native(df, "vec", 4, 6, 1e-9, 42),
        "native_kpar": lambda: kmeans.kmeans_native(df, "vec", 4, 6, 1e-9, 42, "k||", 3),
        "arrow_one_task": lambda: kmeans.kmeans_arrow(df, "vec", 4, 6, 1e-9, 42),
    }
    res = {
        "partitions": df.rdd.getNumPartitions(),
        "init_random": kmeans._init_random(pts, 4, 42),
        "init_kpar": kmeans._init_kmeans_parallel(pts, 4, 42, rounds=3),
    }
    for name, fit in fits.items():
        r = fit()
        res[name] = [r.centers, sorted(r.sizes.items()), r.iterations]
    local_bytes, kmeans._LOCAL_BYTES = kmeans._LOCAL_BYTES, 0
    r = kmeans.kmeans_arrow(df, "vec", 4, 6, 1e-9, 42)
    kmeans._LOCAL_BYTES = local_bytes
    res["arrow_distributed"] = [r.centers, sorted(r.sizes.items()), r.iterations]
    out[master] = res
    spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_seeded_fit_is_partition_independent(spark, tmp_path):
    """One seed gives the same init and the same fit at local[1], local[4]
    and local[32], each reading the input in as many partitions as it has
    cores: native random init, native k-means||, and kmeans_arrow's
    one-task and treeAggregate paths."""
    rng = random.Random(5)
    rows = [
        ([cx + rng.gauss(0, 1.5), cy + rng.gauss(0, 1.5)],)
        for cx, cy in [(0, 0), (6, 0), (0, 6), (6, 6)]
        for _ in range(100)
    ]
    path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(rows, "vec ARRAY<DOUBLE>").coalesce(1).write.parquet(path)
    masters = ["local[1]", "local[4]", "local[32]"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [root, os.environ.get("PYTHONPATH", "")]
    )}  # the driver and its Python workers import the package
    r = subprocess.run(
        [sys.executable, "-c", _PARTITIONS_SCRIPT, path, *masters],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, (r.stdout[-2000:], r.stderr[-2000:])
    out = json.loads(lines[0][len("RESULT "):])
    assert [out[m]["partitions"] for m in masters] == [1, 4, 32]
    want = out[masters[0]]
    for m in masters[1:]:
        got = out[m]
        assert got["init_random"] == want["init_random"], m
        assert got["init_kpar"] == want["init_kpar"], m
        for fit in ("native_random", "native_kpar", "arrow_one_task", "arrow_distributed"):
            (gc, gs, gi), (wc, ws, wi) = got[fit], want[fit]
            assert (gs, gi) == (ws, wi), (m, fit)
            diff = max(abs(x - y) for a, b in zip(gc, wc) for x, y in zip(a, b))
            assert diff < 1e-9, (m, fit, diff)


def test_assign_ties_break_to_lowest_cid(spark):
    """assign_clusters agrees with a Python argmin over (dist², cid), so
    exact distance ties go to the lowest centroid id."""
    import random as _random

    rng = _random.Random(3)
    rows = [(i, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for i in range(300)]
    # a duplicated centroid pair forces dist2 ties → must break to lower cid
    cents = [[0.0, 0.0], [2.0, 2.0], [2.0, 2.0], [-3.0, 1.0]]
    df = spark.createDataFrame(rows, "vec_id BIGINT, vec ARRAY<DOUBLE>")
    got = {
        r["vec_id"]: (r["cid"], round(r["dist2"], 12))
        for r in assign_clusters(df, cents, "vec").collect()
    }
    want = {}
    for i, v in rows:
        d2, cid = min(
            (sum((a - b) ** 2 for a, b in zip(v, c)), cid) for cid, c in enumerate(cents)
        )
        want[i] = (cid, round(d2, 12))
    assert got == want
    assert any(cid == 1 for cid, _ in got.values())


def test_als_beats_mean_baseline_and_shape(spark, sf_dir):
    """ALS factors must reconstruct training interactions better than the
    global mean (MSE), and the query's output must be 5 ranked parts per
    requested customer."""
    from pyspark.ml.recommendation import ALS
    from k_means_map_reduce_spark.registry import QUERIES
    from k_means_map_reduce_spark.sources import load_table

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ratings = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.countDistinct("l_orderkey").cast("float").alias("rating"))
        .cache()
    )
    als = ALS(rank=8, maxIter=8, seed=42, regParam=0.1, userCol="user",
              itemCol="item", ratingCol="rating", coldStartStrategy="drop")
    model = als.fit(ratings)
    pred = model.transform(ratings)
    mse_model = pred.selectExpr(
        "avg(pow(rating - prediction, 2)) AS m"
    ).first()["m"]
    mean_rating = ratings.selectExpr("avg(rating)").first()[0]
    mse_base = ratings.selectExpr(
        f"avg(pow(rating - {mean_rating}, 2)) AS m"
    ).first()["m"]
    assert mse_model < mse_base, (mse_model, mse_base)

    rows = QUERIES["ml_als_recommendations"](spark, sf_dir).collect()
    per_cust: dict[int, list[int]] = {}
    for r in rows:
        per_cust.setdefault(r["custkey"], []).append(r["rnk"])
    assert len(per_cust) == 20
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_cust.values())
