"""K-Means: the reference engine's entire query surface, Spark-first.

Three engines, one Lloyd loop:

1. ``kmeans_mllib`` — delegate the whole fit to ``pyspark.ml.clustering.KMeans``
   (Lloyd's + k-means|| init, squared-distance, tol-based early stop).

2. ``kmeans_native`` — a transparent DataFrame-native Lloyd's loop that
   re-expresses every operator of the reference's MapReduce dataflow
   (SURVEY.md §2a ops #5-#17) with Catalyst-optimizable expressions.

3. ``kmeans_arrow`` — the same loop with blocked-numpy (BLAS) assignment;
   one executor task for inputs that fit it, a per-iteration treeAggregate
   over cached blocks otherwise.

Native and Arrow differ only in their map + reduce step: each turns the
current centroids into per-cluster ``(count, Σvec, Σdist²)`` arrays, and
``_lloyd`` — the one driver-side loop — turns those into new centroids, the
WSSSE history and the convergence test. The streaming engine
(``streaming/kmeans_stream.py``) reuses the native step's aggregate and the
seeded init.

   reference (file:line)                          → here
   ---------------------------------------------- → ----------------------------
   ranged text scan, per-iter re-read
     (/root/reference/mapper.py:15-24,46)         → ``df.cache()`` once
   random-sample init (master.py:54-65)           → k distinct vectors of
                                                    smallest seeded hash rank
                                                    (``_rank``; same pick at
                                                    any partition count)
   nearest-centroid map, broadcast cross-join +
     argmin (mapper.py:45-87)                     → centroid literal array +
                                                    ``array_sort`` argmin expr
                                                    (broadcast, zero shuffle)
   hash partition by cid % R (mapper.py:32-38)    → Spark hash shuffle (implicit)
   group-by-key (reducer.py:58-61)                → ``groupBy("cid")``
   per-group vector mean (reducer.py:19-30)       → per-dimension ``sum`` + count
                                                    with map-side partial
                                                    aggregation; the division
                                                    happens in ``_lloyd``
   gather (master.py:238-247)                     → ``collect()`` of k×dim rows
   convergence ε=1e-6 (master.py:97-103)          → max centroid shift, joined
                                                    BY ID (fixes the reference's
                                                    positional-zip bug)
   fault tolerance (master.py:161-235)            → Spark task retry / lineage

   Deliberate semantic fixes vs the reference (SURVEY.md §2a quirks):
   - N-dimensional (reference hard-codes 2-D at mapper.py:27-28, 99).
   - Empty clusters keep their previous centroid instead of vanishing
     (reference drops them, reducer.py:65-67, shrinking k).
   - Ties broken deterministically toward the lowest centroid id (reference
     keeps first-in-iteration-order, mapper.py:64 — same outcome).

Scale notes: the native per-iteration plan is scan(cached) → project(argmin
expr) → partial agg → single k×(dim+2) shuffle → final agg → collect(k rows).
No cross join, no window, no Python on the hot path. Centroids ride into
executors as a code-generated literal array, whose size grows with k·dim.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.vectors import sq_euclidean


@dataclass
class KMeansResult:
    centers: list[list[float]]  # index = cluster id
    iterations: int
    converged: bool
    wssse_history: list[float] = field(default_factory=list)
    sizes: dict[int, int] = field(default_factory=dict)  # cluster id -> |points| at final assignment


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """Centroids as a literal array<struct<cid:int, cvec:array<double>>>.

    Built as ONE SQL expression string parsed JVM-side: constructing k·dim
    nested F.lit Columns costs hundreds of py4j round-trips per iteration
    (~0.3 s at k=8, dim=64), which would dominate small-batch iterations.
    repr(float) is the shortest exact round-trip form, so no precision loss.
    """
    parts = []
    for cid, vec in enumerate(centroids):
        arr = ",".join(f"{float(x)!r}D" for x in vec)
        parts.append(f"named_struct('cid', {cid}, 'cvec', array({arr}))")
    return F.expr("array(" + ",".join(parts) + ")")


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "vec"
) -> DataFrame:
    """Add ``cid``/``dist2``: nearest centroid per row (reference op #7).

    argmin = transform each centroid to struct(dist2, cid), array_sort (struct
    ordering = lexicographic ⇒ ties break toward the lowest cid), take head.
    Pure codegen expression — the map side of the reference's MapReduce, with
    the broadcast of centroids compiled into the plan.
    """
    cents = _centroid_literal(centroids)
    best = F.element_at(
        F.array_sort(
            F.transform(
                cents,
                lambda c: F.struct(
                    sq_euclidean(F.col(vec_col), c["cvec"]).alias("dist2"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
    )
    return df.withColumn("cid", best["cid"]).withColumn("dist2", best["dist2"])


def _cluster_sums(
    assigned: DataFrame, k: int, dim: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """groupBy(cid) → per-cluster (count, Σvec, Σdist²) arrays; one shuffle.

    Catalyst plans this as partial (map-side) + final aggregation: the
    shuffle carries k×(dim+2) partials per input partition, not data rows —
    the same asymptotics as the reference's combiner-less reducer, minus the
    materialized partition files (/root/reference/mapper.py:72-84). Clusters
    with no rows keep count 0.
    """
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("dist2").alias("sd")]
    aggs += [
        F.sum(F.element_at(F.col("vec"), i + 1)).alias(f"s{i}") for i in range(dim)
    ]
    cnt = np.zeros(k, dtype=np.int64)
    sums = np.zeros((k, dim), dtype=np.float64)
    sd = np.zeros(k, dtype=np.float64)
    for r in assigned.groupBy("cid").agg(*aggs).collect():
        cid = r["cid"]
        cnt[cid], sd[cid] = r["n"], r["sd"]
        sums[cid] = [r[f"s{i}"] for i in range(dim)]
    return cnt, sums, sd


def _lloyd(step, centroids, max_iter: int, tol: float) -> KMeansResult:
    """Lloyd's loop on the driver (reference master.start, master.py:106-159).

    ``step(C)`` is one map + reduce pass: it assigns every point to its
    nearest row of the k×dim matrix ``C`` and returns per-cluster
    ``(count, Σvec, Σdist²)`` arrays. This loop owns everything else: the
    mean update (empty clusters keep their previous centroid), the WSSSE
    history, and convergence (reference op #15, paired by id): every
    centroid moved < tol in Euclidean distance.
    """
    C = np.asarray(centroids, dtype=np.float64)
    wssse_history: list[float] = []
    sizes: dict[int, int] = {}
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        cnt, sums, sd = step(C)
        wssse_history.append(float(sd.sum()))
        new_c = C.copy()
        nz = cnt > 0
        new_c[nz] = sums[nz] / cnt[nz, None]
        shift = float(np.sqrt(((new_c - C) ** 2).sum(axis=1)).max())
        C = new_c
        sizes = {cid: int(n) for cid, n in enumerate(cnt)}
        if shift < tol:
            converged = True
            break
    return KMeansResult(C.tolist(), it, converged, wssse_history, sizes)


def _rank(seed: int) -> Column:
    """The one seeded draw behind every init pick: a 64-bit hash of
    ``(seed, vec)`` per row. It depends only on the record, so a seed picks
    the same rows however the input is partitioned, and equal vectors share
    one rank."""
    return F.xxhash64(F.lit(seed), F.col("vec"))


def _first_distinct(vecs, k: int | None = None) -> list[list[float]]:
    """The first ``k`` (default: all) distinct vectors of ``vecs``, in order."""
    out: list[list[float]] = []
    seen = set()
    for v in vecs:
        key = tuple(v)
        if key not in seen:
            seen.add(key)
            out.append(list(v))
            if len(out) == k:
                break
    return out


def _init_random(pts: DataFrame, k: int, seed: int) -> list[list[float]]:
    """Seeded sample of k distinct vectors (reference op #5,
    master.py:54-65): the k with the smallest ``(_rank(seed), vec)``.
    Copies of a vector share its rank, so every distinct vector is equally
    likely however often it repeats (the reference samples lines). One
    top-k job over the 4k lowest-rank rows usually holds k distinct
    vectors; only when it does not does the pick pay for a ``distinct()``
    shuffle."""
    vecs, by_rank = pts.select("vec"), (_rank(seed), "vec")
    rows = vecs.orderBy(*by_rank).limit(4 * k).collect()
    if not rows:
        raise ValueError("empty input")
    centroids = _first_distinct((r["vec"] for r in rows), k)
    if len(centroids) < k:
        rows = vecs.distinct().orderBy(*by_rank).limit(k).collect()
        centroids = [list(r["vec"]) for r in rows]
    if len(centroids) < k:
        raise ValueError(f"k={k} but only {len(centroids)} distinct points")
    return centroids


def _init_kmeans_parallel(
    pts: DataFrame, k: int, seed: int, rounds: int = 5, oversample: float | None = None
) -> list[list[float]]:
    """k-means|| init (Bahmani, Moseley, Vattani, Kumar, Vassilvitskii —
    VLDB 2012): the scalable k-means++ — instead of k sequential passes,
    ~5 rounds each sampling ℓ=2k points with probability ℓ·d²(x,C)/φ_C,
    then a driver-side weighted Lloyd on the O(ℓ·rounds) candidates.

    Each round is one distributed pass: assign_clusters (codegen argmin vs
    the current candidate set) → φ via one agg → independent Bernoulli draws,
    each the low 53 bits of a per-round ``_rank`` scaled to [0, 1). The
    drawn rows are sorted by that rank on the driver, so the candidate order
    does not depend on partitioning either. Candidate weights (how many
    points each candidate owns) come from one final groupBy. Everything
    driver-side touches only the ≤ ℓ·rounds+1 candidates, never the data.
    This is the init MLlib uses by default, re-expressed in DataFrame ops —
    at 100 TB it replaces k-means++'s k passes with ~5."""
    ell = oversample if oversample is not None else 2.0 * k
    candidates = _init_random(pts, 1, seed)
    for rnd in range(rounds):
        assigned = assign_clusters(pts, candidates, "vec")
        phi = assigned.agg(F.sum("dist2").alias("phi")).collect()[0]["phi"]
        if not phi or phi <= 0:  # all points coincide with candidates
            break
        rank = _rank(seed + 1000 * (rnd + 1))
        draw = rank.bitwiseAND(F.lit((1 << 53) - 1)) / F.lit(float(1 << 53))
        new = (
            assigned.where(
                draw < F.least(F.lit(1.0), F.lit(ell) * F.col("dist2") / F.lit(phi))
            )
            .select(rank.alias("rank"), "vec")
            .collect()
        )
        new.sort(key=lambda r: (r["rank"], r["vec"]))
        candidates = _first_distinct(candidates + [r["vec"] for r in new])
    if len(candidates) <= k:
        # not enough candidates (tiny/degenerate input): pad with randoms
        return _first_distinct(candidates + _init_random(pts, k, seed), k)
    # weight candidates by |points nearest to them|, then weighted Lloyd
    # driver-side on the small candidate set.
    wrows = (
        assign_clusters(pts, candidates, "vec")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    weights = [0.0] * len(candidates)
    for r in wrows:
        weights[r["cid"]] = float(r["n"])
    return _weighted_lloyd_local(candidates, weights, k, seed)


def _weighted_lloyd_local(
    xs: list[list[float]], ws: list[float], k: int, seed: int, iters: int = 30
) -> list[list[float]]:
    """Weighted k-means++ seeding, then weighted Lloyd's through ``_lloyd``
    on the driver (the candidate set is O(k·rounds)). The ++ seeding is the
    part of the k-means|| recipe that makes the local refine land one center
    per dense region — seeding by raw weight alone can put two centers in
    one heavy cluster and merge two others."""
    import random as _random

    rng = _random.Random(seed)

    def _sq(a: list[float], b: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def _weighted_draw(weights: list[float]) -> int:
        total = sum(weights)
        r = rng.random() * total
        acc = 0.0
        for i, w in enumerate(weights):
            acc += w
            if r <= acc:
                return i
        return len(weights) - 1

    centers = [list(xs[_weighted_draw(ws)])]
    d2 = [_sq(x, centers[0]) for x in xs]
    while len(centers) < k:
        draw = [w * d for w, d in zip(ws, d2)]
        if sum(draw) <= 0:
            # all remaining mass sits on existing centers; fall back uniform
            centers.append(list(xs[rng.randrange(len(xs))]))
        else:
            centers.append(list(xs[_weighted_draw(draw)]))
        d2 = [min(d, _sq(x, centers[-1])) for x, d in zip(xs, d2)]
    X = np.asarray(xs, dtype=np.float64)
    w = np.asarray(ws, dtype=np.float64)
    return _lloyd(lambda C: _lloyd_kernel(X, C, w), centers, iters, 1e-9).centers


def kmeans_native(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    init: str = "random",
    init_rounds: int = 5,
) -> KMeansResult:
    """DataFrame-native Lloyd's loop (reference master.start, master.py:106-159).

    init: "random" (the reference's seeded sample) or "k||" (k-means||,
    MLlib's default init, re-expressed with DataFrame ops). Each iteration's
    step is the codegen argmin (``assign_clusters``) plus ``_cluster_sums``."""
    pts = (
        df.select(F.col(vec_col).cast("array<double>").alias("vec"))
        .where(F.col("vec").isNotNull() & (F.size("vec") > 0))
        .cache()
    )
    try:
        if init == "k||":
            centroids = _init_kmeans_parallel(pts, k, seed, rounds=init_rounds)
        elif init == "random":
            centroids = _init_random(pts, k, seed)
        else:
            raise ValueError(f"unknown init {init!r}")
        dim = len(centroids[0])
        return _lloyd(
            lambda C: _cluster_sums(assign_clusters(pts, C, "vec"), k, dim),
            centroids, max_iter, tol,
        )
    finally:
        pts.unpersist()


def kmeans_native_df(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    init: str = "random",
    init_rounds: int = 5,
) -> DataFrame:
    """Run kmeans_native and return (cluster_id, size, center) as a DataFrame."""
    result = kmeans_native(
        df, vec_col=vec_col, k=k, max_iter=max_iter, tol=tol, seed=seed, init=init,
        init_rounds=init_rounds,
    )
    # sizes come from the final iteration's aggregation — no extra pass. (The
    # last assignment used the pre-update centroids; for a converged run the
    # difference is < tol.)
    rows = [
        (cid, int(result.sizes.get(cid, 0)), [float(x) for x in vec])
        for cid, vec in enumerate(result.centers)
    ]
    return spark.createDataFrame(
        rows, "cluster_id INT, size BIGINT, center ARRAY<DOUBLE>"
    )


def kmeans_mllib(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
) -> DataFrame:
    """MLlib KMeans; returns (cluster_id, size, center ARRAY<DOUBLE>).

    array_to_vector / vector_to_array keep VectorUDT confined to the MLlib
    boundary (SURVEY.md §7 risk note).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    ).cache()
    try:
        model = KMeans(k=k, maxIter=max_iter, tol=tol, seed=seed).fit(feats)
        # r13 optimization: the training summary already carries the
        # per-cluster assignment counts (KMeansSummary.clusterSizes, indexed
        # by cluster id), so the extra transform + groupBy + collect pass is
        # pure recomputation of the same numbers (verified equal) — guide
        # §1.2: don't compute things twice.
        sizes = {cid: n for cid, n in enumerate(model.summary.clusterSizes)}
    finally:
        feats.unpersist()
    spark = df.sparkSession
    rows = [
        (cid, int(sizes.get(cid, 0)), [float(x) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "cluster_id INT, size BIGINT, center ARRAY<DOUBLE>")


def _lloyd_kernel(X, C, w=None):
    """One Lloyd assignment pass over a dense block: (cnt, Σvec, Σdist²).

    The step of both kmeans_arrow physical paths, so their math is
    identical: |x|²+|c|²-2XCᵀ distances (BLAS matmul), argmin with
    first-occurrence = lowest-cid tie-break, dist² clamped at 0 against fp
    cancellation. ``w`` optionally weights each row (the k-means|| refine
    weighs candidates by the points they own).
    """
    c_sq = (C * C).sum(axis=1)
    d2 = (X * X).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (X @ C.T)
    cid = d2.argmin(axis=1)  # first occurrence = lowest cid on ties
    best = np.maximum(d2[np.arange(len(X)), cid], 0.0)
    kk = C.shape[0]
    cnt = np.bincount(cid, weights=w, minlength=kk)
    if w is not None:
        best, X = best * w, X * w[:, None]
    sd = np.bincount(cid, weights=best, minlength=kk)
    sums = np.zeros_like(C)
    np.add.at(sums, cid, X)
    return cnt, sums, sd


# Dense inputs up to this many bytes (by plan statistics) run kmeans_arrow's
# whole loop inside one executor task.
_LOCAL_BYTES = 64 * 1024 * 1024


def kmeans_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
) -> KMeansResult:
    """Lloyd's loop with blocked-numpy assignment — the scale path.

    Same semantics as kmeans_native (seeded init, empty-cluster retention,
    lowest-cid tie-break via argmin-first-occurrence, tol convergence), with
    an adaptive physical strategy — the same decision Catalyst makes between
    broadcast and shuffle joins, applied to an iterative job. Two paths,
    chosen from Catalyst plan statistics:

    - estimated size ≤ ``_LOCAL_BYTES`` (64 MB): the whole loop runs INSIDE
      one executor task over the coalesced block — ONE Spark job for all
      iterations instead of one per iteration. An iterative driver loop over
      a 1 MB input pays ~250 ms of job-scheduling floor per iteration for
      microseconds of math; running the loop where the data is removes that
      floor entirely. (Data never lands on the driver — this is mapInArrow,
      not collect; precedent: MLlib runs LocalKMeans for the k-means|| refine
      the same way, clustering/LocalKMeans.scala.)
    - larger or unknown sizes: per-iteration treeAggregate over a cached
      RDD of dense per-partition matrices:

        executors: cached numpy block → |x|²+|c|²-2XCᵀ argmin (BLAS)
                   → (count, Σvec, Σdist²) partials, tree-combined
        driver:    ``_lloyd`` updates centroids and tests the shift.

    Why this beats the expression-tree loop at any scale: no Catalyst
    re-analysis or re-codegen per iteration (the blocks never change — only
    the k×dim centroid matrix in the task closure does), distance math is a
    dense matmul instead of per-element codegen, and the shuffle is replaced
    by a depth-2 tree reduction of k-row partials. This is MLlib KMeans'
    own RDD loop shape (clustering/KMeans.scala: broadcast centers +
    treeAggregate over cached vector blocks), reproduced in numpy.

    Both paths pick the init ``_init_random`` picks (the k distinct vectors
    with the smallest ``(_rank(seed), vec)``) and run ``_lloyd`` with
    ``_lloyd_kernel`` as the step, so they agree to float-associativity
    (tested: test_arrow_single_task_equals_distributed).
    """
    spark = df.sparkSession
    base = df.select(F.col(vec_col).cast("array<double>").alias("vec")).where(
        F.col("vec").isNotNull() & (F.size("vec") > 0)
    )

    # Size the input from Catalyst plan statistics — no job spent; this is
    # the same estimate autoBroadcastJoinThreshold uses to pick broadcast
    # joins. Unknown stats (non-file plans) report Long.Max and route to the
    # distributed path.
    try:
        est_bytes = int(
            base._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = None

    if est_bytes is not None and est_bytes <= _LOCAL_BYTES:
        # ONE-JOB fast path: init AND the full loop run inside a single
        # executor task over the coalesced data. Spark ranks every row
        # before the coalesce; the task orders its rows by (rank, vec) and
        # keeps the first k distinct, which is the pick _init_random makes
        # on the driver. See docstring.
        #
        # The handoff is mapInArrow — vectors cross the JVM→Python boundary
        # as Arrow list<double> batches instead of pickled Rows, and Arrow
        # transports doubles exactly (gated by
        # test_arrow_single_task_equals_distributed).
        def run_all(batch_iter, _k=k, _mi=max_iter, _tol=tol):
            import pyarrow as _pa

            batches = list(batch_iter)
            if sum(b.num_rows for b in batches) == 0:
                return
            tbl = _pa.Table.from_batches(batches)
            vecs = tbl.column("vec").to_pylist()
            by_rank = sorted(zip(tbl.column("rank").to_pylist(), vecs))
            cents = _first_distinct((v for _, v in by_rank), _k)
            if len(cents) < _k:  # too few distinct points: the driver raises
                r = KMeansResult(cents, 0, False)
            else:
                X = np.asarray(vecs, dtype=np.float64)
                r = _lloyd(lambda C: _lloyd_kernel(X, C), cents, _mi, _tol)
            yield _pa.RecordBatch.from_pylist(
                [{"cents": r.centers, "it": r.iterations,
                  "converged": r.converged, "wssse": r.wssse_history,
                  "cnt": list(r.sizes.values())}],
                schema=_pa.schema(
                    [
                        ("cents", _pa.list_(_pa.list_(_pa.float64()))),
                        ("it", _pa.int32()),
                        ("converged", _pa.bool_()),
                        ("wssse", _pa.list_(_pa.float64())),
                        ("cnt", _pa.list_(_pa.int64())),
                    ]
                ),
            )

        out = (
            base.withColumn("rank", _rank(seed))
            .coalesce(1)
            .mapInArrow(
                run_all,
                "cents array<array<double>>, it int, converged boolean, "
                "wssse array<double>, cnt array<bigint>",
            )
            .collect()
        )
        if not out:
            raise ValueError("empty input")
        r = out[0]
        if len(r["cents"]) < k:
            raise ValueError(f"k={k} but only {len(r['cents'])} distinct points")
        return KMeansResult(
            [list(c) for c in r["cents"]], r["it"], r["converged"],
            list(r["wssse"]), {cid: n for cid, n in enumerate(r["cnt"])},
        )

    # Right-size parallelism to the data: each iteration is one aggregation
    # job whose cost includes (Python worker round-trip) × partitions — 32
    # near-empty partitions per iteration is pure overhead on small inputs.
    # Target ~100k vectors per partition; at 100 TB the same formula yields
    # thousands of partitions (capped by cluster parallelism).
    n_points = base.count()
    target = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-n_points // 100_000),  # ceil div
        ),
    )

    # Materialize each partition ONCE as a dense numpy block and cache the
    # block RDD. Every iteration is then a single treeAggregate over cached
    # matrices — no Catalyst analysis, no Arrow re-serialization, no
    # per-iteration broadcast round-trip; the k×dim centroid matrix rides
    # the task closure. This is MLlib's own loop shape (broadcast centers +
    # treeAggregate over cached vector blocks) with the 250 ms/iteration
    # DataFrame-plan floor removed: per iteration the driver pays one job
    # submission and a merge of depth-2-combined (cnt, Σvec, Σdist²) blocks.
    def _to_block(rows_iter):
        block = [r["vec"] for r in rows_iter]
        if block:
            yield np.asarray(block, dtype=np.float64)

    def comb(a, b):
        return a[0] + b[0], a[1] + b[1], a[2] + b[2]

    def step(C):
        zero = (np.zeros(len(C), dtype=np.int64), np.zeros_like(C), np.zeros(len(C)))
        return blocks.treeAggregate(
            zero, lambda acc, X: comb(acc, _lloyd_kernel(X, C)), comb, depth=2
        )

    pts = base.coalesce(target).cache()
    blocks = pts.rdd.mapPartitions(_to_block)
    try:
        centroids = _init_random(pts, k, seed)
        blocks.persist()
        blocks.count()
        pts.unpersist()  # the DataFrame cache is superseded by the block cache
        return _lloyd(step, centroids, max_iter, tol)
    finally:
        pts.unpersist()
        blocks.unpersist()
