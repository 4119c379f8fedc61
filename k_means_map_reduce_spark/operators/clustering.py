"""K-Means queries — the reference engine's query surface as driver entries.

Both implementations are seeded ⇒ deterministic across runs, but the math is
iterative/non-SQL, so these register rows-only (no oracle). Cross-checks
(MLlib ≡ native on separable data, WSSSE monotonicity, reference 2-D parity)
live in tests/test_kmeans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._memo import memoized
from ..registry import query
from ..sources import load_table
from ..kmeans import kmeans_mllib, kmeans_native_df
from ._util import dsum, sql_dsum


@query("kmeans_mllib_clusters")
def kmeans_mllib_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib KMeans over embeddings: (cluster_id, size, center)."""
    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_mllib(e, vec_col="embedding", k=8, max_iter=20, tol=1e-6, seed=42)
    return out.select("cluster_id", "size", F.round(F.element_at("center", 1), 4).alias("c0"))


@query("kmeans_native_clusters")
def kmeans_native_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native Lloyd's loop (reference rebuild): (cluster_id, size, c0)."""
    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_native_df(
        spark, e, vec_col="embedding", id_col="vec_id", k=8, max_iter=20, tol=1e-4, seed=42
    )
    return out.select("cluster_id", "size", F.round(F.element_at("center", 1), 4).alias("c0"))


@query(
    "kmeans_label_purity",
    oracle=None,
)
def kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-vs-label contingency: majority-label purity per native cluster."""
    from ..kmeans import assign_clusters, kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("vec"))
    res = kmeans_arrow(pts, vec_col="vec", k=10, max_iter=15, tol=1e-4, seed=42)
    assigned = assign_clusters(pts, res.centers, "vec")
    contingency = assigned.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("cid").orderBy(F.col("n").desc(), "label")
    return (
        contingency.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_count"),
        )
    )


@query(
    "kmeans_mass_conservation",
    oracle="""
    SELECT
      gs.i - 1 AS dim_idx,
      ROUND(SUM(embedding[gs.i]) / COUNT(*), 4) AS mean_val
    FROM embeddings,
      LATERAL (SELECT UNNEST(generate_series(1, array_length(embedding))) AS i) gs
    GROUP BY dim_idx
    ORDER BY dim_idx
    """,
)
def kmeans_mass_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled k-means invariant: Σ size·center / N per dimension must equal
    the global mean of the embedding column.

    K-means centers are the per-cluster means of the final assignment and
    sizes are that assignment's counts, so the size-weighted mean of the
    returned centers reconstructs the dataset's global centroid regardless of
    k, seed, or convergence — an identity DuckDB can recompute from the base
    table alone. This turns the otherwise rows-only iterative pipeline
    (sample-init → argmin assignment → per-cluster mean, reference
    mapper.py/reducer.py) into a hash-checked driver row: a broken
    assignment, lost partition, or double-counted point shifts the weighted
    mean and fails the oracle. Rounded to 4 decimals — the identity holds to
    ~1 ulp per cluster, not bit-exactly.
    """
    from ..kmeans import kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_arrow(e, vec_col="embedding", k=8, max_iter=20, tol=1e-4, seed=42)
    n = sum(int(s) for s in r.sizes.values())
    dim = len(r.centers[0])
    rows = [
        (
            d,
            round(
                sum(
                    int(r.sizes.get(cid, 0)) * float(vec[d])
                    for cid, vec in enumerate(r.centers)
                )
                / n,
                4,
            ),
        )
        for d in range(dim)
    ]
    return spark.createDataFrame(rows, "dim_idx BIGINT, mean_val DOUBLE")


# --- determinize-and-oracle contract shared by the k-means engine variants ---
#
# The seeded iterative loops (Arrow/BLAS, k-means||-init native, streaming
# mini-batch) can't be replayed by a second engine, but every valid k-means
# state satisfies engine-independent identities DuckDB CAN recompute from the
# base table alone (round-6 verdict item 5; same recipe family as
# kmeans_mass_conservation / the hll error contracts):
#   n_points  — Σ cluster sizes must equal COUNT(*) (no lost/doubled points;
#               reference reducer.py:19-30 count semantics);
#   tss       — total sum of squares about the global mean, decimal-exact in
#               both engines (the data-only anchor value);
#   mass_ok   — size-weighted mean of the returned centers reconstructs the
#               global per-dim mean to 1e-6 (centers ARE partition means);
#   wssse_le_tss — nearest-center WSSSE ≤ TSS (variance decomposition
#               TSS = WSS + BSS with BSS ≥ 0; nearest-assignment WSS is ≤
#               the historical-partition WSS, so the bound holds for the
#               streaming variant's online running means too).
# The oracle emits COUNT(*) / its own TSS / TRUE / TRUE — any conservation
# breach, drifted center, or inflated scatter flips a value and the driver's
# hash compare goes red.

_KMEANS_CONTRACT_SQL = f"""
    WITH pts AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), expl AS (
      SELECT vec_id, u.s.d AS d, u.s.x AS x
      FROM pts, UNNEST(list_transform(range(len(v)),
             i -> struct_pack(d := i, x := v[i+1]))) AS u(s)
    ), means AS (
      SELECT d, {sql_dsum('x')} / COUNT(*) AS m FROM expl GROUP BY d
    )
    SELECT
      (SELECT COUNT(*) FROM pts) AS n_points,
      ROUND({sql_dsum('(x - m) * (x - m)')}, 4) AS tss,
      TRUE AS mass_ok,
      TRUE AS wssse_le_tss
    FROM expl JOIN means USING (d)
    """

@memoized("clustering.contract")
def _global_moments(spark: SparkSession, sf_dir: str):
    """(n, tss, mean_by_dim) of the embeddings table via the decimal-exact
    recipe the oracle mirrors. Memoized: three engine variants share it."""
    pts = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    expl = pts.select(F.posexplode("v").alias("d", "x"))
    means = expl.groupBy("d").agg((dsum("x") / F.count(F.lit(1))).alias("m"))
    mean_by_d = {r["d"]: r["m"] for r in means.collect()}
    dev = F.col("x") - F.col("m")
    tss = float(
        expl.join(F.broadcast(means), "d")
        .agg(F.round(dsum(dev * dev), 4).alias("tss"))
        .collect()[0]["tss"]
    )
    n = pts.count()
    return n, tss, mean_by_d


def _kmeans_contract_df(
    spark: SparkSession,
    sf_dir: str,
    centers: list[list[float]],
    sizes: dict[int, float],
) -> DataFrame:
    """Evaluate the contract for one engine variant's (centers, sizes)."""
    from ..kmeans import assign_clusters

    n, tss, mean_by_d = _global_moments(spark, sf_dir)
    n_assigned = int(round(sum(float(s) for s in sizes.values())))
    total_w = sum(float(s) for s in sizes.values())
    dim = len(centers[0])
    wmean = [
        sum(float(sizes.get(cid, 0)) * float(c[d]) for cid, c in enumerate(centers))
        / total_w
        for d in range(dim)
    ]
    mass_ok = max(abs(wmean[d] - mean_by_d[d]) for d in range(dim)) < 1e-6
    # r13 optimization: the single-row-group scan would run the k×dim HOF
    # argmin on one core (guide §2.5); the WSSSE feeds only the boolean
    # bound below, so partition-order-dependent double summation cannot
    # change the reported row.
    pts = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col("embedding").cast("array<double>").alias("v"))
    )
    wssse = float(
        assign_clusters(pts, centers, vec_col="v")
        .agg(F.sum("dist2").alias("w"))
        .collect()[0]["w"]
    )
    return spark.createDataFrame(
        [(n_assigned, tss, bool(mass_ok), bool(wssse <= tss + 1e-6))],
        "n_points BIGINT, tss DOUBLE, mass_ok BOOLEAN, wssse_le_tss BOOLEAN",
    )


@query("kmeans_arrow_clusters", oracle=_KMEANS_CONTRACT_SQL)
def kmeans_arrow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/BLAS Lloyd's loop (kmeans.kmeans_arrow — the scale path),
    ORACLED via the k-means contract above: the executed path is the real
    treeAggregate + BLAS iteration (matches kmeans_native to ~1e-9,
    tested); the output is its invariant row. Cluster-level output shape
    lives on in kmeans_mllib_clusters and the kmeans_arrow API itself."""
    from ..kmeans import kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_arrow(e, vec_col="embedding", k=8, max_iter=20, tol=1e-4, seed=42)
    sizes = {cid: float(r.sizes.get(cid, 0)) for cid in range(len(r.centers))}
    return _kmeans_contract_df(spark, sf_dir, r.centers, sizes)


@query("kmeans_streaming_clusters", oracle=_KMEANS_CONTRACT_SQL)
def kmeans_streaming_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mini-batch K-Means (streaming/kmeans_stream.py): the
    embeddings table replayed as 5 micro-batches, centroids updated online
    with the decayed running-mean rule. ORACLED via the k-means contract:
    with decay=1.0 the final weights are exact assignment counts and each
    center is the running mean of the points historically assigned to it,
    so mass conservation and the WSSSE≤TSS bound hold for the online
    update too (nearest-assignment WSS ≤ historical-partition WSS).
    Blob-mean exactness and decay semantics: tests/test_streaming_kmeans.py."""
    from ..streaming.kmeans_stream import kmeans_streaming

    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_streaming(
        spark, e, vec_col="embedding", id_col="vec_id", k=8, n_chunks=5,
        decay=1.0, seed=42,
    )
    sizes = {cid: float(r.weights[cid]) for cid in range(len(r.centers))}
    return _kmeans_contract_df(spark, sf_dir, r.centers, sizes)


@query("kmeans_parallel_init_clusters", oracle=_KMEANS_CONTRACT_SQL)
def kmeans_parallel_init_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Lloyd's with k-means|| initialization (Bahmani et al., VLDB'12
    — kmeans._init_kmeans_parallel): ~5 distributed passes of oversampled
    seeded Bernoulli draws, then a driver-side weighted k-means++ refine of
    the O(k·rounds) candidates. The init MLlib defaults to, re-expressed in
    DataFrame ops. ORACLED via the k-means contract; blob-recovery +
    determinism of the init itself: tests/test_kmeans.py."""
    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_native_df(
        spark, e, vec_col="embedding", id_col="vec_id", k=8, max_iter=12,
        tol=1e-4, seed=42, init="k||", init_rounds=3,
    )
    rows = out.select("cluster_id", "size", "center").collect()
    centers = [list(r["center"]) for r in sorted(rows, key=lambda r: r["cluster_id"])]
    sizes = {
        i: float(r["size"])
        for i, r in enumerate(sorted(rows, key=lambda r: r["cluster_id"]))
    }
    return _kmeans_contract_df(spark, sf_dir, centers, sizes)


@query("ml_als_recommendations")
def ml_als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative filtering via MLlib ALS on implicit (customer, part)
    interactions (distinct-order count as confidence): top-5 part
    recommendations per customer for the 20 lowest custkeys.

    Completes the MLlib surface alongside kmeans_mllib: ALS is THE
    distributed matrix-factorization workhorse (blocked alternating least
    squares — each iteration solves per-user/per-item normal equations
    against broadcast factor blocks). Seeded and rows-only (factor init is
    engine-internal RNG); tests assert the model beats the global-mean
    baseline on training MSE and that the output shape/keys hold.
    """
    from pyspark.ml.recommendation import ALS

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ratings = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.countDistinct("l_orderkey").cast("float").alias("rating"))
    )
    als = ALS(
        rank=8,
        maxIter=8,
        seed=42,
        regParam=0.1,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().orderBy("user").limit(20)
    recs = model.recommendForUserSubset(users, 5)
    return recs.select(
        F.col("user").alias("custkey"),
        F.posexplode("recommendations").alias("rnk", "rec"),
    ).select(
        "custkey",
        (F.col("rnk") + 1).alias("rnk"),
        F.col("rec.item").alias("partkey"),
    )


@query(
    "ml_fpgrowth_itemsets",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), singles AS (
      SELECT CAST(pk AS VARCHAR) AS itemset, COUNT(*) AS freq
      FROM b GROUP BY pk HAVING COUNT(*) >= 3
    ), pairs AS (
      SELECT CAST(a.pk AS VARCHAR) || ',' || CAST(c.pk AS VARCHAR) AS itemset,
             COUNT(*) AS freq
      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
      GROUP BY a.pk, c.pk HAVING COUNT(*) >= 3
    )
    SELECT itemset, CAST(freq AS BIGINT) AS freq FROM singles
    UNION ALL
    SELECT itemset, CAST(freq AS BIGINT) AS freq FROM pairs
    """,
)
def ml_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent itemset mining with MLlib's distributed FP-Growth (Han
    et al. 2000; PFP partitioning, Li et al. 2008) over order baskets,
    reported as itemsets with absolute support >= 3. The driver-checked
    view filters to sizes 1-2 so plain SQL can recompute it exactly
    (market_basket_pairs already covers the pair lattice relationally —
    this is the MLlib-native route that also mines higher orders).

    Scale shape: FP-Growth's whole point at 100 TB — conditional FP-trees
    are built per group-id PARTITION (PFP), so no candidate-generation
    blow-up and no global tree; input is one distinct + collect_set pass.
    minSupport is given as (floor - 0.5)/n so MLlib's ceil() lands exactly
    on the integer floor the oracle uses.
    """
    from pyspark.ml.fpm import FPGrowth

    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
    )
    n_orders = baskets.count()
    fp = FPGrowth(itemsCol="items", minSupport=2.5 / n_orders, minConfidence=0.5)
    model = fp.fit(baskets)
    return (
        model.freqItemsets.where(F.size("items") <= 2)
        .select(
            F.concat_ws(",", F.transform(F.array_sort("items"), lambda x: x.cast("string"))).alias(
                "itemset"
            ),
            F.col("freq").cast("long").alias("freq"),
        )
    )


@query("embedding_pca_power_iteration")
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by distributed
    power iteration: v <- normalize(X^T X v), 8 rounds. Completes the
    iterative-dataflow family (k-means, PageRank, connected components,
    PCA) — the same map/shuffle/reduce-until-converged skeleton as the
    reference's k-means loop (master.py), with a matvec as the reducer.

    Scale shape: X^T X (64x64) is never materialized — each round computes
    X^T (X v) as one scan: a codegen'd dot product per row (zip_with fold
    against the broadcast-literal v), then posexplode to (dim, x_d * dot)
    and a 64-group aggregation whose partials are DECIMAL — exact under
    re-association, so every round's vector (and hence the converged
    component) is bit-deterministic regardless of partitioning. Only 64
    doubles cross to the driver per round.

    Accuracy, honestly: this corpus is near-isotropic (lambda2/lambda1 ~
    0.93), so isolating the individual top eigenvector would need ~100
    plain-power rounds (or Lanczos/deflation); what converges at the
    SQUARED rate is the Rayleigh quotient — the variance the returned
    direction captures — which reaches >=95% of lambda1 by round 12. The
    unit test asserts exactly that (plus unit norm), not eigvec identity.
    Rows-only driver row (iterative, like kmeans).
    """
    import math

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    dim = len(e.head()["x"])
    v = [1.0] + [0.0] * (dim - 1)
    eigenvalue = 0.0
    for _ in range(12):
        vlit = F.array(*[F.lit(float(c)) for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("x"), vlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        contrib = e.select(dot.alias("dot"), F.posexplode("x").alias("d", "xd"))
        w = (
            contrib.groupBy("d")
            .agg(
                F.sum(F.round(F.col("xd") * F.col("dot"), 12).cast("decimal(30,12)"))
                .cast("double")
                .alias("w")
            )
            .collect()
        )
        wv = [0.0] * dim
        for r in w:
            wv[r["d"]] = r["w"]
        norm = math.sqrt(sum(c * c for c in wv))
        eigenvalue = norm
        v = [c / norm for c in wv]
    return spark.createDataFrame(
        [(i, round(c, 6), round(eigenvalue, 4)) for i, c in enumerate(v)],
        "dim INT, loading DOUBLE, eigenvalue DOUBLE",
    )


def _kmeans_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB mirror of the determinized Lloyd's loop: same init (k
    smallest salted-md5 vec_ids), same assignment argmin (sequential
    left-fold distance, ties to the lowest cid), same decimal-exact mean
    updates — one assignment + one centroid CTE per round."""
    dist = (
        "list_reduce(list_transform(range(len(e.v)),"
        " i -> (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1]) * (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1])),"
        " (x, y) -> x + y)"
    )
    ctes = [
        "emb AS (SELECT vec_id, embedding AS v FROM embeddings)",
        f"""cent0 AS (
      SELECT cid, c FROM (
        SELECT
          ROW_NUMBER() OVER (ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
          list_transform(v, x -> CAST(x AS DOUBLE)) AS c
        FROM emb
      ) WHERE cid < {k}
    )""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""a{r} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rk
        FROM emb e CROSS JOIN cent{r - 1} c
      ) WHERE rk = 1
    )"""
        )
        ctes.append(
            f"""cent{r} AS (
      SELECT cid, list(m ORDER BY d) AS c FROM (
        SELECT cid, u.s.d AS d,
          CAST(SUM(CAST(ROUND(u.s.x, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS m
        FROM a{r}, UNNEST(list_transform(range(len(v)),
               i -> struct_pack(d := i, x := CAST(v[i+1] AS DOUBLE)))) AS u(s)
        GROUP BY cid, u.s.d
      ) GROUP BY cid
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT
      a.cid,
      COUNT(*) AS n,
      ROUND(sqrt(list_reduce(list_transform(c.c, x -> x * x), (p, q) -> p + q)), 6)
        AS centroid_norm
    FROM a{rounds} a JOIN cent{rounds} c USING (cid)
    GROUP BY a.cid, c.c
    """
    )


@memoized("clustering.lloyd")
def _lloyd_portable(spark: SparkSession, sf_dir: str, k: int, rounds: int):
    """(centroids, final assignment df) of the determinized Lloyd loop:
    salted-md5 init, sequential-fold distances, decimal-exact means —
    every number replayable by the SQL oracles built on it. Memoized per
    (session, sf_dir, k, rounds): three oracled queries share this loop,
    and the result is deterministic by construction, so recomputing it
    per query would triple the driver's collect rounds for nothing."""
    from ..kmeans import assign_clusters

    # fan out the single-row-group embeddings scan: each round's argmin +
    # posexplode otherwise runs on one core
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    init = (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string"))).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    cents = [list(r["v"]) for r in init]
    e = emb.select("vec_id", F.col("embedding").alias("v"))
    assigned = None
    for _ in range(rounds):
        assigned = assign_clusters(e, cents, vec_col="v")
        means = (
            assigned.select("cid", F.posexplode(F.col("v").cast("array<double>")).alias("d", "x"))
            .groupBy("cid", "d")
            .agg(
                (
                    F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["d"]] = r["m"]
        cents = [
            [by_cid[cid][d] for d in sorted(by_cid[cid])] for cid in sorted(by_cid)
        ]
    return cents, assigned


@query("kmeans_lloyd_oracled", oracle=_kmeans_oracle_sql(4, 3))
def kmeans_lloyd_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's K-Means — THE reference's algorithm (master.py's
    map/shuffle/reduce loop) — made fully hash-comparable against an
    independent engine: deterministic portable init (the k=4 vectors with
    smallest salted-md5 vec_id, replacing the reference's random.sample /
    our seeded takeSample, which no second engine can replay), sequential
    left-fold distances (identical double streams in both engines),
    argmin ties to the lowest cid, and DECIMAL-exact per-dimension mean
    updates so every round's centroids are bit-identical regardless of
    partitioning. 3 rounds unrolled as SQL CTEs in the DuckDB oracle.

    The production variants (kmeans_native/arrow/mllib, seeded init,
    convergence loop) stay the throughput path; this query is the
    cross-engine correctness anchor for the iteration algebra itself —
    the strongest form of the reference-parity claim.

    Scale shape per round: assignment is the same zero-shuffle
    broadcast-literal argmin as kmeans.assign_clusters; the mean update
    shuffles k x dim decimal partials (posexplode before aggregation, so
    partial aggregation collapses rows map-side). Driver holds k x dim
    doubles between rounds — exactly the reference's master state.
    """
    cents, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("c"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cent_rows = [(cid, cents[cid]) for cid in range(len(cents))]
    cent_df = spark.createDataFrame(cent_rows, "cid INT, c ARRAY<DOUBLE>")
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    return sizes.join(F.broadcast(cent_df), "cid").select(
        F.col("cid").cast("long").alias("cid"),
        "n",
        F.round(norm, 6).alias("centroid_norm"),
    )


def _ivf_oracle_sql(k: int, rounds: int, nprobe: int, n_query: int, top_k: int) -> str:
    """DuckDB mirror of the oracled IVF search: the Lloyd CTE chain (same
    generator as the kmeans oracle), cell assignment, per-query probe of
    the `nprobe` nearest cells, exact cosine rescore, top-k."""
    dist = (
        "list_reduce(list_transform(range(len(e.v)),"
        " i -> (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1]) * (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1])),"
        " (x, y) -> x + y)"
    )
    # the Lloyd chain, minus its final SELECT
    lloyd = _kmeans_oracle_sql(k, rounds)
    chain = lloyd[: lloyd.index("\n    SELECT")]
    dot = (
        "list_reduce(list_transform(range(len(q.v)),"
        " i -> CAST(q.v[i+1] AS DOUBLE) * CAST(x.v[i+1] AS DOUBLE)), (p, s) -> p + s)"
    )
    nrm = (
        "sqrt(list_reduce(list_transform(range(len({t}.v)),"
        " i -> CAST({t}.v[i+1] AS DOUBLE) * CAST({t}.v[i+1] AS DOUBLE)), (p, s) -> p + s))"
    )
    return (
        chain
        + f""",
    probes AS (
      SELECT vec_id AS q_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rk
        FROM emb e CROSS JOIN cent{rounds} c
        WHERE e.vec_id < {n_query}
      ) WHERE rk <= {nprobe}
    ), cands AS (
      SELECT q.q_id, x.vec_id, q.v AS qv, x.v AS xv,
        {dot} / ({nrm.format(t='q')} * {nrm.format(t='x')}) AS sim
      FROM probes q JOIN a{rounds} x USING (cid)
      WHERE x.vec_id <> q.q_id
    ), ranked AS (
      SELECT q_id, vec_id, sim,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM cands
    )
    SELECT q_id, vec_id, ROUND(sim, 4) AS sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {top_k}
    """
    )


@query("sim_ann_ivf_oracled", oracle=_ivf_oracle_sql(4, 3, 2, 50, 5))
def sim_ann_ivf_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor with EVERY stage cross-engine
    verified: the coarse quantizer is the determinized Lloyd clustering
    (kmeans_lloyd_oracled's exact centroids), queries probe their 2
    nearest of 4 cells, candidates rescore with exact cosine, top-5 per
    query — and DuckDB replays the whole pipeline (clustering included)
    to the same hash. The ANN tiers' accuracy was previously argued by
    recall tests alone; this anchors their MECHANICS (cell assignment,
    probe pruning, rescore, tie-breaking) exactly, the way
    kmeans_lloyd_oracled anchors the clustering loop.

    Scale shape: identical to sim_ann_ivf_topk — the corpus partitions by
    cell (at scale: a partition-pruning column), queries broadcast to
    their probed cells, rescore touches only candidate rows.
    """
    from pyspark.sql import Window

    from ..functions.vectors import cosine_similarity
    from ..kmeans import assign_clusters

    n_query, top_k, nprobe = 50, 5, 2
    cents, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    corpus = assigned.select("vec_id", "v", "cid")
    queries = corpus.where(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    probed = assign_clusters(
        queries.select(F.col("q_id").alias("vec_id"), F.col("qv").alias("v")),
        cents,
        vec_col="v",
    )
    # rank centroids per query: re-assign with per-centroid distances via
    # explode of the centroid literal (nprobe nearest, ties to lowest cid)
    from ..kmeans import _centroid_literal

    cl = _centroid_literal(cents)
    from ..functions.vectors import sq_euclidean

    per_cell = queries.select(
        "q_id",
        "qv",
        F.explode(cl).alias("c"),
    ).select(
        "q_id",
        "qv",
        F.col("c.cid").alias("cid"),
        sq_euclidean(F.col("qv"), F.col("c.cvec")).alias("d2"),
    )
    wq = Window.partitionBy("q_id").orderBy("d2", "cid")
    probes = per_cell.select(
        "q_id", "qv", "cid", F.row_number().over(wq).alias("rk")
    ).where(F.col("rk") <= nprobe)
    cands = (
        probes.join(corpus, "cid")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_similarity(F.col("qv"), F.col("v")).alias("sim"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        cands.select(
            "q_id", "vec_id", "sim", F.row_number().over(wr).cast("long").alias("rnk")
        )
        .where(F.col("rnk") <= top_k)
        .select("q_id", "vec_id", F.round("sim", 4).alias("sim"), "rnk")
    )


def _purity_oracle_sql(k: int, rounds: int) -> str:
    lloyd = _kmeans_oracle_sql(k, rounds)
    chain = lloyd[: lloyd.index("\n    SELECT")]
    return (
        chain
        + f""",
    labeled AS (
      SELECT a.cid, e2.label
      FROM a{rounds} a JOIN embeddings e2 ON e2.vec_id = a.vec_id
    ), per_label AS (
      SELECT cid, label, COUNT(*) AS n
      FROM labeled GROUP BY cid, label
    ), tops AS (
      SELECT cid, label, n,
        ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rk,
        SUM(n) OVER (PARTITION BY cid) AS total
      FROM per_label
    )
    SELECT
      cid,
      CAST(total AS BIGINT) AS n,
      CAST(label AS BIGINT) AS top_label,
      ROUND(CAST(n AS DOUBLE) / total, 6) AS purity
    FROM tops WHERE rk = 1
    """
    )


@query("kmeans_purity_oracled", oracle=_purity_oracle_sql(4, 3))
def kmeans_purity_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity against the embeddings' ground-truth labels, on the
    determinized Lloyd assignment — an EXTERNAL clustering-quality metric
    that is itself hash-verified (the seeded variants could only offer
    rows-only purity, because no second engine can replay their init).
    Output: per cluster, its size, majority label, and majority share.

    Scale shape: the label join keys on vec_id against the already-
    partitioned assignment; purity is two small aggregations over
    (cid, label) counts.
    """
    _, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labeled = assigned.select("vec_id", "cid").join(emb, "vec_id")
    per_label = labeled.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    wr = Window.partitionBy("cid").orderBy(F.col("n").desc(), "label")
    wt = Window.partitionBy("cid")
    tops = per_label.select(
        "cid",
        "label",
        "n",
        F.row_number().over(wr).alias("rk"),
        F.sum("n").over(wt).alias("total"),
    ).where(F.col("rk") == 1)
    return tops.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("total").cast("long").alias("n"),
        F.col("label").cast("long").alias("top_label"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("purity"),
    )


def _pca_oracle_sql(rounds: int) -> str:
    """DuckDB mirror of the decimal-exact power iteration: per round, the
    row-wise dot (sequential left-fold), decimal-summed per-dimension
    contributions, and the same normalize arithmetic."""
    ctes = [
        "emb AS (SELECT embedding AS v FROM embeddings)",
        "dim0 AS (SELECT len(v) AS nd FROM emb LIMIT 1)",
        # v0 = [1, 0, 0, ...]
        "v0 AS (SELECT list_transform(range(nd), i -> CASE WHEN i = 0 THEN"
        " CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS v FROM dim0)",
    ]
    for r in range(1, rounds + 1):
        dot = (
            f"list_reduce(list_transform(range(len(e.v)),"
            f" i -> CAST(e.v[i+1] AS DOUBLE) * p.v[i+1]), (a, b) -> a + b)"
        )
        ctes.append(
            f"""w{r} AS (
      SELECT u.s.d AS d,
        CAST(SUM(CAST(ROUND(u.s.x * dt, 12) AS DECIMAL(30,12))) AS DOUBLE) AS w
      FROM (
        SELECT e.v, {dot} AS dt FROM emb e CROSS JOIN v{r - 1} p
      ), UNNEST(list_transform(range(len(v)),
           i -> struct_pack(d := i, x := CAST(v[i+1] AS DOUBLE)))) AS u(s)
      GROUP BY u.s.d
    )"""
        )
        ctes.append(
            f"wl{r} AS (SELECT list(w ORDER BY d) AS w FROM w{r})"
        )
        ctes.append(
            f"n{r} AS (SELECT sqrt(list_reduce(list_transform(w, c -> c * c),"
            f" (a, b) -> a + b)) AS nm FROM wl{r})"
        )
        ctes.append(
            f"v{r} AS (SELECT list_transform(w, c -> c / nm) AS v"
            f" FROM wl{r} CROSS JOIN n{r})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT
      CAST(u.s.d AS INT) AS dim,
      ROUND(u.s.x, 6) AS loading,
      ROUND(nm, 4) AS eigenvalue
    FROM v{rounds} CROSS JOIN n{rounds},
      UNNEST(list_transform(range(len(v)),
        i -> struct_pack(d := i, x := v[i+1]))) AS u(s)
    """
    )


@query("embedding_pca_oracled", oracle=_pca_oracle_sql(6))
def embedding_pca_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PCA with the iteration itself cross-engine
    verified: the decimal-exact matvec makes every round's vector
    bit-deterministic (embedding_pca_power_iteration's design), and with
    a fixed e_1 start DuckDB replays all 6 rounds — dot products as
    sequential left-folds, per-dimension contributions as exact decimal
    sums, the same normalize arithmetic — and hash-matches every loading.
    Completes the oracled-iteration set: PageRank, Lloyd's k-means, IVF
    search, and now a linear-algebra eigensolver.

    (6 rounds — the mechanics anchor; the 12-round rows-only variant
    remains the quality path, reaching >=95% captured variance.)
    """
    import math

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("embedding").cast("array<double>").alias("x"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dim = len(e.head()["x"])
    v = [1.0] + [0.0] * (dim - 1)
    eigenvalue = 0.0
    for _ in range(6):
        vlit = F.array(*[F.lit(float(c)) for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("x"), vlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        contrib = e.select(dot.alias("dot"), F.posexplode("x").alias("d", "xd"))
        w = (
            contrib.groupBy("d")
            .agg(
                F.sum(F.round(F.col("xd") * F.col("dot"), 12).cast("decimal(30,12)"))
                .cast("double")
                .alias("w")
            )
            .collect()
        )
        wv = [0.0] * dim
        for r in w:
            wv[r["d"]] = r["w"]
        norm = math.sqrt(sum(c * c for c in wv))
        eigenvalue = norm
        v = [c / norm for c in wv]
    return spark.createDataFrame(
        [(i, round(c, 6), round(eigenvalue, 4)) for i, c in enumerate(v)],
        "dim INT, loading DOUBLE, eigenvalue DOUBLE",
    )


@query(
    "ml_prefixspan_patterns",
    oracle="""
    WITH pos AS (
      SELECT user_id,
             strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
             event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
             ) AS p
      FROM events
    ),
    nseq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT DISTINCT user_id, day FROM pos)
    ),
    stats AS (
      SELECT user_id, day, event_type,
             MIN(p) AS mn, MAX(p) AS mx, COUNT(*) AS c
      FROM pos GROUP BY 1, 2, 3
    ),
    singles AS (
      SELECT event_type AS pattern, CAST(COUNT(*) AS BIGINT) AS freq
      FROM stats GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type || '=>' || b.event_type AS pattern,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM stats a
      JOIN stats b ON a.user_id = b.user_id AND a.day = b.day
      WHERE (a.event_type <> b.event_type AND a.mn < b.mx)
         OR (a.event_type = b.event_type AND a.c >= 2)
      GROUP BY 1
    ),
    allp AS (
      SELECT * FROM singles UNION ALL SELECT * FROM pairs
    )
    SELECT pattern, freq
    FROM allp, nseq
    WHERE freq >= CAST(((7 * n) // 100) + 1 AS BIGINT)
    """,
)
def ml_prefixspan_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining with MLlib's distributed PrefixSpan (Pei
    et al. 2001) over per-(user, day) event-type sequences, support > 7%
    of sequences, maxPatternLength=2 — which makes the FULL output
    SQL-recomputable: with singleton itemsets, <[a],[b]> is frequent in a
    sequence iff min_pos(a) < max_pos(b) (a != b) or count(a) >= 2 (a = b).

    minSupport is (k - 0.5)/n so MLlib's internal ceil() lands exactly on
    the integer floor k the oracle uses (the ml_fpgrowth_itemsets trick).

    Scale shape: PrefixSpan partitions by prefix — no candidate explosion;
    sequence building is one (user, day) shuffle with an array_sort of
    per-day events (bounded by a day's activity, never a whole user
    history); the pattern lattice at maxPatternLength=2 over a 5-type
    alphabet is trivially small however large the fact is.
    """
    from pyspark.ml.fpm import PrefixSpan

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    pos = e.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.row_number().over(w).alias("p"),
    )
    seqs = (
        pos.groupBy("user_id", "day")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "event_type"))),
                lambda s: F.array(s.event_type),
            ).alias("sequence")
        )
    )
    n_seq = seqs.count()
    # Integer arithmetic, not int(0.07 * n): the float product can land one
    # ulp below the exact value while the oracle's FLOOR over DuckDB's
    # exact decimal arithmetic doesn't — k would differ by 1 and the
    # frequent-pattern sets diverge (advisor finding).
    k = (7 * n_seq) // 100 + 1
    ps = PrefixSpan(
        minSupport=(k - 0.5) / n_seq, maxPatternLength=2, sequenceCol="sequence"
    )
    out = ps.findFrequentSequentialPatterns(seqs)
    return out.select(
        F.array_join(
            F.transform(F.col("sequence"), lambda its: its[0]), "=>"
        ).alias("pattern"),
        F.col("freq").cast("long").alias("freq"),
    )


def _elbow_oracle_sql(ks: tuple[int, ...], rounds: int) -> str:
    """Union of per-k WSSSE readings, each k's Lloyd loop unrolled with
    k-prefixed CTE names (the _kmeans_oracle_sql machinery, parameterized
    twice). Distances use the same sequential left-fold; per-point
    distances round to 6dp then DECIMAL-sum."""
    dist = (
        "list_reduce(list_transform(range(len(a.v)),"
        " i -> (CAST(a.v[i+1] AS DOUBLE) - c.c[i+1]) * (CAST(a.v[i+1] AS DOUBLE) - c.c[i+1])),"
        " (x, y) -> x + y)"
    )
    adist = (
        "list_reduce(list_transform(range(len(e.v)),"
        " i -> (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1]) * (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1])),"
        " (x, y) -> x + y)"
    )
    ctes = ["emb AS (SELECT vec_id, embedding AS v FROM embeddings)"]
    finals = []
    for k in ks:
        p = f"k{k}"
        ctes.append(
            f"""{p}cent0 AS (
      SELECT cid, c FROM (
        SELECT
          ROW_NUMBER() OVER (ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
          list_transform(v, x -> CAST(x AS DOUBLE)) AS c
        FROM emb
      ) WHERE cid < {k}
    )"""
        )
        for r in range(1, rounds + 1):
            ctes.append(
                f"""{p}a{r} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {adist}, c.cid) AS rk
        FROM emb e CROSS JOIN {p}cent{r - 1} c
      ) WHERE rk = 1
    )"""
            )
            ctes.append(
                f"""{p}cent{r} AS (
      SELECT cid, list(m ORDER BY d) AS c FROM (
        SELECT cid, u.s.d AS d,
          CAST(SUM(CAST(ROUND(u.s.x, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS m
        FROM {p}a{r}, UNNEST(list_transform(range(len(v)),
               i -> struct_pack(d := i, x := CAST(v[i+1] AS DOUBLE)))) AS u(s)
        GROUP BY cid, u.s.d
      ) GROUP BY cid
    )"""
            )
        finals.append(
            f"""SELECT {k} AS k, CAST(COUNT(*) AS BIGINT) AS n_points,
      ROUND(CAST(SUM(CAST(ROUND({dist}, 6) AS DECIMAL(28,6))) AS DOUBLE), 4)
        AS wssse
    FROM {p}a{rounds} a JOIN {p}cent{rounds} c USING (cid)"""
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(finals)


_ELBOW_KS = (2, 4, 8)


@query("kmeans_elbow_wssse", oracle=_elbow_oracle_sql(_ELBOW_KS, 3))
def kmeans_elbow_wssse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection for the reference's one algorithm: WSSSE at
    k = 2, 4, 8 after 3 determinized Lloyd rounds each — the elbow curve,
    ORACLED (three full unrolled Lloyd loops replayed in one DuckDB
    query). Distances are the same sequential left-fold as the oracle
    (F.aggregate with 0.0 init == DuckDB list_reduce, the NEXT.md fold
    identity); per-point distances round to 6dp, DECIMAL-sum, wssse
    rounds one digit coarser. _lloyd_portable memoizes each k's loop, so
    the k=4 run is shared with kmeans_lloyd_oracled and friends.

    Scale shape: per k it is the standard Lloyd round (broadcast-literal
    argmin, k x dim decimal partials); the WSSSE pass re-reads the
    assignment once with the final centroids as literals — no extra
    shuffle.
    """
    out = None
    for k in _ELBOW_KS:
        cents, assigned = _lloyd_portable(spark, sf_dir, k=k, rounds=3)
        cent_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
        )
        cent = F.element_at(cent_lit, F.col("cid") + 1)
        diffs = F.zip_with(
            F.col("v").cast("array<double>"),
            cent,
            lambda a, b: (a - b) * (a - b),
        )
        d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
        one = (
            assigned.select(F.round(d2, 6).cast("decimal(28,6)").alias("d"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_points"),
                F.round(F.sum("d").cast("double"), 4).alias("wssse"),
            )
            .select(F.lit(k).alias("k"), "n_points", "wssse")
        )
        out = one if out is None else out.unionByName(one)
    return out


def _silhouette_oracle_sql(k: int, rounds: int) -> str:
    """Simplified (centroid-based) silhouette per cluster: a = distance
    to own centroid, b = distance to the second-closest; s = (b - a) /
    max(a, b). Reuses the unrolled Lloyd CTEs; the rk <= 2 ranking keeps
    both distances. sqrt is exactly rounded everywhere, so a and b are
    bit-identical doubles cross-engine before the 6dp rounding."""
    adist = (
        "list_reduce(list_transform(range(len(e.v)),"
        " i -> (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1]) * (CAST(e.v[i+1] AS DOUBLE) - c.c[i+1])),"
        " (x, y) -> x + y)"
    )
    base = _kmeans_oracle_sql(k, rounds)
    head = base[: base.rindex("SELECT")]  # keep the CTE chain, drop the final select
    return (
        head.rstrip()
        + f""",
    ranked2 AS (
      SELECT e.vec_id, c.cid, sqrt({adist}) AS dist,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {adist}, c.cid) AS rk
      FROM emb e CROSS JOIN cent{rounds} c
    ),
    ab AS (
      SELECT vec_id,
             MAX(CASE WHEN rk = 1 THEN cid END) AS cid,
             MAX(CASE WHEN rk = 1 THEN dist END) AS a,
             MAX(CASE WHEN rk = 2 THEN dist END) AS b
      FROM ranked2 WHERE rk <= 2 GROUP BY vec_id
    )
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(CAST(ROUND((b - a) / GREATEST(a, b), 6)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 5) AS mean_silhouette
    FROM ab GROUP BY cid
    """
    )


@query("kmeans_silhouette_simplified", oracle=_silhouette_oracle_sql(4, 3))
def kmeans_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette (centroid-based, the scalable variant MLlib's
    ClusteringEvaluator also uses) for the k=4 determinized Lloyd model:
    s = (b - a)/max(a, b) with a = distance to own centroid and b = to
    the runner-up — per-cluster means, ORACLED against the replayed loop.
    Full silhouette is O(n^2) pairwise; the centroid form is one pass and
    is the one that exists at 100 TB. The final-round centroids score the
    points (cent_rounds, not the assignment-time cent_rounds-1 — both
    engines use the same convention).

    Scale shape: distances to k literal centroids per point (zero
    shuffle), one vec_id-local top-2, then a k-group rollup.
    """
    cents, _assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    pairs = e.select(
        "vec_id",
        F.posexplode(cent_lit).alias("cid0", "c"),
        F.col("v"),
    )
    diffs = F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b))
    d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(d2.asc(), F.col("cid0").asc())
    ranked = pairs.select(
        "vec_id",
        F.col("cid0").alias("cid"),
        F.sqrt(d2).alias("dist"),
        F.row_number().over(w).alias("rk"),
    ).where(F.col("rk") <= 2)
    ab = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("cid"))).alias("cid"),
        F.max(F.when(F.col("rk") == 1, F.col("dist"))).alias("a"),
        F.max(F.when(F.col("rk") == 2, F.col("dist"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        ab.groupBy(F.col("cid").cast("long").alias("cid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(
                F.sum(F.round(s, 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                5,
            ).alias("mean_silhouette"),
        )
    )


def _db_index_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB mirror of the Davies-Bouldin index over the determinized
    Lloyd clustering: per-cluster mean member distance (scatter), pairwise
    centroid separations, DB_i = max_j (s_i + s_j) / d_ij."""
    lloyd = _kmeans_oracle_sql(k, rounds)
    chain = lloyd[: lloyd.index("\n    SELECT")]
    dist_mc = (
        "list_reduce(list_transform(range(len(m.v)),"
        " i -> (CAST(m.v[i+1] AS DOUBLE) - c.c[i+1])"
        " * (CAST(m.v[i+1] AS DOUBLE) - c.c[i+1])), (x, y) -> x + y)"
    )
    dist_cc = (
        "list_reduce(list_transform(range(len(a.c)),"
        " i -> (a.c[i+1] - b.c[i+1]) * (a.c[i+1] - b.c[i+1])),"
        " (x, y) -> x + y)"
    )
    return (
        chain
        + f""",
    scatter AS (
      SELECT m.cid, COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(sqrt({dist_mc}), 6) AS DECIMAL(18,6)))
             AS DOUBLE) / COUNT(*) AS si
      FROM a{rounds} m JOIN cent{rounds} c USING (cid)
      GROUP BY m.cid
    ),
    pairs AS (
      SELECT a.cid AS i,
        (sa.si + sb.si) / ROUND(sqrt({dist_cc}), 6) AS r
      FROM cent{rounds} a JOIN cent{rounds} b ON a.cid <> b.cid
      JOIN scatter sa ON sa.cid = a.cid
      JOIN scatter sb ON sb.cid = b.cid
      WHERE ROUND(sqrt({dist_cc}), 6) > 0
    ),
    dbi AS (SELECT i AS cid, MAX(r) AS db_i FROM pairs GROUP BY i)
    SELECT s.cid, CAST(s.n AS BIGINT) AS n,
      ROUND(s.si, 6) AS scatter,
      ROUND(d.db_i, 6) AS db_i
    FROM scatter s JOIN dbi d USING (cid)
    """
    )


@query("kmeans_davies_bouldin_oracled", oracle=_db_index_oracle_sql(4, 3))
def kmeans_davies_bouldin_oracled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Davies-Bouldin cluster-validity index per cluster on the
    determinized Lloyd clustering: DB_i = max over other clusters of
    (s_i + s_j) / d(c_i, c_j) with s = mean member-to-centroid distance —
    completes the INTERNAL validity set beside the simplified silhouette
    and the elbow WSSSE, and like them it is fully hash-verified because
    the portable Lloyd loop is replayable by DuckDB.

    Determinism: member and centroid distances are sequential-fold exact;
    each sqrt is IEEE-correctly-rounded; per-member distances round to
    6dp before the decimal scatter mean; the max runs over identical
    doubles; coincident centroids (d = 0) drop out of the max rather
    than dividing.

    Scale shape: one assignment-joined scan for the scatters (k-row
    broadcast centroid dim), then k x k bounded pair arithmetic.
    """
    from ..functions.vectors import sq_euclidean

    cents, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    cent_rows = [(cid, cents[cid]) for cid in range(len(cents))]
    cent_df = spark.createDataFrame(cent_rows, "cid INT, c ARRAY<DOUBLE>")
    members = assigned.select(
        "cid", F.col("v").cast("array<double>").alias("v")
    )
    dist = F.round(F.sqrt(sq_euclidean(F.col("v"), F.col("c"))), 6)
    scatter = (
        members.join(F.broadcast(cent_df), "cid")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(dist.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("si"),
        )
    )
    a = cent_df.select(F.col("cid").alias("i"), F.col("c").alias("ca"))
    b = cent_df.select(F.col("cid").alias("j"), F.col("c").alias("cb"))
    dij = F.round(F.sqrt(sq_euclidean(F.col("ca"), F.col("cb"))), 6)
    sa = scatter.select(F.col("cid").alias("i"), F.col("si").alias("sa"))
    sb = scatter.select(F.col("cid").alias("j"), F.col("si").alias("sb"))
    pairs = (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .where(dij > 0)
        .join(sa, "i")
        .join(sb, "j")
        .select("i", ((F.col("sa") + F.col("sb")) / dij).alias("r"))
    )
    dbi = pairs.groupBy("i").agg(F.max("r").alias("db_i"))
    return (
        scatter.join(dbi, scatter.cid == dbi.i)
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("n").cast("bigint").alias("n"),
            F.round("si", 6).alias("scatter"),
            F.round("db_i", 6).alias("db_i"),
        )
    )


def _ch_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB mirror of the Calinski-Harabasz score over the determinized
    Lloyd clustering: SSB from centroid-to-grand-mean distances weighted
    by cluster size, SSW from member-to-centroid distances."""
    lloyd = _kmeans_oracle_sql(k, rounds)
    chain = lloyd[: lloyd.index("\n    SELECT")]
    dist_mc = (
        "list_reduce(list_transform(range(len(m.v)),"
        " i -> (CAST(m.v[i+1] AS DOUBLE) - c.c[i+1])"
        " * (CAST(m.v[i+1] AS DOUBLE) - c.c[i+1])), (x, y) -> x + y)"
    )
    dist_cg = (
        "list_reduce(list_transform(range(len(c.c)),"
        " i -> (c.c[i+1] - g.c[i+1]) * (c.c[i+1] - g.c[i+1])),"
        " (x, y) -> x + y)"
    )
    return (
        chain
        + f""",
    gm AS (
      SELECT list(m ORDER BY d) AS c FROM (
        SELECT u.s.d AS d,
          CAST(SUM(CAST(ROUND(u.s.x, 6) AS DECIMAL(28,6))) AS DOUBLE)
            / COUNT(*) AS m
        FROM emb, UNNEST(list_transform(range(len(v)),
               i -> struct_pack(d := i, x := CAST(v[i+1] AS DOUBLE)))) AS u(s)
        GROUP BY u.s.d
      )
    ),
    ssw_ AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(ROUND({dist_mc}, 6) AS DECIMAL(24,6))) AS DOUBLE)
          AS ssw
      FROM a{rounds} m JOIN cent{rounds} c USING (cid)
    ),
    ssb_ AS (
      SELECT CAST(SUM(CAST(ROUND(sz.n * {dist_cg}, 6) AS DECIMAL(24,6)))
                  AS DOUBLE) AS ssb
      FROM cent{rounds} c CROSS JOIN gm g
      JOIN (SELECT cid, COUNT(*) AS n FROM a{rounds} GROUP BY cid) sz
        USING (cid)
    )
    SELECT CAST({k} AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      CASE WHEN ssw > 0 AND n > {k} THEN
        ROUND((ssb / CAST({k} - 1 AS DOUBLE))
              / (ssw / CAST(n - {k} AS DOUBLE)), 6) END AS ch_score
    FROM ssw_ CROSS JOIN ssb_
    """
    )


@query("kmeans_calinski_harabasz_oracled", oracle=_ch_oracle_sql(4, 3))
def kmeans_calinski_harabasz_oracled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calinski-Harabasz (variance-ratio) score of the determinized Lloyd
    clustering: (SSB/(k-1)) / (SSW/(n-k)) — the third internal validity
    metric beside silhouette and Davies-Bouldin, hash-verified end to end
    (DuckDB replays the Lloyd rounds, the grand mean, and both sums).

    Determinism: the grand mean uses the same decimal per-dimension mean
    recipe as the centroid updates; every squared distance is a
    sequential fold of identical doubles, rounded 6dp before its exact
    decimal sum; constant data (ssw = 0) or n <= k yields NULL.

    Scale shape: SSW rides the assignment scan with a k-row broadcast
    dim; the grand mean is one posexplode aggregation (k x dim decimal
    partials); SSB is k rows of arithmetic.
    """
    from ..functions.vectors import sq_euclidean

    cents, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    k = len(cents)
    cent_rows = [(cid, cents[cid]) for cid in range(k)]
    cent_df = spark.createDataFrame(cent_rows, "cid INT, c ARRAY<DOUBLE>")
    members = assigned.select(
        "cid", F.col("v").cast("array<double>").alias("v")
    )
    # grand mean: same decimal per-dim mean recipe as the Lloyd update
    gm_rows = (
        members.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(
            (
                F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )
    gm = [0.0] * len(cents[0])
    for r in gm_rows:
        gm[r["d"]] = r["m"]
    gm_lit = F.array(*[F.lit(float(x)) for x in gm])
    ssw_df = (
        members.join(F.broadcast(cent_df), "cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(sq_euclidean(F.col("v"), F.col("c")), 6).cast(
                    "decimal(24,6)"
                )
            )
            .cast("double")
            .alias("ssw"),
        )
    )
    sizes = members.groupBy("cid").agg(F.count(F.lit(1)).alias("nc"))
    ssb_df = (
        cent_df.join(F.broadcast(sizes), "cid")
        .agg(
            F.sum(
                F.round(
                    F.col("nc") * sq_euclidean(F.col("c"), gm_lit), 6
                ).cast("decimal(24,6)")
            )
            .cast("double")
            .alias("ssb")
        )
    )
    out = ssw_df.crossJoin(F.broadcast(ssb_df))
    ch = (F.col("ssb") / F.lit(float(k - 1))) / (
        F.col("ssw") / (F.col("n") - k).cast("double")
    )
    guard = (F.col("ssw") > 0) & (F.col("n") > k)
    return out.select(
        F.lit(k).cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        F.when(guard, F.round(ch, 6)).alias("ch_score"),
    )


def _bic_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB mirror of the BIC/AIC scores over the determinized Lloyd
    clustering: both need only SSW, n, and the dimensionality."""
    lloyd = _kmeans_oracle_sql(k, rounds)
    chain = lloyd[: lloyd.index("\n    SELECT")]
    dist_mc = (
        "list_reduce(list_transform(range(len(m.v)),"
        " i -> (CAST(m.v[i+1] AS DOUBLE) - c.c[i+1])"
        " * (CAST(m.v[i+1] AS DOUBLE) - c.c[i+1])), (x, y) -> x + y)"
    )
    return (
        chain
        + f""",
    ssw_ AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(ROUND({dist_mc}, 6) AS DECIMAL(24,6))) AS DOUBLE)
          AS ssw
      FROM a{rounds} m JOIN cent{rounds} c USING (cid)
    ),
    dim_ AS (SELECT CAST(MIN(len(c)) AS BIGINT) AS d FROM cent{rounds})
    SELECT CAST({k} AS BIGINT) AS k, CAST(n AS BIGINT) AS n, d,
      CASE WHEN ssw > 0 AND n > 0 THEN
        ROUND(CAST(n * CAST(ROUND(ln(ssw / CAST(n AS DOUBLE)), 6)
                            AS DECIMAL(18,6))
                   + {k} * d * CAST(ROUND(ln(CAST(n AS DOUBLE)), 6)
                                    AS DECIMAL(18,6)) AS DOUBLE), 6)
      END AS bic,
      CASE WHEN ssw > 0 AND n > 0 THEN
        ROUND(CAST(n * CAST(ROUND(ln(ssw / CAST(n AS DOUBLE)), 6)
                            AS DECIMAL(18,6))
                   + 2 * {k} * d AS DOUBLE), 6)
      END AS aic
    FROM ssw_ CROSS JOIN dim_
    """
    )


@query("kmeans_bic_aic_oracled", oracle=_bic_oracle_sql(4, 3))
def kmeans_bic_aic_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIC and AIC model-selection scores of the determinized Lloyd
    clustering (the X-means / elbow-replacement criteria): BIC =
    n ln(SSW/n) + k·d·ln(n), AIC = n ln(SSW/n) + 2·k·d — the
    information-criterion companions to the validity battery
    (silhouette, Davies-Bouldin, Calinski-Harabasz), hash-verified end
    to end (DuckDB replays the Lloyd rounds and the SSW sum).

    Determinism: SSW is the same round-6 decimal sum as the CH score;
    each ln sees identical doubles and is rounded 6dp (lesson 10), the
    n·ln and k·d·ln terms stay exact decimal arithmetic, and only the
    final sum casts to double. Constant data (SSW = 0) yields NULLs.

    Scale shape: one assignment scan with a k-row broadcast dim — the
    cheapest of the validity metrics (no grand mean, no pairwise term).
    """
    from ..functions.vectors import sq_euclidean

    cents, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
    k = len(cents)
    dim = len(cents[0])
    cent_rows = [(cid, cents[cid]) for cid in range(k)]
    cent_df = spark.createDataFrame(cent_rows, "cid INT, c ARRAY<DOUBLE>")
    members = assigned.select(
        "cid", F.col("v").cast("array<double>").alias("v")
    )
    ssw_df = members.join(F.broadcast(cent_df), "cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(sq_euclidean(F.col("v"), F.col("c")), 6).cast(
                "decimal(24,6)"
            )
        )
        .cast("double")
        .alias("ssw"),
    )
    ln_w = F.round(
        F.log(F.col("ssw") / F.col("n").cast("double")), 6
    ).cast("decimal(18,6)")
    ln_n = F.round(F.log(F.col("n").cast("double")), 6).cast("decimal(18,6)")
    ok = (F.col("ssw") > 0) & (F.col("n") > 0)
    bic = F.round(
        (F.col("n") * ln_w + F.lit(k * dim) * ln_n).cast("double"), 6
    )
    aic = F.round(
        (F.col("n") * ln_w + F.lit(2 * k * dim)).cast("double"), 6
    )
    return ssw_df.select(
        F.lit(k).cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        F.lit(dim).cast("bigint").alias("d"),
        F.when(ok, bic).alias("bic"),
        F.when(ok, aic).alias("aic"),
    )


@query(
    "ml_decision_stump_gini",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
        o_orderkey AS id
      FROM orders
    ),
    ranked AS (
      SELECT v, pos,
        ROW_NUMBER() OVER (ORDER BY v, id) - 1 AS rk,
        CAST(COUNT(*) OVER () AS BIGINT) AS n,
        CAST(SUM(pos) OVER () AS BIGINT) AS p_tot
      FROM rows_
    ),
    buckets AS (
      SELECT (rk * 10) // n AS b, n, p_tot,
        CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(pos) AS BIGINT) AS p,
        CAST(MAX(v) AS BIGINT) AS vmax
      FROM ranked GROUP BY 1, n, p_tot
    ),
    cands AS (
      SELECT b, n, p_tot, vmax,
        CAST(SUM(cnt) OVER wc AS BIGINT) AS n_l,
        CAST(SUM(p) OVER wc AS BIGINT) AS p_l
      FROM buckets
      WINDOW wc AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)
      QUALIFY b < 9
    ),
    scored AS (
      SELECT b, vmax, n_l, p_l, n - n_l AS n_r, p_tot - p_l AS p_r,
        (1.0 - (CAST(p_tot AS DOUBLE) * CAST(p_tot AS DOUBLE)
                + CAST(n - p_tot AS DOUBLE) * CAST(n - p_tot AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        - (CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE))
          * (1.0 - (CAST(p_l AS DOUBLE) * CAST(p_l AS DOUBLE)
                    + CAST(n_l - p_l AS DOUBLE) * CAST(n_l - p_l AS DOUBLE))
                   / (CAST(n_l AS DOUBLE) * CAST(n_l AS DOUBLE)))
        - (CAST(n - n_l AS DOUBLE) / CAST(n AS DOUBLE))
          * (1.0 - (CAST(p_tot - p_l AS DOUBLE)
                    * CAST(p_tot - p_l AS DOUBLE)
                    + CAST((n - n_l) - (p_tot - p_l) AS DOUBLE)
                      * CAST((n - n_l) - (p_tot - p_l) AS DOUBLE))
                   / (CAST(n - n_l AS DOUBLE) * CAST(n - n_l AS DOUBLE)))
        AS gain
      FROM cands WHERE n_l > 0 AND n - n_l > 0
    )
    SELECT CAST(b AS BIGINT) AS decile, CAST(vmax AS BIGINT)
        AS threshold_cents,
      CAST(n_l AS BIGINT) AS n_left, CAST(p_l AS BIGINT) AS pos_left,
      CAST(n_r AS BIGINT) AS n_right, CAST(p_r AS BIGINT) AS pos_right,
      ROUND(gain, 6) AS gini_gain
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, b) AS pk FROM scored
    ) WHERE pk = 1
    """,
)
def ml_decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single Gini split (a depth-1 decision tree) predicting
    FINALIZED order status from totalprice: candidate thresholds are the
    nine decile boundaries; gain = gini(parent) - weighted child gini.
    The distributed analogue of one boosting/random-forest split search
    — the histogram-bucket trick every large-scale tree learner
    (LightGBM/XGBoost hist mode) uses: rows collapse to BUCKET
    statistics first, then every candidate split is a cumulative sum
    over 10 bucket rows, NEVER a per-candidate fact pass.

    Determinism: bucket id = rk*10 div n from the strict (cents,
    orderkey) rank; all counts exact BIGINTs; gains are identical double
    chains of those integers, argmax tie-breaks by bucket id; the
    emitted threshold is the exact max cents in the left buckets.

    At 100 TB: one global rank (two-phase at extreme scale), one
    bucket rollup with map-side combine, a 10-row window.
    """
    o = load_table(spark, sf_dir, "orders")
    rows_ = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.col("o_orderkey").alias("id"),
    )
    wall = Window.partitionBy()
    ranked = rows_.select(
        "v",
        "pos",
        (F.row_number().over(Window.orderBy("v", "id")) - 1).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("pos").over(wall).cast("bigint").alias("p_tot"),
    )
    buckets = ranked.groupBy(
        ((F.col("rk") * 10) / F.col("n")).cast("bigint").alias("b"),
        "n",
        "p_tot",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("p"),
        F.max("v").cast("bigint").alias("vmax"),
    )
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cands = buckets.select(
        "b",
        "n",
        "p_tot",
        "vmax",
        F.sum("cnt").over(wc).cast("bigint").alias("n_l"),
        F.sum("p").over(wc).cast("bigint").alias("p_l"),
    ).where(F.col("b") < 9)
    dd = lambda c: F.col(c).cast("double")  # noqa: E731

    def gini(p, q):
        return 1.0 - (p * p + q * q) / ((p + q) * (p + q))

    pl, nl = dd("p_l"), dd("n_l")
    pt, nn = dd("p_tot"), dd("n")
    pr = pt - pl
    nr = nn - nl
    gain = (
        gini(pt, nn - pt)
        - (nl / nn) * gini(pl, nl - pl)
        - (nr / nn) * gini(pr, nr - pr)
    )
    scored = cands.where((F.col("n_l") > 0) & (F.col("n") > F.col("n_l"))).select(
        "b",
        "vmax",
        "n_l",
        "p_l",
        (F.col("n") - F.col("n_l")).cast("bigint").alias("n_r"),
        (F.col("p_tot") - F.col("p_l")).cast("bigint").alias("p_r"),
        gain.alias("gain"),
    )
    pick = Window.orderBy(F.col("gain").desc(), "b")
    return (
        scored.select("*", F.row_number().over(pick).alias("pk"))
        .where(F.col("pk") == 1)
        .select(
            F.col("b").cast("bigint").alias("decile"),
            F.col("vmax").alias("threshold_cents"),
            F.col("n_l").alias("n_left"),
            F.col("p_l").alias("pos_left"),
            F.col("n_r").alias("n_right"),
            F.col("p_r").alias("pos_right"),
            F.round(F.col("gain"), 6).alias("gini_gain"),
        )
    )
