"""The benchmark's workloads: their inputs, operations and output checks.

A workload is a list of operations, each one user-visible call into the
program. ``kmeans_*`` run three K-Means fits over one generated points file;
``query_mix`` runs registered queries over generated parquet tables. The
check functions below inspect an operation's output outside the timed
region and return a list of problems (empty when the output is right).
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
from dataclasses import dataclass

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 42  # the program's own K-Means seed, the same for every engine
TOL = 1e-6  # the CLI's convergence threshold; the other engines get the same


@dataclass(frozen=True)
class KMeansSpec:
    warm_pass_s: float  # nominal warm pass length, see warm_passes()
    n: int  # points
    dim: int
    k: int
    iters: int
    mappers: int = 4
    reducers: int = 4


@dataclass(frozen=True)
class QueryMixSpec:
    warm_pass_s: float
    scale: float  # table sizes relative to the sf0.01 test tables
    queries: tuple[str, ...]


WORKLOADS = {
    # Fixed per-iteration cost: many cheap iterations over a small input,
    # which kmeans_arrow runs as one task. At 15 iterations the per-iteration
    # share (job launch, re-planning, gather) is about two thirds of a pass,
    # measured as the slope of fit time over ITERS; at 5 it was under half.
    "kmeans_iter": KMeansSpec(warm_pass_s=7.0, n=20_000, dim=2, k=16, iters=15),
    # Operator build, Catalyst, parquet scan and memo layers, one query per
    # family. The rest of the families (graph triangles, DBSCAN, geo kNN,
    # dedup banding, kNN labels, ...) do not fit: a run has ~50 s for set-up,
    # the cold pass, three warm passes and the oracle checks. At this size the
    # queries cost per-job overhead, not per-row work, so scale stays small.
    "query_mix": QueryMixSpec(
        warm_pass_s=6.0,
        scale=0.25,
        queries=(
            "q1_pricing_summary",
            "q3_shipping_priority",
            "window_topk_parts_per_brand",
            "events_session_windows",
            "text_ngram_profile",
            "bloom_semi_join_orders",
            "sim_cosine_topk",
            "kmeans_mllib_clusters",
        ),
    ),
}


def warm_passes(workload: str, seconds: float) -> int:
    """How many warm passes fill ``seconds`` at the workload's nominal pass
    length; at the benchmark's run length, three, so the median can reject
    one slow pass. The count depends on ``seconds`` only, never on a measured
    time: the JVM keeps compiling through the first minute, each pass is
    faster than the last, so runs that stopped after different counts would
    differ by that alone."""
    return max(1, int(seconds // WORKLOADS[workload].warm_pass_s))


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir``; returns their description."""
    spec = WORKLOADS[workload]
    os.makedirs(out_dir, exist_ok=True)
    if isinstance(spec, KMeansSpec):
        path = os.path.join(out_dir, "points.txt")
        size = gen.write_points(path, spec.n, spec.dim, seed)
        return {"points": path, "bytes": size, "rows": spec.n}
    tables = os.path.join(out_dir, "tables")
    rows = gen.write_tables(tables, seed, spec.scale)
    return {"tables": tables, "rows": rows}


# --------------------------------------------------------------------------
# K-Means operations
# --------------------------------------------------------------------------


class Capture:
    """Records what the CLI's Lloyd loop and MLlib's fit returned.

    ``__main__.main`` prints a summary and writes a file but returns only an
    exit code, and ``kmeans_mllib`` returns only the centers; wrapping the
    module attribute / estimator method they call keeps the result for the
    checks without changing what runs."""

    def __init__(self) -> None:
        self.native = None
        self.mllib_iters = None

    def install(self) -> None:
        from pyspark.ml.clustering import KMeans

        from k_means_map_reduce_spark import __main__ as cli

        native, fit = cli.kmeans_native, KMeans._fit

        def native_wrapper(*a, **kw):
            self.native = native(*a, **kw)
            return self.native

        def fit_wrapper(est, dataset):
            model = fit(est, dataset)
            self.mllib_iters = model.summary.numIter
            return model

        cli.kmeans_native = native_wrapper
        KMeans._fit = fit_wrapper


def kmeans_ops(spark, spec: KMeansSpec, inputs: dict, work: str, capture: Capture):
    """(engine, call) pairs; each call returns the fit's output."""
    from k_means_map_reduce_spark import __main__ as cli
    from k_means_map_reduce_spark.kmeans import kmeans_arrow, kmeans_mllib
    from k_means_map_reduce_spark.sources.points_txt import read_points_txt

    path = inputs["points"]
    pts = read_points_txt(spark, path)
    out_path = os.path.join(work, "centroids.txt")

    def run_cli():
        capture.native = None
        if os.path.exists(out_path):
            os.remove(out_path)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(
                [str(spec.mappers), str(spec.reducers), str(spec.k), str(spec.iters), path, out_path]
            )
        return {"rc": rc, "stdout": buf.getvalue(), "result": capture.native}

    def run_arrow():
        return {"result": kmeans_arrow(pts, "coordinates", spec.k, spec.iters, TOL, SEED)}

    def run_mllib():
        capture.mllib_iters = None
        df = kmeans_mllib(pts, "coordinates", spec.k, spec.iters, TOL, SEED)
        df.write.format("noop").mode("overwrite").save()
        return {"df": df}

    return [("cli", run_cli), ("arrow", run_arrow), ("mllib", run_mllib)], out_path


def _check_lloyd(res, spec: KMeansSpec, n: int) -> list[str]:
    bad = []
    if res is None:
        return ["no result captured"]
    if res.iterations != spec.iters:
        bad.append(f"ran {res.iterations} of {spec.iters} iterations")
    if len(res.centers) != spec.k:
        bad.append(f"{len(res.centers)} centers, expected {spec.k}")
    if sum(res.sizes.values()) != n:
        bad.append(f"cluster sizes sum to {sum(res.sizes.values())}, expected {n}")
    hist = res.wssse_history
    for a, b in zip(hist, hist[1:]):
        if b > a * (1 + 1e-12):
            bad.append(f"WSSSE increased {a} -> {b}")
            break
    return bad


def check_fit(engine: str, out: dict, spec: KMeansSpec, out_path: str, capture: Capture):
    """Problems with one fit's output, and its centers for the cross-pass check."""
    n = spec.n
    if engine == "cli":
        bad = [] if out["rc"] == 0 else [f"exit code {out['rc']}"]
        if f"({spec.iters} iterations" not in out["stdout"]:
            bad.append(f"summary line: {out['stdout'].strip()!r}")
        bad += _check_lloyd(out["result"], spec, n)
        from k_means_map_reduce_spark.sources.points_txt import read_centroids_txt

        # the reference's output format: one comma-joined centroid per line
        centers = read_centroids_txt(out_path)
        if len(centers) != spec.k or any(len(c) != spec.dim for c in centers):
            bad.append(f"output file has {len(centers)} lines, expected {spec.k} of {spec.dim} coords")
        return bad, centers
    if engine == "arrow":
        res = out["result"]
        return _check_lloyd(res, spec, n), res.centers
    rows = sorted(out["df"].collect(), key=lambda r: r["cluster_id"])
    bad = []
    if len(rows) != spec.k:
        bad.append(f"{len(rows)} clusters, expected {spec.k}")
    if sum(r["size"] for r in rows) != n:
        bad.append(f"cluster sizes sum to {sum(r['size'] for r in rows)}, expected {n}")
    if capture.mllib_iters != spec.iters:
        bad.append(f"ran {capture.mllib_iters} of {spec.iters} iterations")
    return bad, [list(r["center"]) for r in rows]


def same_centers(a, b, tol: float = 1e-6) -> bool:
    return len(a) == len(b) and all(
        len(x) == len(y) and all(math.isclose(u, v, abs_tol=tol) for u, v in zip(x, y))
        for x, y in zip(a, b)
    )


# --------------------------------------------------------------------------
# Query operations
# --------------------------------------------------------------------------


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def content_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a pandas result."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "\x1f".join(repr(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join([",".join(cols), *lines]).encode()).hexdigest()
    return len(lines), h


def check_unoracled(name: str, pdf, expected: dict, inputs: dict) -> list[str]:
    """Structural expectations for a query that has no DuckDB oracle."""
    exp = expected[name]
    bad = []
    if sorted(pdf.columns) != sorted(exp["columns"]):
        bad.append(f"columns {sorted(pdf.columns)}, expected {sorted(exp['columns'])}")
    if len(pdf) != exp["rows"]:
        bad.append(f"{len(pdf)} rows, expected {exp['rows']}")
    total = exp.get("size_sum_table")
    if total and int(pdf["size"].sum()) != inputs["rows"][total]:
        bad.append(f"sizes sum to {int(pdf['size'].sum())}, expected {inputs['rows'][total]} ({total} rows)")
    return bad
