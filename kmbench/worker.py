"""One benchmark process, started fresh by ``run.py`` for every measurement.

It sets up (Spark session, warm-up job, input registration), recording the
time from process spawn to ready as ``setup_s``, then runs:

1. the cold pass, the first pass in the fresh session;
2. the warm passes, as many as ``--seconds`` holds (``workloads.warm_passes``);
3. the output checks, outside every timed pass.

Every pass starts with ``clear_all_memos()``, so a memo can only pay off
within a pass. Each operation is one user-visible call, fully materialized:
a registered query is built and written to the ``noop`` sink, a K-Means fit
returns its centers. With ``--trace 1`` passes alternate untraced and traced
(after a traced cold pass); traced passes run each call inside its own Spark
job group and read Spark's counters for it, and the per-layer metrics come
from the traced passes only.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spans import SparkCounters, Tracer, catalyst_phases  # noqa: E402

def setup(workload: str, inputs: dict, tracer: Tracer):
    """Fresh process to ready: session, warm-up job, input registration."""
    with tracer.span("session.start"):
        from k_means_map_reduce_spark.session import get_spark

        spark = get_spark("kmbench")
    with tracer.span("session.warmup"):
        spark.range(1000).selectExpr("sum(id)").collect()
    with tracer.span("sources.register"):
        capture = None
        if "points" in inputs:
            from k_means_map_reduce_spark.sources.points_txt import read_points_txt

            read_points_txt(spark, inputs["points"]).createOrReplaceTempView("points")
            capture = workloads.Capture()
            capture.install()
        else:
            from k_means_map_reduce_spark import registry  # noqa: F401  (loads every operator)
            from k_means_map_reduce_spark.sources.catalog import register_views

            register_views(spark, inputs["tables"])
    return spark, capture


def _span_s(tracer: Tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)


class Bench:
    def __init__(self, spark, workload: str, inputs: dict, tracer: Tracer, capture, work: str):
        from k_means_map_reduce_spark import _memo

        self.spark = spark
        self.spec = workloads.WORKLOADS[workload]
        self.inputs = inputs
        self.tracer = tracer
        self.capture = capture
        self.counters = SparkCounters(spark)
        self.memo = _memo
        self.memo_puts = 0
        self.failures: list[dict] = []
        self.first_output: dict = {}
        self.passes: list[dict] = []
        if capture is not None:
            self.fits, self.out_path = workloads.kmeans_ops(
                spark, self.spec, inputs, work, capture
            )
            self.op_names = [f"kmeans.{e}" for e, _ in self.fits]
        else:
            from k_means_map_reduce_spark.registry import ORACLES, QUERIES

            self.queries = QUERIES
            self.oracled = ORACLES
            self.expected = workloads.load_expected()
            self.op_names = list(self.spec.queries)

    # -- instrumentation -----------------------------------------------------

    def count_memo_puts(self) -> None:
        orig = self.memo.SessionMemo.put

        def put(memo, *parts_and_value):
            self.memo_puts += 1
            return orig(memo, *parts_and_value)

        self.memo.SessionMemo.put = put

    def _fail(self, op: str, pass_no: int, cause: str) -> None:
        self.failures.append({"op": op, "pass": pass_no, "cause": cause[:500]})

    def _cross_pass(self, op: str, pass_no: int, value, same) -> None:
        first = self.first_output.setdefault(op, value)
        if not same(first, value):
            self._fail(op, pass_no, "output differs from the first pass")

    # -- one pass ------------------------------------------------------------

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        self.memo.clear_all_memos()
        self.memo_puts = 0
        rec = {"pass": pass_no, "traced": traced, "op_s": {}, "layer": {}, "arrow_jobs": None}
        t_pass = time.perf_counter()
        with self.tracer.span("pass", n=pass_no, traced=traced):
            if self.capture is not None:
                for engine, call in self.fits:
                    self._fit(pass_no, engine, call, traced, rec)
            else:
                for name in self.spec.queries:
                    self._query(pass_no, name, traced, rec)
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["ops_s"] = sum(rec["op_s"].values())
        if traced:
            layer = rec["layer"]
            layer["memo.builds"] = self.memo_puts
            layer["memo.resident"] = sum(len(m) for m in self.memo._ALL_MEMOS)
        self.passes.append(rec)
        return rec

    def _add(self, rec: dict, key: str, value) -> None:
        rec["layer"][key] = rec["layer"].get(key, 0) + value

    def _add_exec(self, rec: dict, c, wall: float) -> None:
        self._add(rec, "exec.run_s", wall)
        self._add(rec, "exec.driver_s", max(0.0, wall - c.covered_s))
        for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
            self._add(rec, f"exec.{f}", getattr(c, f))

    def _fit(self, pass_no: int, engine: str, call, traced: bool, rec: dict) -> None:
        op = f"kmeans.{engine}"
        out = None
        with self.counters.group(op) as gid, self.tracer.span(f"{op}.fit"):
            t0 = time.perf_counter()
            try:
                out = call()
            except Exception:
                self._fail(op, pass_no, traceback.format_exc(limit=3))
            dt = time.perf_counter() - t0
        rec["op_s"][op] = dt
        if engine == "arrow":
            rec["arrow_jobs"] = self.counters.job_count(gid)
        if traced:
            c = self.counters.read(gid)
            self._add_exec(rec, c, dt)
            layer = rec["layer"]
            layer[f"{op}.fit_s"] = dt
            layer[f"{op}.jobs"] = c.jobs
            layer[f"{op}.driver_s"] = max(0.0, dt - c.covered_s)
            layer[f"{op}.map_stage_s"] = c.map_stage_s
            layer[f"{op}.reduce_stage_s"] = c.reduce_stage_s
            layer[f"{op}.shuffle_bytes"] = c.shuffle_write_bytes
        if out is None:
            return
        try:
            bad, centers = workloads.check_fit(engine, out, self.spec, self.out_path, self.capture)
        except Exception:
            bad, centers = [traceback.format_exc(limit=3)], None
        for b in bad:
            self._fail(op, pass_no, b)
        if traced:
            res = out.get("result")
            iters = self.capture.mllib_iters if engine == "mllib" else res and res.iterations
            rec["layer"][f"{op}.iterations"] = iters or 0
        if centers is not None:
            self._cross_pass(op, pass_no, centers, workloads.same_centers)

    def _query(self, pass_no: int, name: str, traced: bool, rec: dict) -> None:
        fn = self.queries[name]
        sf = self.inputs["tables"]
        df = None
        t0 = time.perf_counter()
        try:
            if not traced:
                df = fn(self.spark, sf)
                df.write.format("noop").mode("overwrite").save()
                rec["op_s"][name] = time.perf_counter() - t0
            else:
                with self.counters.group("build") as gb, self.tracer.span("operators.build", op=name):
                    t0 = time.perf_counter()
                    df = fn(self.spark, sf)
                    tb = time.perf_counter() - t0
                with self.tracer.span("catalyst.plan", op=name):
                    phases = catalyst_phases(df)
                with self.counters.group("exec") as gx, self.tracer.span("exec.run", op=name):
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    tx = time.perf_counter() - t1
                rec["op_s"][name] = tb + tx
                self._add(rec, "operators.build_s", tb)
                self._add(rec, "operators.build_jobs", self.counters.read(gb).jobs)
                for k, v in phases.items():
                    self._add(rec, f"catalyst.{k}", v)
                self._add_exec(rec, self.counters.read(gx), tx)
                rec["layer"][f"query.{name}_s"] = tb + tx
        except Exception:
            rec["op_s"].setdefault(name, time.perf_counter() - t0)
            self._fail(name, pass_no, traceback.format_exc(limit=3))
            return
        if name not in self.oracled:
            try:
                pdf = df.toPandas()
                bad = workloads.check_unoracled(name, pdf, self.expected, self.inputs)
                digest = workloads.content_digest(pdf)
            except Exception:
                bad, digest = [traceback.format_exc(limit=3)], None
            for b in bad:
                self._fail(name, pass_no, b)
            if digest is not None:
                self._cross_pass(name, pass_no, digest, lambda a, b: a == b)

    # -- checks after the passes ----------------------------------------------

    def oracle_checks(self) -> None:
        """Compare every oracled query against DuckDB; a mismatch fails the
        query in every pass."""
        if self.capture is not None:
            return
        from k_means_map_reduce_spark.oracle import compare_query

        for name in self.spec.queries:
            if name not in self.oracled:
                continue
            try:
                r = compare_query(self.spark, name, self.inputs["tables"])
                cause = None if r.ok else f"oracle mismatch: {r.detail}"
            except Exception:
                cause = traceback.format_exc(limit=3)
            if cause:
                for p in self.passes:
                    self._fail(name, p["pass"], cause)

    def source_scan(self, rec: dict) -> None:
        """Scan the inputs alone (traced runs): the sources layer's share."""
        from k_means_map_reduce_spark.sources.catalog import TABLE_NAMES, load_table
        from k_means_map_reduce_spark.sources.points_txt import read_points_txt

        if "points" in self.inputs:
            frames = [read_points_txt(self.spark, self.inputs["points"])]
        else:
            frames = [load_table(self.spark, self.inputs["tables"], t) for t in TABLE_NAMES]
        with self.counters.group("sources") as gid, self.tracer.span("sources.read"):
            t0 = time.perf_counter()
            for df in frames:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        c = self.counters.read(gid)
        rec.update({"sources.read_s": dt, "sources.input_bytes": c.input_bytes,
                    "sources.input_rows": c.input_rows})


def _median(values):
    return statistics.median(values) if values else 0.0


def run_main(bench: Bench, rounds: int, traced: bool) -> dict:
    if traced:
        bench.count_memo_puts()
    cold = bench.run_pass(0, traced)
    sources: dict = {}
    if traced:
        bench.source_scan(sources)
    # Each round is one warm pass; traced runs make it an untraced and a
    # traced pass, swapping their order every round (the JVM still speeds up
    # pass by pass, which would otherwise bias the tracing overhead).
    n = 1
    for r in range(rounds):
        for tr in ((r % 2 == 1, r % 2 == 0) if traced else (False,)):
            bench.run_pass(n, tr)
            n += 1
    bench.oracle_checks()

    warm = [p for p in bench.passes[1:] if not p["traced"]]
    failed_execs = {(f["op"], f["pass"]) for f in bench.failures}
    attempted = len(bench.op_names) * len(bench.passes)
    arrow = [p["arrow_jobs"] for p in bench.passes[1:] if p["arrow_jobs"] is not None]
    out = {
        "cold_s": cold["ops_s"],
        "warm_s": _median([p["ops_s"] for p in warm]),
        "warm_passes": [p["ops_s"] for p in warm],
        "attempted": attempted,
        "failed": len(failed_execs),
        "failures": bench.failures,
        "arrow_jobs": arrow[-1] if arrow else None,
        "op_s": {"cold": cold["op_s"], "warm": warm[-1]["op_s"] if warm else {}},
    }
    if traced:
        traced_warm = [p for p in bench.passes[1:] if p["traced"]]
        keys = {k for p in traced_warm for k in p["layer"]}
        layer = {k: _median([p["layer"].get(k, 0) for p in traced_warm]) for k in keys}
        layer.update(sources)
        layer["memo.builds_cold"] = cold["layer"].get("memo.builds", 0)
        layer["catalyst.plan_cold_s"] = cold["layer"].get("catalyst.plan_s", 0.0)
        layer["trace.overhead_s"] = _median([p["wall_s"] for p in traced_warm]) - _median(
            [p["wall_s"] for p in warm]
        )
        layer["fail_ratio"] = out["failed"] / attempted
        # clear_all_memos() at every pass start means a warm pass rebuilds
        # exactly the memo entries the cold pass built
        out["memo_isolated"] = layer["memo.builds_cold"] == layer.get("memo.builds", 0)
        out["layer"] = layer
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--inputs", required=True, help="JSON file describing the generated inputs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawn", type=float, required=True, help="time.time() when the parent spawned us")
    ap.add_argument("--work", required=True, help="scratch directory for the CLI's output")
    ap.add_argument("--spans", help="where a traced run writes its spans")
    a = ap.parse_args(argv)

    with open(a.inputs) as f:
        inputs = json.load(f)
    tracer = Tracer()
    spark, capture = setup(a.workload, inputs, tracer)
    result = {
        "setup_s": time.time() - a.spawn,
        "session.start_s": _span_s(tracer, "session.start"),
        "session.warmup_s": _span_s(tracer, "session.warmup"),
    }
    bench = Bench(spark, a.workload, inputs, tracer, capture, a.work)
    result.update(run_main(bench, workloads.warm_passes(a.workload, a.seconds), bool(a.trace)))
    import pyspark

    result["pyspark"] = pyspark.__version__
    if a.trace:
        with open(a.spans, "w") as f:
            json.dump(tracer.spans, f)
        result["span_count"] = len(tracer.spans)
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    rc = main()
    # Skip interpreter and PySpark shutdown: the parent kills the whole
    # process group (JVM and Python workers) as soon as this process is gone.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
