"""Benchmark entry point: one workload, one seed, one line of JSON.

    python3 kmbench/run.py --workload kmeans_iter --seed 1 --seconds 15 --trace 0

Run from the repository root (any working directory works: every path is
taken relative to this file). Steps:

1. generate the workload's inputs from ``--seed`` (numpy/pyarrow only) under
   ``.kmbench_work/`` in the repository;
2. start the worker process (``worker.py``), which sets up Spark and runs
   the cold pass, the warm passes and the output checks, while this process
   samples the resident memory of its whole process group;
3. stop every process of the group, delete the scratch files, and print a
   summary and, as the last line, the result JSON.

With ``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones of ``layers.json``. Every
child gets the repository on ``PYTHONPATH`` (Spark's Python workers inherit
it), and its temp, Spark-local and warehouse directories inside the scratch
directory. Exits non-zero, printing no result, when the program is missing or
a worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

DEADLINE_S = 170.0  # the whole run, generation to last process reaped
PAGE = os.sysconf("SC_PAGE_SIZE")


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(entry))
    return pids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0  # exited


def _reap_group(pgid: int) -> None:
    """Kill what is left of the group (the JVM and Spark's Python workers; the
    scratch directory they would clean up is deleted anyway) and wait until no
    process of it remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _group_pids(pgid):
        time.sleep(0.02)


class Child:
    """A worker process in its own session. While it runs, the resident set
    of its whole group (the worker, its JVM and Spark's Python workers) is
    summed every 0.25 s; ``peak_rss`` is the largest sum."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self.log_path = log_path
        self.peak_rss = 0
        self._stop = threading.Event()
        with open(log_path, "ab") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), *argv,
                 "--spawn", repr(time.time())],
                env=env, cwd=os.path.dirname(log_path), stdout=log, stderr=log,
                start_new_session=True,
            )
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _poll(self) -> None:
        total = sum(_rss(pid) for pid in _group_pids(self.proc.pid))
        self.peak_rss = max(self.peak_rss, total)

    def _sample(self) -> None:
        while not self._stop.wait(0.25):
            self._poll()

    def finish(self, timeout: float) -> int | None:
        """Wait for the worker (None on timeout), then stop its whole group."""
        rc = None
        try:
            rc = self.proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            pass
        finally:
            self._stop.set()
            self._sampler.join()
            self._poll()  # the JVM and Python workers outlive the worker
            _reap_group(self.proc.pid)
            self.proc.wait()
        return rc


def _child_env(work: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # The JVM grows its heap by timing-dependent ergonomics up to its cap, so
    # its peak RSS varied 1.8-3.5 GB between identical runs at the program's
    # 8g default and 1.1-1.7 GB at 2g; a 1g heap (ample for these inputs)
    # keeps peak_rss_mb within ~10% and the run small on a shared machine.
    # A caching cost can then show as exec.spill_bytes or GC time first.
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    java = env.get("JAVA_TOOL_OPTIONS", "")
    env["JAVA_TOOL_OPTIONS"] = f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    return env


def _fail(msg: str, log_path: str | None = None) -> int:
    print(f"kmbench: {msg}", file=sys.stderr)
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
    return 1


def _run_worker(a, inputs_path: str, work: str, env: dict, deadline: float):
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    child = Child(
        ["--workload", a.workload, "--inputs", inputs_path, "--out", out,
         "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
         "--spans", _spans_path(a)],
        env, log,
    )
    rc = child.finish(deadline - time.monotonic())
    if rc != 0 or not os.path.exists(out):
        return None, child.peak_rss, log
    with open(out) as f:
        return json.load(f), child.peak_rss, log


def _spans_path(a) -> str:
    return os.path.join(ROOT, ".kmbench_work", f"spans-{a.workload}-seed{a.seed}.json")


def _layer_catalogue() -> list[dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)["per_layer"]


def _exit_on_sigterm(signum, frame):
    raise SystemExit(1)  # unwinds through Child.finish, which stops the group


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "k_means_map_reduce_spark", "__init__.py")):
        return _fail(f"the program package is missing under {ROOT}")

    work = os.path.join(ROOT, ".kmbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        inputs = workloads.generate(a.workload, a.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0
        inputs_path = os.path.join(work, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)
        env = _child_env(work)
        res, peak_rss, log = _run_worker(a, inputs_path, work, env, deadline)
        if res is None:
            return _fail("worker failed", log)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for which, ops in res["op_s"].items():
        print(f"kmbench: {which} " + " ".join(f"{k}={v:.3f}" for k, v in ops.items()), file=sys.stderr)
    for f in res["failures"]:
        print(f"kmbench: FAILED {f['op']} pass {f['pass']}: {f['cause']}", file=sys.stderr)
    failed, attempted = res["failed"], res["attempted"]
    correct = failed == 0 and res.get("memo_isolated", True)
    if not res.get("memo_isolated", True):
        print("kmbench: memo.builds differs between cold and warm passes", file=sys.stderr)
    print(
        f"# kmbench workload={a.workload} seed={a.seed} trace={a.trace}"
        f" nproc={len(os.sched_getaffinity(0))}"
        f" SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', 'unset')}"
        f" pyspark={res['pyspark']} kmeans_arrow_jobs={res['arrow_jobs']}"
    )
    if a.trace:
        layer = {**res["layer"], "bench.gen_s": gen_s,
                 "session.start_s": res["session.start_s"],
                 "session.warmup_s": res["session.warmup_s"]}
        metrics = {m["name"]: {"value": layer.get(m["name"], 0), "unit": m["unit"]}
                   for m in _layer_catalogue()}
        print(f"# {res['span_count']} spans (name, start, end, parent) in {_spans_path(a)}"
              f" trace.overhead_s={layer['trace.overhead_s']:.4f}")
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "cold_s": {"value": res["cold_s"], "unit": "s"},
            "warm_s": {"value": res["warm_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        }
    print(
        f"# setup_s={res['setup_s']:.3f} cold_s={res['cold_s']:.3f}"
        f" warm_s={res['warm_s']:.3f} (median of {[round(w, 3) for w in res['warm_passes']]})"
        f" peak_rss_mb={peak_rss / 2**20:.1f}"
        f" fail_ratio={failed}/{attempted}={failed / attempted:.4f}"
    )
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
