"""KG-build benchmark: one run of one workload.

    python3 kgbench/run.py --workload extract_web --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}; the lines
before it give the input descriptors, host noise and per-iteration
figures. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics (see kgbench/README.md). Everything the run
writes stays under ``.kgbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import layers  # noqa: E402
from kgbench.host import HostSampler, descendants, wait_gone  # noqa: E402
from kgbench.trace import Tracer  # noqa: E402

SETUP_REPS = 3
# iterations a run makes at least: a median of three survives one
# iteration slowed by a burst of host noise
MIN_ITERATIONS = 3
DRIVER_MEM = "1g"
# stop starting iterations after this much wall time, whatever
# --seconds says, so a run always ends well inside three minutes
HARD_STOP_S = 140.0


def _configure_env(work: str, cores: int, trace: bool) -> str:
    """Point every temporary path of Python and Spark into ``work``;
    must run before pyspark launches its JVM."""
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(work, "eventlog")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": logs,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = " ".join(f"--conf '{k}={v}'" for k, v in conf.items())
    os.environ.update({
        # the JVM's perf-data file would go to /tmp, outside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
    })
    return logs


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Harness:
    def __init__(self, wl, tracer, cores: int):
        self.wl = wl
        self.tracer = tracer
        self.cores = cores
        self.spark = None
        self.setup_s: list[float] = []
        self.start_s: list[float] = []

    # -- set-up ----------------------------------------------------
    def start_session(self) -> None:
        from dygiepp_spark.plans.session import ensure_pyfiles, get_spark
        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"kgbench-{self.wl.name}",
                                   cores=self.cores)
            ensure_pyfiles(self.spark)

    def setup(self) -> None:
        """``SETUP_REPS`` times from a stopped session: session start
        and Python-worker warm-up."""
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            t1 = time.perf_counter()
            with self.tracer.span("session.worker_warmup"):
                self._warm_workers()
            self.start_s.append(t1 - t0)
            self.setup_s.append(time.perf_counter() - t0)

    def _warm_workers(self) -> None:
        """Start one Python worker per core and load the kernel and its
        weights in each."""
        self.spark.sparkContext.parallelize(
            range(self.cores), self.cores).mapPartitions(
                _warm_worker).collect()

    def release(self) -> None:
        """Drop every cached/checkpointed block the last step left."""
        for rdd in list(self.spark.sparkContext._jsc
                        .getPersistentRDDs().values()):
            rdd.unpersist(True)

    # -- timed loop ------------------------------------------------
    def loop(self, seconds: float, min_its: int, phase: str,
             deadline: float, on_iteration=None) -> list[dict]:
        """Run iterations until ``seconds`` of them have passed and at
        least ``min_its`` ran. Each gets its own job group and a fresh
        input, written before its timer starts."""
        sc = self.spark.sparkContext
        its: list[dict] = []
        spent = 0.0
        while not its or ((spent < seconds or len(its) < min_its)
                          and time.perf_counter() < deadline):
            group = f"{phase}-{len(its)}"
            rec = {"group": group, "ok": True}
            inp = self.wl.next_input()
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                rec.update(on_iteration(inp) if on_iteration
                           else self.wl.iteration(self.spark, inp))
            except Exception:  # counted as a failed operation
                rec.update(ok=False, error=traceback.format_exc()[-2000:])
            rec["wall_s"] = time.perf_counter() - t0
            spent += rec["wall_s"]
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.release()
            its.append(rec)
        return its

    def stop(self) -> list[int]:
        """Stop Spark and its JVM; return processes still alive."""
        from pyspark import SparkContext
        kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        return wait_gone(kids, timeout=20)


def _warm_worker(it):
    from dygiepp_spark.kernel.model import triples_rows
    from dygiepp_spark.kernel.weights import get_weights
    triples_rows("warm", "Warm the worker up.", get_weights())
    return [sum(1 for _ in it)]


def _iteration_summary(its: list[dict]) -> dict:
    good = [r for r in its if r["ok"]]

    def rate(key: str) -> float:
        # summed over iterations: per-input triple counts vary with
        # the input's sentences, and a sum evens that out
        wall = sum(r["wall_s"] for r in good)
        return sum(r[key] for r in good) / wall if wall else 0.0

    return {"docs_per_s": rate("docs"), "triples_per_s": rate("triples"),
            "increment_p50_s": _median([r["wall_s"] for r in good])}


def _run(args, wl, run_id: str, base: str, log_dir: str
         ) -> tuple[dict, dict]:
    """One run: inputs, set-up, timed loop, checks, stop. Returns the
    run record and {metric: (value, unit)}."""
    deadline = time.perf_counter() + HARD_STOP_S
    tracer = Tracer(run_id)
    h = Harness(wl, tracer, wl.cores)
    rec: dict = {"workload": wl.name, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "cores": wl.cores, "run_id": run_id}
    try:
        with HostSampler() as host:
            t0 = time.perf_counter()
            wl.generate()
            rec["gen_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            h.start_session()
            rec["jvm_start_s"] = time.perf_counter() - t0
            h.setup()
            t0 = time.perf_counter()
            wl.prepare(h.spark)
            h.release()
            rec["prepare_s"] = time.perf_counter() - t0
            host.track_rss = True
            if args.trace:
                result = layers.traced_run(h, args.seconds, deadline, rec)
            else:
                rec["iterations"] = h.loop(args.seconds, MIN_ITERATIONS,
                                           "run", deadline)
                result = _iteration_summary(rec["iterations"])
            host.track_rss = False
            rec["inputs"] = wl.describe()
            rec["peak_rss_parts"] = host.peak_parts
            rec["check_failures"] = wl.check(h.spark)
            rec["noise"] = host.noise()
    finally:
        rec["leftover_pids"] = h.stop()
    rec["setup_s"] = h.setup_s
    if args.trace:
        metrics = layers.finish_traced(result, log_dir, rec)
        tracer.write(os.path.join(base, f"trace-{wl.name}-s{args.seed}-"
                                  f"{run_id}.json"), extra=rec)
    else:
        metrics = {
            "setup_s": (_median(h.setup_s), "s"),
            "docs_per_s": (result["docs_per_s"], "1/s"),
            "triples_per_s": (result["triples_per_s"], "1/s"),
            "increment_p50_s": (result["increment_p50_s"], "s"),
            "peak_rss_mb": (host.peak_rss / 2**20, "MB"),
        }
    rec["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(base, f"result-{wl.name}-s{args.seed}-"
                           f"t{args.trace}-{run_id}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return rec, metrics


def _report(rec: dict, metrics: dict) -> None:
    """Human-readable lines, then the one-line JSON result."""
    its = rec["iterations"]
    failures = rec["check_failures"]
    attempted = len(its)
    # a failed output check fails every iteration of the run
    failed = attempted if failures else sum(not r["ok"] for r in its)
    print("inputs", json.dumps(rec["inputs"]))
    print(f"iterations {attempted} wall_s "
          f"{[round(r['wall_s'], 3) for r in its]}")
    print(f"setup_s {[round(s, 3) for s in rec['setup_s']]} "
          + " ".join(f"{k} {rec[k]:.3f}" for k in
                     ("gen_s", "jvm_start_s", "prepare_s")))
    print("noise", json.dumps(rec["noise"]))
    print("peak_rss_parts", json.dumps(rec["peak_rss_parts"]))
    print(f"fail_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    for r in its:
        if not r["ok"]:
            print(f"iteration {r['group']} failed: {r['error']}")
    for msg in failures:
        print("check failed:", msg)
    if rec["leftover_pids"]:
        print(f"processes still alive after stop: {rec['leftover_pids']}")
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failures and failed == 0 and not rec["leftover_pids"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()}}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".kgbench_work")
    work = os.path.join(base, f"run-{run_id}")
    log_dir = _configure_env(work, cores, bool(args.trace))
    try:
        try:
            from kgbench.workloads import WORKLOADS
        except ImportError as e:
            print(f"kgbench: cannot import the engine: {e}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"kgbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](work, args.seed, cores)
        rec, metrics = _run(args, wl, run_id, base, log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _report(rec, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
