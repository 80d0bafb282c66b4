#!/usr/bin/env python3
"""Entity-resolution benchmark: one workload per process, one warm local
Spark session, one client in a closed loop.

    python3 perfbench/run.py --workload er_lean --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Workloads (see perfbench/NOTES.md):

* ``er_lean`` — ``ERPipeline(spark).run_lean(docs)`` on synthetic pages;
* ``er_fold`` — ``streaming.er.er_fold_batch``: a staged ``run()``
  bootstrap, then ``update()`` folds of disjoint page batches.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced variant (each layer's public call in its own span and Spark job
group) and prints the per-layer metrics. Metric names and units come
from BENCHMARK.json. The last stdout line is the result JSON; the line
before it holds the run's context (host, versions, reps, checks, spans).
Everything the run writes stays under ``.bench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 7


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` (before the JVM starts), and let the Python workers import
    the program from the checkout."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # both JVMs (spark-submit's launcher and the driver): temp files in
    # ``work``, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # .bench_work, once no run uses it
    except OSError:
        pass


def start_spark(cores: int):
    from textgraphs_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    import probes as TR

    pids = TR.child_pids()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in pids:
                if os.path.exists(f"/proc/{pid}"):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            while any(os.path.exists(f"/proc/{p}") for p in pids):
                if time.monotonic() > deadline:
                    break
                time.sleep(0.1)
            deadline = time.monotonic() + 10


class Ledger:
    """Operations attempted and failed. Each output check is an operation
    too: a check that does not hold is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []

    def check(self, name: str, ok: bool, **detail) -> None:
        self.attempted += 1
        self.checks.append({"check": name, "ok": bool(ok), **detail})
        if not ok:
            self.failed += 1
            log(f"check failed: {name} {detail}")

    def run(self, op):
        """Attempt one operation; returns its result or None on error."""
        self.attempted += 1
        try:
            return op()
        except Exception:  # a failed operation is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def closed_loop(seconds: float, ledger: Ledger, op) -> list:
    """Run ``op`` back to back until the next one would end after
    ``seconds`` (at least one must succeed, or 3 × ``seconds`` pass);
    returns the results of the operations that succeeded. Each result is
    a tuple whose first item is its wall time."""
    start = time.perf_counter()
    results = []
    while True:
        out = ledger.run(op)
        if out is not None:
            results.append(out)
        elapsed = time.perf_counter() - start
        typical = (statistics.median(r[0] for r in results) if results
                   else elapsed / ledger.attempted)
        if results and elapsed + typical > seconds:
            return results
        if elapsed > 3 * seconds:
            return results


# -- workloads -------------------------------------------------------------------

def lean_inputs(spark, seed: int, path: str) -> None:
    import er as ER

    ER.write_pages(spark, ER.LEAN_PAGES, seed, path)


def fold_inputs(spark, seed: int, path: str) -> None:
    import er as ER

    ER.write_pages(spark, ER.FOLD_PAGES, seed, path,
                   batches=(ER.FOLD_BOOT_PAGES, ER.FOLD_BATCH_PAGES))


def run_er_lean(spark, args, path, work, ledger, ctx) -> dict:
    import er as ER

    pages = spark.read.parquet(path)
    docs = ER.docs_of(pages)
    warm = docs.limit(ER.LEAN_WARM_PAGES)
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ER.LEAN_WARM_SECONDS:
        ER.lean_job(spark, warm)
    ER.lean_job(spark, docs)
    ctx["warmup_s"] = time.perf_counter() - t0

    # with --trace 1, one untraced job is the reference for the overhead
    reps = closed_loop(0 if args.trace else args.seconds, ledger,
                       lambda: ER.lean_job(spark, docs))
    if not reps:
        return {}
    first = reps[0][2]
    for _, _, s in reps[1:]:
        ledger.check("cluster hash stable across reps",
                     s["cluster_hash"] == first["cluster_hash"]
                     and s["row_hash"] == first["row_hash"],
                     got=s["cluster_hash"], want=first["cluster_hash"])
    ctx["reps"] = [{"wall_s": w, **s} for w, _, s in reps]
    f1 = ER.pairwise_f1(pages, reps[-1][1])
    ctx["quality"] = f1
    wall = statistics.median(r[0] for r in reps)
    metrics = {
        "wall_s": wall,
        "docs_per_s": ER.LEAN_PAGES / wall,
        "pairwise_f1": f1["f1"],
    }
    if not args.trace:
        return metrics

    import probes as TR

    tracer = TR.Tracer(spark, f"{args.workload}-{args.seed}")

    def traced_job():
        layers, summary = ER.lean_traced(spark, docs, ER.LEAN_PAGES, tracer)
        return summary["layer_wall_s"], layers, summary

    traced = closed_loop(max(args.seconds - wall, 0), ledger, traced_job)
    if not traced:
        return {}
    for _, _, s in traced:
        ledger.check("traced chain reproduces run_lean cluster hash",
                     s["cluster_hash"] == first["cluster_hash"]
                     and s["row_hash"] == first["row_hash"],
                     got=s["cluster_hash"], want=first["cluster_hash"])
        ledger.check("star rounds give the union-find clustering",
                     s["stars_equal"], stars=s["stars"])
    layers = {k: statistics.median(r[1][k] for r in traced) for k in traced[0][1]}
    layer_wall = statistics.median(r[0] for r in traced)
    layers["trace.overhead_pct"] = 100.0 * (layer_wall - wall) / wall

    # the query-driver layer: one untraced pass warms it, a traced pass
    # measures it
    import suite as Q

    warm_suite = ledger.run(lambda: Q.run_suite(spark))
    suite = ledger.run(lambda: Q.run_suite(spark, tracer))
    if warm_suite is None or suite is None:
        return {}
    for name, r in suite.items():
        ledger.check("query returns rows", r["rows"] > 0, query=name, rows=r["rows"])
    layers.update(Q.suite_layers(suite))
    ctx["suite_warmup"] = warm_suite
    ctx["traced_reps"] = [{"layer_wall_s": w, **s} for w, _, s in traced]
    ctx["spans"] = tracer.spans
    return layers


def run_er_fold(spark, args, path, work, ledger, ctx) -> dict:
    import er as ER

    pages = spark.read.parquet(path)
    batches = ER.fold_batches(spark, path)
    workdirs = (os.path.join(work, f"fold{i}") for i in itertools.count())

    def cycle(tracer=None):
        return ER.fold_cycle(spark, batches, next(workdirs), tracer)

    # warm-up: the bootstrap of batch 0 warms the staged run() and
    # extract_graphs, and its snapshot is the reference every measured
    # cycle's v0 must reproduce; the one-shot salted run over every fold
    # page warms the operators update() shares with run_lean, and is the
    # reference for the entity check and the known-defect report
    t0 = time.perf_counter()
    warm = ledger.run(lambda: ER.fold_cycle(spark, batches[:1], next(workdirs)))
    if warm is None:
        return {}
    oneshot_cp, oneshot = ER.oneshot_salted(spark, ER.docs_of(pages))
    ctx["warmup_s"] = time.perf_counter() - t0
    # with --trace 1, one untraced cycle is the reference for the overhead
    reps = closed_loop(0 if args.trace else args.seconds, ledger, cycle)
    if not reps:
        return {}
    if args.trace:
        import probes as TR

        tracer = TR.Tracer(spark, f"{args.workload}-{args.seed}")
        traced = ledger.run(lambda: cycle(tracer))
        if traced is None:
            return {}
    first = reps[0][3]
    for r in reps:
        got = r[3]["snapshot_hashes"][0]
        ledger.check("fold bootstrap snapshot stable across cycles",
                     got == warm[3]["snapshot_hashes"][0],
                     got=got, want=warm[3]["snapshot_hashes"][0])
    for r in reps[1:] + ([traced] if args.trace else []):
        s = r[3]
        ledger.check("final fold snapshot stable across cycles",
                     s["snapshot_hashes"] == first["snapshot_hashes"]
                     and s["row_hash"] == first["row_hash"],
                     got=s["cluster_hash"], want=first["cluster_hash"])
    ctx["warmup_folds_s"] = warm[1]
    ctx["reps"] = [{"wall_s": w, "folds_s": f, **s} for w, f, _, s in reps]
    final = reps[-1][2]
    ctx["quality"] = f1 = ER.pairwise_f1(pages, final)
    # the entity vocabulary and its counts do not depend on how the
    # batches were folded
    ledger.check("fold entities equal the one-shot entities",
                 ER.entity_hash(final) == ER.entity_hash(oneshot_cp)
                 and first["rows"] == oneshot["rows"],
                 fold_rows=first["rows"], oneshot_rows=oneshot["rows"])
    # known defect, reported and not gated: update() diverges from the
    # one-shot salted run once salting engages
    ctx["known_defect_update_vs_oneshot"] = {
        "fold_cluster_hash": first["cluster_hash"],
        "fold_clusters": first["clusters"],
        "oneshot_cluster_hash": oneshot["cluster_hash"],
        "oneshot_clusters": oneshot["clusters"],
        "equal": first["cluster_hash"] == oneshot["cluster_hash"],
    }
    wall = statistics.median(r[0] for r in reps)
    if not args.trace:
        return {
            "wall_s": wall,
            "docs_per_s": ER.FOLD_PAGES / wall,
            "pairwise_f1": f1["f1"],
        }
    layers = ER.fold_layers(tracer, traced[3]["snapshots"])
    layers["trace.overhead_pct"] = 100.0 * (traced[0] - wall) / wall
    ctx["traced_folds_s"] = traced[1]
    ctx["spans"] = tracer.spans
    return layers


# workload: (input set-up, run)
WORKLOADS = {
    "er_lean": (lean_inputs, run_er_lean),
    "er_fold": (fold_inputs, run_er_fold),
}
# the layers whose public calls each workload's traced run makes
LAYERS_RUN = {
    "er_lean": {"extract", "blocking", "scoring", "components", "assign",
                "queries", "trace"},
    "er_fold": {"staged", "update", "trace"},
}


# -- main --------------------------------------------------------------------------

def host_context(spark, args) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": os.cpu_count(),
        "cores_used": spark.sparkContext.defaultParallelism,
        "spark": spark.version, "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "arrow": pyarrow.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "textgraphs_spark")):
        log(f"no program to measure: {ROOT}/textgraphs_spark is missing")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    import er as ER
    import probes as TR

    ledger = Ledger()
    ctx: dict = {}
    steal0 = TR.host_steal_s()
    t0 = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_spark(cores)
        ctx["jvm_start_s"] = time.perf_counter() - t0
        make_inputs, workload = WORKLOADS[args.workload]
        path = os.path.join(work, "pages")
        ctx["first_setup_s"] = timed(lambda: make_inputs(spark, args.seed, path))
        measured = workload(spark, args, path, work, ledger, ctx)
        # the set-up again, in the warm process: the first one above is
        # the process's first Spark job, several times slower and mostly
        # JVM warm-up
        again = os.path.join(work, "setup")
        ctx["setup_reps_s"] = [
            timed(lambda: make_inputs(spark, args.seed, again))
            for _ in range(SETUP_REPS)]
        ledger.check("set-up reproduces the inputs from the seed",
                     ER.input_hash(spark, again) == ER.input_hash(spark, path))
        measured["setup_s"] = statistics.median(ctx["setup_reps_s"])
        measured["peak_rss_mb"] = TR.tree_peak_rss_mb()
        ctx["peak_rss_mb_by_command"] = TR.tree_peak_rss_mb(by_command=True)
        ctx = {**host_context(spark, args), **ctx}
    finally:
        if spark is not None:
            stop_spark(spark)
        cleanup(work)
    ctx["steal_s"] = TR.host_steal_s() - steal0
    ctx["run_s"] = time.perf_counter() - t0
    ctx["checks"] = ledger.checks

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        # a layer this workload never calls did no work
        runs = LAYERS_RUN[args.workload]
        measured.update({m["name"]: 0.0 for m in names
                         if m["name"].split(".")[0] not in runs})
    missing = [m["name"] for m in names if m["name"] not in measured]
    print(json.dumps({"context": ctx}, default=str))
    if missing:
        log(f"no measurement for {missing}")
        return 1
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {m["name"]: {"value": float(measured[m["name"]]), "unit": m["unit"]}
                    for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
