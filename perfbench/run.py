"""Repository benchmark: KG workloads over the spark-list-kg engine.

    python3 perfbench/run.py --workload kg_build --seed 42 --seconds 5 --trace 0

Runs from the root of a checkout.  One invocation runs one workload in one
process at local[k] (k = SPARK_GRAFT_CPUS if set, else min(nproc, 4)); the
program gets only inputs generated from --seed.  Order of a run:

  1. record the environment; refuse k > nproc;
  2. start the Spark session (the engine's own ``get_spark``);
  3. set-up passes: stage the inputs (keyed, digest-checked), SETUP_PASSES
     times (once with --trace 1);
  4. verify the workload's output against its reference, untimed; this is
     also the warm-up run, followed by the workload's ``warmup_ops``;
  5. --trace 0: repeat the operation until --seconds have passed, at least
     MIN_OPS times (closed loop, one client), and report end-to-end metrics;
     --trace 1: run the per-layer prefix cuts for --seconds, then a pair of
     untraced and traced operations for the tracing overhead, and write the
     spans to .bench_work/trace/; only this pass samples memory.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics.  Everything the run writes stays under .bench_work/ in the
checkout.  ``--plant-fault drop|alter`` removes or alters one row of the
program's output before the correctness gate, to show the gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUP_PASSES = 3
MIN_OPS = 1
OVERHEAD_PAIRS = 1
DEFAULT_CORES = 4
KG_BUILD_DOCS = 4000

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
}

PER_LAYER = {
    "process.peak_pss_mb": "MB",
    "engine.session.start_s": "s",
    "trace_overhead_s": "s",
    "sources.scan_s": "s",
    "engine.linking.redirect_s": "s",
    "engine.extract.self_s": "s",
    "engine.extract.cpu_s": "s",
    "engine.extract.docs_per_core_s": "1/s",
    "engine.extract.candidates": "count",
    "engine.extract.task_skew": "ratio",
    "engine.extract.glue_share": "ratio",
    "core.mappers.docs_per_s": "1/s",
    "engine.bloom.build_s": "s",
    "engine.bloom.keys": "count",
    "engine.linking.link_self_s": "s",
    "engine.linking.link_shuffle_bytes": "bytes",
    "engine.linking.deferred_hit_ratio": "ratio",
    "engine.linking.regime": "salt",
    "engine.canonicalize.map_s": "s",
    "engine.canonicalize.map_rows": "count",
    "engine.canonicalize.jobs": "count",
    "engine.canonicalize.apply_s": "s",
    "engine.pipeline.dedup_s": "s",
    "engine.pipeline.dedup_in_rows": "count",
    "engine.pipeline.dedup_kept_ratio": "ratio",
    "engine.pipeline.dedup_shuffle_bytes": "bytes",
    "engine.pipeline.spill_bytes": "bytes",
    "streaming.dimension_s": "s",
    "streaming.drain_s": "s",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_p90_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.offset_commit_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.batches": "count",
    "engine.snapshots.files_per_commit": "count",
    "engine.snapshots.manifest_bytes": "bytes",
    "engine.snapshots.bytes_per_triple": "bytes",
    "engine.snapshots.compact_files_in": "count",
    "engine.snapshots.compact_files_out": "count",
    "engine.snapshots.compact_bytes_rewritten": "bytes",
    "engine.snapshots.read_files_scanned_ratio": "ratio",
    "engine.snapshots.compact_s": "s",
    "engine.snapshots.pruned_read_s": "s",
}


class Context:
    """What a workload needs from the run: session, seed, cores, work dir,
    the planted fault applied where the benchmark reads program output, and
    the count of operations attempted and failed."""

    def __init__(self, spark, seed: int, cores: int, work_dir: str, fault: str | None):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.work_dir = work_dir
        self.fault = fault
        self.attempted = 0
        self.failed = 0

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def plant(self, rows):
        """Drop or alter one row of a set or Counter of output rows."""
        if self.fault is None or not rows:
            return rows
        victim = min(rows, key=repr)
        out = rows.copy()
        if isinstance(out, set):
            out.discard(victim)
            if self.fault == "alter":
                out.add(victim[:-2] + (f"{victim[-2]}~",) + victim[-1:])
        else:
            out[victim] -= 1
            out += type(out)()  # drop non-positive counts
            if self.fault == "alter":
                out[victim[:-2] + (f"{victim[-2]}~",) + victim[-1:]] += 1
        return out

    def plant_count(self, n: int) -> int:
        return n - 1 if self.fault == "drop" else n


def _workloads():
    from kg_batch import KGBatch
    from kg_ingest import KGIngest
    from kg_link_scale import KGLinkScale

    return {
        "kg_build": lambda ctx: KGBatch(ctx, "kg_build", KG_BUILD_DOCS, 2 * ctx.cores),
        "kg_link_scale": KGLinkScale,
        "kg_ingest": KGIngest,
    }


def _environment(cores: int, nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "load_1m": os.getloadavg()[0],
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop_spark(spark, tree) -> None:
    """Stop the session, the JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and len(tree.pids()) > 1:
        time.sleep(0.1)
    for pid in tree.pids():
        if pid != os.getpid():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", choices=("drop", "alter"), default=None)
    args = ap.parse_args()

    # the engine's own core setting: get_spark defaults it to 32, more than
    # most hosts have, so an inherited value is checked, never trusted
    nproc = len(os.sched_getaffinity(0))
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cores = int(graft_cpus) if graft_cpus else min(nproc, DEFAULT_CORES)
    if not 1 <= cores <= nproc:
        print(f"refusing local[{cores}] (SPARK_GRAFT_CPUS={graft_cpus}): this host has "
              f"{nproc} cores", file=sys.stderr)
        return 2

    env = _environment(cores, nproc)
    for sub in ("spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the spark-submit launcher too): temp files under the work
        # dir, and no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]

    # the program: an ImportError here (no program in the checkout) ends the
    # run with a non-zero code before any result is printed
    from list_extractor_spark.engine.session import get_spark

    from probes import ProcessTree, Tracer

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    tree = ProcessTree()
    if args.trace == 1:
        tree.start()  # memory sampling is a per-layer metric: traced pass only
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.runtime.version")
    print(json.dumps({"environment": env}), file=sys.stderr)
    ctx = Context(spark, args.seed, cores, WORK, args.plant_fault)
    problems: list[str] = []
    metrics: dict = {}
    try:
        wl = workloads[args.workload](ctx)
        setup = []
        # setup_s is an end-to-end metric: the traced pass sets up once
        for _ in range(SETUP_PASSES if args.trace == 0 else 1):
            t0 = time.perf_counter()
            wl.setup_pass()
            setup.append(time.perf_counter() - t0)

        t_verify = time.perf_counter()
        try:
            problems = wl.verify()
        except Exception as e:  # noqa: BLE001 - a crashing program is a failed run
            problems = [f"verify raised {type(e).__name__}: {e}"]
        ctx.count(not problems)
        verify_s = time.perf_counter() - t_verify

        def timed_op(op=wl.op):
            cpu0, t0 = tree.cpu_s(), time.perf_counter()
            try:
                r = op()
            except Exception as e:  # noqa: BLE001
                problems.append(f"op raised {type(e).__name__}: {e}")
                r = {"ok": False, "docs": 0, "triples": 0}
            dt = time.perf_counter() - t0
            r["cpu_s"] = tree.cpu_s() - cpu0
            ctx.count(r["ok"])
            return dt, r

        for _ in range(wl.warmup_ops):
            timed_op()
        if args.trace == 0:
            walls, results = [], []
            steal0 = _steal_s()
            deadline = time.perf_counter() + args.seconds
            while len(walls) < MIN_OPS or time.perf_counter() < deadline:
                dt, r = timed_op()
                walls.append(dt)
                results.append(r)
            wall = statistics.median(walls)
            metrics = {
                "setup_s": statistics.median(setup),
                "wall_s": wall,
                "docs_per_s": statistics.median(r["docs"] for r in results) / wall,
                "triples_per_s": statistics.median(r["triples"] for r in results) / wall,
                "cpu_s": statistics.median(r["cpu_s"] for r in results),
            }
            print(json.dumps({"op_wall_s": walls, "op_cpu_s": [r["cpu_s"] for r in results],
                              "setup_pass_s": setup, "session_s": session_s,
                              "verify_s": verify_s, "steal_s": _steal_s() - steal0}),
                  file=sys.stderr)
        else:
            tr = Tracer(spark, tree)
            layers = wl.trace(tr, args.seconds)
            plain, traced = [], []
            for i in range(OVERHEAD_PAIRS):
                plain.append(timed_op()[0])
                traced.append(timed_op(lambda: tr.span("op.traced", wl.op, f"overhead-{i}")[0])[0])
            layers["trace_overhead_s"] = statistics.median(traced) - statistics.median(plain)
            layers["engine.session.start_s"] = session_s
            metrics = {name: layers.get(name, 0.0) for name in PER_LAYER}
            tr.write(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json"))
    finally:
        _stop_spark(spark, tree)
        tree.stop()
        for sub in ("spark-local", "tmp", "warehouse", "ingest"):
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)

    if args.trace == 1:
        metrics["process.peak_pss_mb"] = tree.peak_pss / 2**20
    units = END_TO_END if args.trace == 0 else PER_LAYER
    for p in problems:
        print(f"FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0 and not problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
