"""geosparkle benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout and reads and writes only inside it (work
files go to ``.perfbench_work/``).  The workload runs as a closed loop: one
driver thread submits one job at a time on ``local[nproc]``.  After a cold
pass (whose jobs give the per-layer ``cold_job_s``) and the workload's
warm-up passes, it measures passes for ``--seconds`` and at least the
workload's minimum count.  Every job's result is checked against a
reference built without the engine.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints the per-layer metrics, from a separate traced window.  The last
line of stdout is the result object; the line before it records the host
(nproc, steal fraction), the seed and the sample counts.  A run whose jobs
raise or fail their check prints ``"correct": false`` and exits with 1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
HEAP = "1g"
MAX_KEYS = ("sort.peak_mb", "tasks.skew")  # per-iteration max, not sum


@dataclass
class JobResult:
    name: str
    wall: float
    cpu: float
    rows: int
    error: str | None
    ledger: dict = field(default_factory=dict)


@dataclass
class Iteration:
    jobs: list[JobResult]
    layers: dict = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(j.rows for j in self.jobs)

    @property
    def wall(self) -> float:
        return sum(j.wall for j in self.jobs)

    @property
    def cpu(self) -> float:
        return sum(j.cpu for j in self.jobs)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tile-fmt", default="png", choices=("png", "raw"),
                   help="slice_tiles(tile_fmt=...) in the raster workload")
    p.add_argument("--wrong-reference", action="store_true",
                   help="corrupt the reference; every check must then fail")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``; let the
    Python workers import the engine from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp


def start_session(cores: int, work: str, conf: dict):
    """The package's session on ``local[cores]``, with the workload's
    ``conf`` and work directories inside ``work``."""
    import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm

    spark = vm.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            # A fixed, pre-touched heap in place of the package's growable
            # one (up to 16 GiB): resident memory then moves with the Python
            # workers and the JVM's off-heap use, not with when the
            # collector chooses to grow the heap, which moved peak RSS by
            # 20% between seeds on a 4-core host.  1 GiB ran raster no
            # slower than 2 GiB there; the traced run reports collection
            # time as jvm.gc_s.  Fixed JIT compiler threads keep their CPU,
            # which cpu_s leaves out, countable (a thread that exits takes
            # its count with it).
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch "
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **conf,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both.  A run cut
    short inside a call can leave the gateway unusable; the JVM is then
    ended all the same."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def reap_strays() -> None:
    """Terminate any process still below this one, and wait until gone."""
    from probes import descendants

    me = os.getpid()
    strays = [p for p in descendants(me) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in strays:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while strays and time.time() < deadline:
            strays = [p for p in strays if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        if not strays:
            return


def materialise(wl, cores: int, work: str) -> float:
    """Generate and write the seeded inputs ``SETUP_REPEATS`` times;
    the median seconds of one repeat.  The last copy is kept for the jobs."""
    import multiprocessing
    from multiprocessing import resource_tracker

    times, out_dir = [], None
    with multiprocessing.get_context("spawn").Pool(cores) as pool:
        pool.map(abs, range(cores))  # start every worker before timing
        for rep in range(SETUP_REPEATS):
            if out_dir:
                shutil.rmtree(out_dir)
            out_dir = os.path.join(work, f"inputs-{rep}")
            os.makedirs(out_dir)
            t0 = time.perf_counter()
            wl.materialise(pool, out_dir)
            times.append(time.perf_counter() - t0)
        pool.close()
        pool.join()
    # the spawn context started a resource-tracker process; end it now
    # (closing its pipe stops it) rather than at interpreter exit, once the
    # pool's semaphores are gone, so the tracker has none left to clean up
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    wl.use(out_dir)
    return statistics.median(times)


def run_iteration(wl, spark, tree, tracer, ledger) -> Iteration:
    results = []
    for job in wl.jobs():
        mark = ledger.mark() if ledger else None
        call_start = time.time()
        cpu0 = tree.cpu_s()
        t0 = time.perf_counter()
        error, out = None, None
        try:
            with tracer.span(job.name):
                out = job.run(spark, tracer)
        except Exception:  # a job that raises counts as failed; keep measuring
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        cpu = tree.cpu_s() - cpu0
        rows = 0
        if error is None:
            try:
                rows = job.check(out)
            except Exception:
                error = traceback.format_exc()
        if error:
            print(f"[perfbench] {wl.name}/{job.name} failed:\n{error}", file=sys.stderr)
        layers = ledger.read(mark, call_start) if ledger else {}
        results.append(JobResult(job.name, wall, cpu, rows, error, layers))
    it = Iteration(results)
    if ledger:
        for r in results:
            for k, v in r.ledger.items():
                it.layers[k] = max(it.layers.get(k, 0.0), v) if k in MAX_KEYS else it.layers.get(k, 0.0) + v
        it.layers.update(wl.layer_extras(results, tracer))
        it.layers.update(wl.sample())
    wl.cleanup_job()
    return it


def run_window(wl, spark, tree, seconds, modes, least):
    """Iterations until ``seconds`` have passed and each of ``modes``
    (``(tracer, ledger)`` pairs, run in turn) has run ``least`` times; the
    iterations of each mode and the peak RSS of the JVM tree meanwhile.
    A floor on the count keeps the medians from moving with how many
    iterations a run happened to fit."""
    from probes import RssPeak

    rss = RssPeak(tree).start()
    its: list[list[Iteration]] = [[] for _ in modes]
    t0 = time.perf_counter()
    try:
        while len(its[0]) < least or time.perf_counter() - t0 < seconds:
            for out, (tracer, ledger) in zip(its, modes):
                out.append(run_iteration(wl, spark, tree, tracer, ledger))
    finally:
        peak = rss.stop()
    return its, peak


def rate(its) -> float:
    return statistics.median(i.rows / i.wall for i in its)


def main(argv=None) -> int:
    clock = time.perf_counter()
    phases = {}

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 2)
        clock = now

    args = parse_args(argv)
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, ROOT)

    # the engine must import from this checkout; without it the run fails here
    import probes
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    cores = len(os.sched_getaffinity(0))
    steal0, jiffies0 = probes.cpu_jiffies()
    phase("imports")
    wl = workloads.WORKLOADS[args.workload](args.seed, work, args.tile_fmt)
    t0 = time.perf_counter()
    spark = start_session(cores, work, wl.spark_conf)
    session_s = time.perf_counter() - t0
    phase("session")
    gen_s = materialise(wl, cores, work)
    phase("setup")
    wl.build_reference()
    phase("reference")
    if args.wrong_reference:
        wl.corrupt_reference()

    tree = probes.ProcTree(spark.sparkContext._gateway.proc.pid)
    off = probes.Tracer(False)
    all_its: list[Iteration] = []
    try:
        cold = run_iteration(wl, spark, tree, off, None)
        all_its.append(cold)
        # more passes before measuring, until the JIT has compiled the hot
        # paths the cold pass touched
        for _ in range(wl.warmup):
            all_its.append(run_iteration(wl, spark, tree, off, None))
        phase("cold")
        # a traced run interleaves untraced and traced iterations, so the
        # tracing overhead compares iterations at the same point of warm-up
        tracer = probes.Tracer(bool(args.trace))
        modes = [(off, None)] + ([(tracer, probes.SparkLedger(spark))] if args.trace else [])
        (steady, *traced), peak_rss = run_window(wl, spark, tree, args.seconds, modes,
                                                 wl.passes)
        all_its += steady + sum(traced, [])
        phase("window")
        metrics = {
            "rows_per_s": rate(steady),
            "cpu_s": statistics.median(i.cpu for i in steady),
            "peak_rss_mb": peak_rss,
            # every job's first run in the fresh session, averaged: one
            # job alone is too little work to read steadily
            "cold_job_s": cold.wall / len(cold.jobs),
            "setup_s": session_s + gen_s,
        }
        samples = {"cold_job_walls_s": [round(j.wall, 3) for j in cold.jobs],
                   "steady_iterations": len(steady),
                   "iteration_wall_s": [round(i.wall, 3) for i in steady],
                   "job_wall_s": {j.name: [round(i.jobs[n].wall, 3) for i in steady]
                                  for n, j in enumerate(steady[0].jobs)},
                   "iteration_cpu_s": [round(i.cpu, 2) for i in steady]}
        if args.trace:
            traced = traced[0]
            layers = {k: statistics.median(i.layers.get(k, 0.0) for i in traced)
                      for k in {k for i in traced for k in i.layers}}
            layers.update(wl.trace_once(spark))
            layers["trace.overhead"] = (statistics.median(i.cpu for i in traced)
                                        / metrics["cpu_s"])
            layers["cold_job_s"] = metrics["cold_job_s"]
            # single-threaded baseline in the same, warm JVM: local[1]
            spark.stop()
            spark = start_session(1, work, wl.spark_conf)
            (single,), _ = run_window(wl, spark, tree, 0, [(off, None)], least=1)
            all_its += single
            layers["parallel_eff"] = metrics["rows_per_s"] / (cores * rate(single))
            phase("single")
            missing = sorted(wl.layers - layers.keys())
            if missing:
                raise SystemExit(f"[perfbench] {wl.name}: layer metrics not collected: {missing}")
            tracer.write(os.path.join(work, "spans.json"))
            metrics = layers
            samples.update(traced_iterations=len(traced), single_iterations=len(single))
    finally:
        try:
            stop_jvm(spark)
        finally:
            reap_strays()
    phase("stop")

    steal1, jiffies1 = probes.cpu_jiffies()
    jobs = [j for it in all_its for j in it.jobs]
    failed = sum(1 for j in jobs if j.error)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "steal_frac": (steal1 - steal0) / max(jiffies1 - jiffies0, 1),
        "tile_fmt": args.tile_fmt, **samples, "phases_s": phases,
    }
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        # a traced run has checked that every layer its jobs run was
        # collected; a layer they do not run reads 0
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }))
    for sub in ("spark-local", "warehouse", "tmp") + tuple(
        d for d in os.listdir(work) if d.startswith(("inputs-", "polygons-out"))
    ):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
