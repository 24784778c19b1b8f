"""Benchmark of the tilecloud_chain_spark engine: one seeded batch job per
run, a closed loop with one client on one local Spark session.

    python3 perfbench/run.py --workload tile_pyramid --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, measured on untraced
runs; with ``--trace 1`` they are the per-layer ones of one traced run of
the job's staged form, plus ``trace_overhead_s`` (its wall minus the mean
wall of the same staged form run untraced just before and just after). The
environment record goes to standard error and, with every run's numbers
and the trace spans, to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYER_KEYS = (  # per-layer metric: (name, unit)
    ("wall_s", "s"), ("jobs", "count"), ("task_s", "s"), ("idle_core_s", "s"),
    ("shuffle_mb", "MB"), ("rows_out", "rows"), ("failed_tasks", "count"), ("exchanges", "count"),
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0, help="local[cores]; default: every usable core")
    return p.parse_args(argv)


def _environment(spark, args, cores: int, nproc: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "nproc": nproc, "mem_total_mb": mem_kb // 1024,
        "pyspark": spark.version, "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(), "machine": platform.machine(),
    }


def _cpu_times() -> tuple[int, int]:
    """(all, stolen) CPU time of the host since boot, in clock ticks."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def _steal_share(since: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests since
    ``since``; figures measured while it is high are not comparable."""
    now = _cpu_times()
    return (now[1] - since[1]) / max(1, now[0] - since[0])


def _spark_env(work: str) -> None:
    """Every file Spark, its JVM and its Python workers write goes under
    ``work``; the workers import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # a 1 GiB driver heap keeps the JVM's resident size steady from one
    # process to the next; with 2 GiB it varied by about 15%
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])


class Bench:
    """Set-up once, then closed-loop runs of one workload."""

    def __init__(self, spark, workload, cores: int, rss) -> None:
        from collect import SparkCounters

        self.spark, self.wl, self.cores, self.rss = spark, workload, cores, rss
        self.counters = SparkCounters(spark)
        self.reference = None

    def setup(self, staged: bool) -> bool:
        """One warm-up run of the form measured next (the job, or with
        ``staged`` its staged form), concurrent with building the reference
        output by an independent path; a job made of parts warms up and
        builds the reference of every part concurrently. Then, before the
        untraced runs only, the workload's further warm-up runs, if it asks
        for any. True when every warm-up matches the reference."""
        from workloads import no_span, release_pins

        def warm_up(w):
            return w.staged(no_span)[0] if staged else w.run()

        parts = getattr(self.wl, "parts", (self.wl,))
        with ThreadPoolExecutor(max_workers=2 * len(parts)) as pool:
            warm = [pool.submit(warm_up, p) for p in parts]
            ref = [pool.submit(p.reference) for p in parts]
            warm, ref = tuple(f.result() for f in warm), tuple(f.result() for f in ref)
        release_pins()
        self.reference = ref if hasattr(self.wl, "parts") else ref[0]
        ok = warm == ref
        for _ in range(0 if staged else getattr(self.wl, "extra_warm_ups", 0)):
            ok &= warm_up(self.wl) == self.reference
            release_pins()
        # collect set-up's garbage now, so that no run pays for it
        gc.collect()
        self.spark._jvm.System.gc()
        return ok

    def _check_warm(self) -> None:
        if self.reference is None:
            raise RuntimeError("refusing to measure: no warm-up ran")

    def once(self) -> dict:
        """One untraced job: wall, Spark task time, and whether it was right."""
        from workloads import release_pins

        self._check_warm()
        mark = self.counters.mark()
        self.rss.reset()
        t0 = time.perf_counter()
        try:
            ok = self.wl.run() == self.reference
        except Exception:  # a failed run is counted, and the loop goes on
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        peak_mb = self.rss.peak_mb
        task_s = self.counters.window(mark)["run_s"]
        release_pins()
        return {"wall_s": wall, "task_s": task_s, "core_util": task_s / (wall * self.cores),
                "peak_rss_mb": peak_mb, "ok": ok, "part_wall_s": getattr(self.wl, "part_wall_s", None)}

    def loop(self, seconds: float) -> list[dict]:
        """Closed loop: the next run starts when the previous one returns,
        until ``seconds`` have passed; at least one run."""
        runs, t0 = [], time.perf_counter()
        while not runs or time.perf_counter() - t0 < seconds:
            runs.append(self.once())
        return runs

    def traced(self, run_id: str):
        """The staged form untraced, traced, then untraced again, so that
        the runs still getting faster do not bias the traced run against
        the untraced ones; the workload's probe ratios are taken after the
        traced run, outside every wall."""
        from collect import Tracer
        from workloads import no_span, release_pins

        self._check_warm()
        runs = []

        def untraced():
            t0 = time.perf_counter()
            out, _, _ = self.wl.staged(no_span)
            runs.append({"wall_s": time.perf_counter() - t0, "ok": out == self.reference, "traced": False})
            release_pins()

        untraced()
        tracer = Tracer(self.counters, run_id)
        t0 = time.perf_counter()
        with tracer.span("run"):
            out, rows, ratios = self.wl.staged(tracer.span)
        runs.append({"wall_s": time.perf_counter() - t0, "ok": out == self.reference, "traced": True})
        ratios.update(self.wl.probe_ratios())
        release_pins()
        untraced()
        return runs, tracer, rows, ratios


def _end_to_end(runs: list[dict], setup_s: float, rows: int) -> dict:
    def med(key):
        return statistics.median(r[key] for r in runs)

    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": med("wall_s"), "unit": "s"},
        "rows_per_s": {"value": rows / med("wall_s"), "unit": "rows/s"},
        "core_util": {"value": med("core_util"), "unit": "ratio"},
        "peak_rss_mb": {"value": med("peak_rss_mb"), "unit": "MB"},
    }


def _per_layer(tracer, rows: dict, ratios: dict, cores: int, overhead_s: float) -> dict:
    from workloads import LAYERS, RATIOS

    out = {}
    for layer in LAYERS:
        t = tracer.layer_totals(layer)
        vals = {
            "wall_s": t["wall_s"], "jobs": t["jobs"], "task_s": t["run_s"],
            "idle_core_s": t["wall_s"] * cores - t["run_s"],
            "shuffle_mb": (t["shuffle_read_b"] + t["shuffle_write_b"]) / 2**20,
            "rows_out": rows.get(layer, 0), "failed_tasks": t["failed_tasks"], "exchanges": t["exchanges"],
        }
        for key, unit in LAYER_KEYS:
            out[f"{layer}.{key}"] = {"value": vals[key], "unit": unit}
    for layer, ratio in RATIOS.items():
        out[f"{layer}.{ratio}"] = {"value": ratios.get(ratio, 0.0), "unit": "ratio"}
    out["trace_overhead_s"] = {"value": overhead_s, "unit": "s"}
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    cpu0 = _cpu_times()
    nproc = len(os.sched_getaffinity(0))
    cores = args.cores or nproc
    if cores > nproc:
        print(f"refusing to run local[{cores}] on {nproc} usable cores", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    try:
        from collect import PeakRss
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    results = os.path.join(ROOT, ".perfbench_work", "results")
    _spark_env(work)
    from tilecloud_chain_spark.session import get_spark

    try:
        with PeakRss() as rss:
            spark = get_spark(f"perfbench-{args.workload}", cores=cores)
            try:
                spark.sparkContext.setLogLevel("ERROR")
                env = _environment(spark, args, cores, nproc)
                print(json.dumps({"environment": env}), file=sys.stderr)
                phases = {"session_s": time.perf_counter() - T_START}
                bench = Bench(spark, WORKLOADS[args.workload](spark, args.seed, work), cores, rss)
                phases["inputs_s"] = time.perf_counter() - T_START - phases["session_s"]
                warm_ok = bench.setup(bool(args.trace))
                setup_s = time.perf_counter() - T_START
                if args.trace:
                    runs, tracer, rows, ratios = bench.traced(run_id)
                    overhead_s = runs[1]["wall_s"] - (runs[0]["wall_s"] + runs[2]["wall_s"]) / 2
                    metrics = _per_layer(tracer, rows, ratios, cores, overhead_s)
                    tracer.write(os.path.join(results, f"{run_id}.trace.json"), {"environment": env})
                else:
                    runs = bench.loop(args.seconds)
                    metrics = _end_to_end(runs, setup_s, bench.wl.rows_per_run)
            finally:
                _stop(spark)
        env["cpu_steal_share"] = _steal_share(cpu0)
        record = {"environment": env, "inputs": bench.wl.props, "setup_s": setup_s,
                  "setup_phases": phases, "warmup_correct": warm_ok, "runs": runs, "metrics": metrics}
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1)
        failed = sum(not r["ok"] for r in runs)
        print(json.dumps({"runs": [round(r["wall_s"], 3) for r in runs],
                          "part_wall_s": [r.get("part_wall_s") for r in runs], "setup_phases": phases,
                          "cpu_steal_share": round(env["cpu_steal_share"], 3),
                          "inputs": bench.wl.props}), file=sys.stderr)
        print(json.dumps({"correct": warm_ok and failed == 0, "attempted": len(runs),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
