#!/usr/bin/env python3
"""The repo benchmark: one workload per process, timed from outside
through the package's public functions.

    python3 perfbench/run.py --workload kgrec_e2e --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics (tracing off); ``--trace 1``
replays the workload with a span around every public call plus Spark's
event log, and prints the per-layer metrics. The last line of stdout is
the result object; spans go to ``.bench_out/<run>.trace.json`` and the
per-layer numbers with their per-span detail to
``.bench_out/<run>.layers.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "knowledge_graph_aware_recommender_systems_with_dbpedia_spark"
MB = 1024.0 * 1024.0
# round 1 launches the JVM; setup_s is the median of the rounds after it
SETUP_ROUNDS = 4


class Ops:
    """Attempted and failed ops of one run. An op is a query, an
    integration step or a model x fold; it fails on an exception or
    on a failed output check."""

    def __init__(self):
        self.attempted = 0
        self.failures: dict[str, dict] = {}
        self.seconds: dict[str, float] = {}

    def run(self, name: str, fn, weight: int = 1):
        self.attempted += weight
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(sys.stderr):
                return fn()
        except Exception:  # the run goes on; the op is counted failed
            self.failures[name] = {"weight": weight, "error": traceback.format_exc(limit=8)}
            return None
        finally:
            self.seconds[name] = time.perf_counter() - t0

    def fail(self, name: str, reason: str) -> None:
        self.failures.setdefault(name, {"weight": 1, "error": reason})

    def failed_op(self, name: str) -> bool:
        return name in self.failures

    @property
    def failed(self) -> int:
        return min(self.attempted, sum(f["weight"] for f in self.failures.values()))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kgrec_e2e", "registry_battery"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10,
                   help="measurement window; each workload runs whole passes")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=4, help="local[N] for the Spark session")
    p.add_argument("--driver-memory", default="2g", help="driver JVM heap")
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny = the harness self-test's inputs")
    return p.parse_args(argv)


def make_workload(name: str):
    if name == "kgrec_e2e":
        from wl_kgrec import KgRec

        return KgRec()
    from wl_battery import Battery

    return Battery(ROOT)


def pin_environment(work: str, args) -> dict:
    """Keep every file the run writes inside ``work`` and return the
    Spark conf the session is built with."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jtmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.driver.memory": args.driver_memory,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a fixed initial heap: left to grow, G1 sometimes stops at half
        # the maximum and sometimes takes all of it, which made the
        # process tree's peak RSS bimodal from run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{args.driver_memory} -Djava.io.tmpdir={dirs['jtmp']} "
            f"-Dderby.system.home={dirs['jtmp']} -XX:-UsePerfData"
        ),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"],
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(wl, conf: dict, cores: int, rounds: int):
    """Setup rounds: each imports the package, builds a session and warms
    it (first job, first parquet read of the inputs). Round 1 also
    launches the JVM; later rounds drop the package's modules and the
    Spark context and set up again inside that JVM."""
    times, spark = [], None
    for _ in range(rounds):
        if spark is not None:
            spark.stop()
            for mod in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[mod]
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PKG}.session")
        importlib.import_module(f"{PKG}.plans")
        with contextlib.redirect_stdout(sys.stderr):
            spark = session.get_spark("perfbench", cpus=cores, extra_conf=conf)
            spark.range(1000).count()
            wl.warm(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def drop_cached(spark) -> None:
    """Unpersist everything, waiting for each block to go, so that a pass
    computes from scratch and reuses nothing an earlier pass left cached."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def timed_pass(wl, spark, totals, rss, work: str, i: int, ops) -> tuple[dict, dict]:
    import probes

    out = os.path.join(work, f"pass{i}")
    os.makedirs(out)
    drop_cached(spark)
    tmp = os.environ["TMPDIR"]
    tmp0 = probes.dir_usage(tmp)[0]
    s0, rdd0 = totals.snapshot(), totals.persisted_rdds()
    rss.reset()
    steal0, cpu0, t0 = probes.host_steal_s(), probes.tree_cpu_s(), time.perf_counter()
    res = wl.run_pass(spark, out, ops, f"p{i}.")
    wall = time.perf_counter() - t0
    cpu = probes.tree_cpu_s() - cpu0
    steal = probes.host_steal_s() - steal0
    s1 = totals.snapshot()
    written_b, files = probes.dir_usage(out)
    written_b += probes.dir_usage(tmp)[0] - tmp0
    res["out"] = res.get("out", out)
    return res, {
        "wall_s": wall,
        "cpu_s": cpu,
        "peak_rss_mb": rss.peak / MB,
        "shuffle_mb": (s1["shuffle_write_b"] - s0["shuffle_write_b"]) / MB,
        "written_mb": written_b / MB,
        "files_written": files,
        "gc_s": (s1["gc_ms"] - s0["gc_ms"]) / 1000.0,
        "task_s": (s1["task_ms"] - s0["task_ms"]) / 1000.0,
        "leaked_rdds": totals.persisted_rdds() - rdd0,
        "host_steal_s": steal,
    }


def _traced(wl, spark, out: str, tracer) -> dict:
    with tracer.span(wl.name, "pass"):
        return wl.traced_pass(spark, out, tracer)


def end_to_end(setups: list[float], per_pass: list[dict], ops: Ops) -> dict:
    med = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    m = {
        "setup_s": (statistics.median(setups[1:]), "s"),
        "cpu_s": (med["cpu_s"], "s"),
        "peak_rss_mb": (max(p["peak_rss_mb"] for p in per_pass), "MB"),
        "shuffle_mb": (med["shuffle_mb"], "MB"),
        "ok_rate": (1.0 - ops.failed / ops.attempted, "fraction"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, work: str, out_dir: str) -> int:
    import probes

    conf = pin_environment(work, args)
    wl = make_workload(args.workload)
    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    sidecar: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                     "cores": args.cores, "driver_memory": args.driver_memory, "size": args.size}
    t0 = time.perf_counter()
    sidecar["inputs"] = wl.prepare(os.path.join(work, "gen"), args.seed, args.size)
    sidecar["input_gen_s"] = time.perf_counter() - t0

    ops = Ops()
    # whole passes only, as many as fit the window at the workload's
    # nominal pass length, so the count never depends on host speed
    n_passes = max(1, round(args.seconds / wl.nominal_pass_s))
    passes, per_pass, traced, tracer, spark, leaked = [], [], {}, None, None, 0
    with probes.RssSampler() as rss:
        try:
            # a traced run reports no setup_s, so it sets up once
            spark, setups = start_session(wl, conf, args.cores, 1 if args.trace else SETUP_ROUNDS)
            sidecar["setup_rounds_s"] = setups
            totals = probes.SparkTotals(spark)
            if args.trace:
                # the replay takes the place of the pass whose numbers the
                # median reports: after one untraced pass when a run makes
                # several (the median is then a warm pass), else on the
                # cold JVM. A traced run costs about what an untraced one
                # does.
                import tracing

                if n_passes > 1:
                    passes.append(wl.run_pass(spark, os.path.join(work, "warmup"), ops, "warmup."))
                    drop_cached(spark)
                tracer = tracing.Tracer(spark, run_name)
                traced_out = os.path.join(work, "traced")
                os.makedirs(traced_out)
                rdd0 = totals.persisted_rdds()
                traced = ops.run("traced_replay", lambda: _traced(wl, spark, traced_out, tracer)) or {}
                leaked = totals.persisted_rdds() - rdd0
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                if traced:
                    passes.append(traced)
            else:
                for i in range(n_passes):
                    res, pm = timed_pass(wl, spark, totals, rss, work, i, ops)
                    passes.append(res)
                    per_pass.append(pm)
            with contextlib.redirect_stdout(sys.stderr):
                sidecar["observed"] = wl.check(spark, passes, ops)
            app_id = spark.sparkContext.applicationId
        finally:
            if spark is not None:
                stop_session(spark)

    sidecar["passes"] = per_pass
    sidecar["pass_detail"] = [{k: v for k, v in p.items() if k != "frames"} for p in passes]
    sidecar["failures"] = ops.failures
    sidecar["op_seconds"] = ops.seconds
    os.makedirs(out_dir, exist_ok=True)
    if args.trace:
        import layers

        metrics, detail = layers.per_layer(
            wl, tracer, os.path.join(work, "eventlog"), app_id, leaked, traced,
        )
        sidecar["layers"] = detail
        tracer.dump(os.path.join(out_dir, f"{run_name}.trace.json"))
    else:
        metrics = end_to_end(setups, per_pass, ops)
    sidecar["metrics"] = metrics
    with open(os.path.join(out_dir, f"{run_name}.layers.json" if args.trace else f"{run_name}.json"), "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)
    for name, f in ops.failures.items():
        print(f"perfbench: FAILED {name}: {f['error'].strip().splitlines()[-1]}", file=sys.stderr)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: the package {PKG}/ is not beside perfbench/ in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, os.path.join(ROOT, ".bench_out"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
