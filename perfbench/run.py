"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_query --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Runs one seeded, single-client, closed-loop workload against the
package from the checkout this file sits in, checks every output, and
prints one JSON line last on stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full record (timing
summaries, setup breakdown, environment, failures) goes to
``.perfbench_out/<workload>-s<seed>-t<trace>.json`` and, for traced
runs, the spans to a ``.spans.jsonl`` beside it. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUNS_DIR = os.path.join(ROOT, ".perfbench_run")


def _spec() -> dict:
    """Workload and metric names, and metric units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workload_class(name: str):
    if name == "warehouse_query":
        from perfbench.query import QueryWorkload
        return QueryWorkload
    from perfbench.ingest import IngestWorkload
    return IngestWorkload


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


DRIVER_HEAP = "1g"     # the inputs are tens of MB


def _rss_peak_mb() -> float:
    """Peak RSS of this (the Python driver's) process, 0 where unknown."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_pools(spark) -> list:
    """The Spark JVM's memory pools other than eden. Eden fills to its
    size between young collections whatever the program keeps; the old
    generation, survivors, metaspace and code cache hold what it keeps
    and the classes and code it generates."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if "Eden" not in p.getName()]


def reset_peak_memory(spark) -> None:
    """Start the peaks that ``peak_memory_mb`` reads from now: the JVM
    pools' peak usage, and this process's peak RSS (``clear_refs``)."""
    for p in _jvm_pools(spark):
        p.resetPeakUsage()
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_memory_mb(spark) -> dict[str, float]:
    return {"python_rss_mb": _rss_peak_mb(),
            "jvm_pools_mb": sum(p.getPeakUsage().getUsed()
                                for p in _jvm_pools(spark)) / 2**20}


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (``steal`` in /proc/stat), in seconds; 0 where unavailable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


class Context:
    """Everything one run owns: its directories, session and harness."""

    def __init__(self, args):
        self.seed = args.seed
        self.trace = bool(args.trace)
        os.makedirs(RUNS_DIR, exist_ok=True)
        self.run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-",
                                        dir=RUNS_DIR)
        self.local_dir = os.path.join(self.run_dir, "spark-local")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.local_dir)
        os.makedirs(self.tmp_dir)
        self.spark = None
        self.harness = None

    def isolate(self) -> None:
        """Per-run scratch for Spark and Python temp files, and the
        package on the Python workers' path. Must run before the JVM
        starts: the launcher passes this environment on."""
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = None
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def start_session(self, cpus: int) -> float:
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        self.spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.driver.memory", DRIVER_HEAP)
            .config("spark.driver.extraJavaOptions",
                    f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.warehouse.dir", os.path.join(self.run_dir, "spark-warehouse"))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
            .config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session, then the JVM the launcher started, and wait
        for it to exit before removing the run's directories."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def environment(seed: int, cpus: int) -> dict:
    import pyspark

    return {"seed": seed, "nproc": cpus, "python": platform.python_version(),
            "spark": pyspark.__version__, "git_commit": _git_commit(),
            "loadavg_1m_start": os.getloadavg()[0], "steal_s_start": _steal_s()}


def end_to_end(wl, h, setup: dict, session_s: float, measured: dict) -> dict:
    """The untraced run's metrics (BENCHMARK.json ``end_to_end``)."""
    ops = h.timing(wl.op_roles)
    return {
        "setup_s": session_s + setup["build_s"] + setup["warmup_s"],
        "op_p50_s": ops["p50"] if ops else 0.0,
        "op_tail_s": ops["tail"] if ops else 0.0,
        "ops_per_s": ops["n"] / measured["busy_s"] if ops else 0.0,
        "peak_mem_mb": sum(measured["peak_mem"].values()),
    }


def per_layer(wl, h, fin: dict) -> dict:
    """The traced run's metrics: per-op means of every layer over the
    workload's measured ops, plus its storage figures."""
    out = h.layers(wl.measured_roles)
    out.update(fin.get("layers", {}))
    commits = [r for r in h.records if r["kind"] == "commit"]
    out["engine.upsert.failed"] = sum(1 for r in commits if not r["ok"])
    # the IVF-PQ phases: training and encoding inclusive, the search
    # (everything else in the similarity layer) as self time
    for phase, key in (("train", "busy_s"), ("encode", "busy_s"), ("probe", "self_s")):
        out[f"functions.similarity.{phase}_s"] = out.get(
            f"functions.similarity.{phase}.{key}", 0.0)
    ops = h.timing(wl.op_roles)
    out["trace.op_p50_s"] = ops["p50"] if ops else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit tests and exit")
    spec = _spec()
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args(argv)
    if args.self_test:
        import pytest

        os.makedirs(RUNS_DIR, exist_ok=True)
        return pytest.main(["-q", "-p", "no:cacheprovider",
                            f"--basetemp={os.path.join(RUNS_DIR, 'self-test')}",
                            os.path.join(HERE, "tests")])
    if args.workload is None:
        ap.error("--workload is required")

    sys.path.insert(0, ROOT)
    try:  # the package under test must be importable from the checkout
        import metrique_spark  # noqa: F401

        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2

    from perfbench.harness import Harness

    cpus = _cpus()
    env = environment(args.seed, cpus)
    ctx = Context(args)
    ctx.isolate()
    result = None
    try:
        session_s = ctx.start_session(cpus)
        ctx.harness = Harness(ctx.spark, ctx.trace)
        wl = _workload_class(args.workload)(ctx)
        setup = wl.setup()
        reset_peak_memory(ctx.spark)
        measured = wl.measure(args.seconds)
        measured["peak_mem"] = peak_memory_mb(ctx.spark)
        fin = wl.finish()
        ctx.harness.close()
        env["loadavg_1m_end"] = os.getloadavg()[0]
        env["steal_s"] = _steal_s() - env.pop("steal_s_start")
        h = ctx.harness
        failed = len(h.failures)
        detail = {"workload": args.workload, "seconds": args.seconds,
                  "trace": args.trace, "environment": env,
                  "setup": dict(setup, session_s=session_s),
                  "measured": measured, "finish": fin,
                  "roles": {r: h.timing((r,)) for r in sorted({x["role"] for x in h.records})},
                  "workload_metrics": wl.record(h, setup, fin),
                  "attempted": h.attempted, "failed": failed,
                  "failures": h.failures[:50], "op_log": h.records}
        if ctx.trace:
            detail["layers_all"] = per_layer(wl, h, fin)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {k: detail["layers_all"].get(k, 0.0) for k in units}
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            e2e = end_to_end(wl, h, setup, session_s, measured)
            metrics = {k: e2e[k] for k in units}
        detail["metrics"] = metrics
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(detail, f, indent=1, default=str)
        if ctx.trace:
            ctx.harness.tracer.dump(stem + ".spans.jsonl")
        for line in h.failures[:20]:
            print(f"perfbench: FAILED {line}", file=sys.stderr)
        print(json.dumps({"environment": env}), file=sys.stderr)
        result = {"correct": failed == 0, "attempted": h.attempted, "failed": failed,
                  "metrics": {k: {"value": float(v), "unit": units[k]}
                              for k, v in metrics.items()}}
    finally:
        ctx.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
