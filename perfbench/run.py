"""Warm-pass benchmark of the signs ETL and near-duplicate clustering.

    python3 perfbench/run.py --workload signs_etl --seed 1 --seconds 10 --trace 0

One process, one Spark session, one client: after the warm-up passes,
passes run back to back (a closed loop) until ``--seconds`` have passed.
Every pass is checked against generator-known truth. The last stdout line
is one JSON object; ``--trace 0`` reports the end-to-end metrics and
``--trace 1`` the per-layer ones. See README.md for the metric list.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import fields
from pathlib import Path

import gen
from probes import (
    SparkCounters, SparkWork, Tracer, host_cpu_ticks, peak_rss_mb, process_tree, reset_peak_rss, tree_cpu_s,
)

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK_DIR = ROOT / ".perfbench"  # inputs, Spark scratch and temp files
KEEP_INPUT_DIRS = 6  # cached (workload, seed, size) inputs kept, newest first
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
# The first pass in a fresh JVM runs 2-4x slower than a warm one, and the
# JIT keeps improving for about four more passes; the median of at least
# four timed passes drops the slow first one.
WARMUP_PASSES = 3
MIN_TIMED_PASSES = 4
SETTLE_S = 0.3  # lets the ContextCleaner drop the last pass's checkpoints

# Per-layer metrics of the traced run, by the span that measures them.
TIMED_SPANS = (
    "sources.rest.fetch", "sources.geojson.to_df", "operators.signs.transform",
    "operators.dedup.pairs", "operators.graph.cc",
)
SPAN_WORK = (
    ("operators.signs", "operators.signs.transform", ("task_cpu_s",)),
    ("operators.dedup", "operators.dedup.pairs", ("stages", "task_cpu_s", "shuffle_write_mb", "spill_mb")),
    ("operators.graph", "operators.graph.cc", ("jobs", "stages", "shuffle_write_mb")),
)
WORK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
    "task_run_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
}
LAYER_COUNTS = (
    "sources.rest.pages", "sources.rest.features", "operators.signs.rows_in",
    "operators.signs.rows_out", "sinks.http.posts", "sinks.http.features_posted",
    "sinks.http.post_failures", "operators.dedup.pairs", "operators.graph.components",
)


def inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate the workload's inputs in a child process, once per
    (workload, seed, size); kept outside every timed interval."""
    root = WORK_DIR / "inputs"
    path = root / f"{workload}-{seed}-{gen.SIZES[workload]}"
    if not (path / "expected.json").exists():
        root.mkdir(parents=True, exist_ok=True)
        tmp = Path(tempfile.mkdtemp(dir=root, prefix=".tmp-"))
        subprocess.run([sys.executable, str(BENCH_DIR / "gen.py"), workload, str(seed), str(tmp)], check=True)
        shutil.rmtree(path, ignore_errors=True)
        tmp.rename(path)
    path.touch()
    for old in sorted(root.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)[KEEP_INPUT_DIRS:]:
        shutil.rmtree(old, ignore_errors=True)
    return str(path), json.loads((path / "expected.json").read_text())


def confine_to_checkout() -> None:
    """Point every scratch location of Python, Spark and its workers inside
    the checkout, and put the repo and this directory on the workers' path."""
    tmp = WORK_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK_DIR / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH_DIR)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # no hsperfdata files in the system temp dir, from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until every process
    they started has ended."""
    from pyspark import SparkContext

    spark.stop()
    started = set(process_tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


class Run:
    def __init__(self, spark, workload: str, in_dir: str, expected: dict):
        from workloads import PASSES

        self.spark = spark
        self.pass_fn = PASSES[workload]
        self.in_dir, self.expected = in_dir, expected
        self.counters = SparkCounters(spark)
        self.attempted = self.failed = 0

    def one_pass(self, traced: bool) -> dict:
        """Run and check one pass; return its measurements."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)
        tracer = Tracer(self.counters if traced else None)
        reset_peak_rss()
        mark, cpu0, steal0, t0 = self.counters.mark(), tree_cpu_s(), host_cpu_ticks(), time.perf_counter()
        ok = True
        try:
            self.pass_fn(self.spark, self.in_dir, self.expected, tracer)
        except Exception:
            traceback.print_exc()
            ok = False
        wall, cpu, rss = time.perf_counter() - t0, tree_cpu_s() - cpu0, peak_rss_mb()
        steal, ticks = (b - a for a, b in zip(steal0, host_cpu_ticks()))
        self.attempted += 1
        self.failed += not ok
        print(f"pass {self.attempted} traced={int(traced)} ok={int(ok)} wall_s={wall:.3f} "
              f"cpu_s={cpu:.2f} rss_mb={rss:.0f} host_steal={steal / max(ticks, 1):.1%}", file=sys.stderr, flush=True)
        return {"wall": wall, "cpu": cpu, "rss": rss, "work": self.counters.since(mark), "tracer": tracer}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(untraced: list[dict], traced: list[dict], start_s: float, warmup_s: float) -> dict:
    tracers = [p["tracer"] for p in traced]

    def walls(span: str) -> list[float]:
        return [t.spans.get(span, (0.0, None))[0] for t in tracers]

    def work(span: str, field: str) -> float:
        return _median(getattr(t.spans.get(span, (0.0, SparkWork()))[1], field) for t in tracers)

    m = {"session.start_s": (start_s, "s"), "session.warmup_s": (warmup_s, "s")}
    for span in TIMED_SPANS:
        m[f"{span}_s"] = (_median(walls(span)), "s")
    # the sink runs the transform again; the noop-write span is the transform
    m["sinks.http.load_s"] = (
        _median(s - t for s, t in zip(walls("sinks.http.sink"), walls("operators.signs.transform"))), "s"
    )
    for name in LAYER_COUNTS:
        m[name] = (_median(t.counts.get(name, 0) for t in tracers), "count")
    rows_in = m["operators.signs.rows_in"][0]
    m["operators.signs.explode_ratio"] = (m["operators.signs.rows_out"][0] / rows_in if rows_in else 0.0, "ratio")
    for prefix, span, names in SPAN_WORK:
        for name in names:
            m[f"{prefix}.{name}"] = (work(span, name), WORK_UNITS[name])
    for f in fields(SparkWork):
        m[f"spark.{f.name}"] = (_median(getattr(p["work"], f.name) for p in untraced), WORK_UNITS[f.name])
    m["spark.non_task_cpu_s"] = (_median(p["cpu"] - p["work"].task_cpu_s for p in untraced), "s")
    m["trace.overhead_s"] = (_median(p["wall"] for p in traced) - _median(p["wall"] for p in untraced), "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import etl_cotrip_signs_spark  # noqa: F401  fails fast when the program is missing

    in_dir, expected = inputs(args.workload, args.seed)
    confine_to_checkout()
    from etl_cotrip_signs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.workload, in_dir, expected)
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            run.one_pass(traced=False)
        warmup_s = time.perf_counter() - t0
        untraced, traced = [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or len(untraced) < MIN_TIMED_PASSES:
            untraced.append(run.one_pass(traced=False))
            if args.trace:
                traced.append(run.one_pass(traced=True))
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = layer_metrics(untraced, traced, start_s, warmup_s)
    else:
        metrics = {
            "wall_s": (_median(p["wall"] for p in untraced), "s"),
            "cpu_s": (_median(p["cpu"] for p in untraced), "s"),
            "setup_s": (start_s + warmup_s, "s"),
            "driver_peak_rss_mb": (_median(p["rss"] for p in untraced), "MB"),
        }
    print(f"timed passes: {len(untraced)} untraced, {len(traced)} traced; "
          f"failed_ratio={run.failed / run.attempted:.3f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
