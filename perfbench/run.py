"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload logs_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached under ``.bench_work/data``); generation and output checks are
never timed. Each workload is a closed loop with one client: a pass
starts only after the previous one finished. Spark runs at ``local[N]``,
N = the cores this process may use.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: JVM launch + ``get_spark()`` + first trivial action +
  config loading, done three times (the JVM is relaunched in between),
  median;
- ``cold_s``: the first pass in the freshly launched session;
- ``warm_s``: median of the later passes (after two unmeasured warm-up
  passes: at least three, until ``--seconds`` of warm passes have run);
- ``records_per_s``: input records / ``warm_s``.

``--trace 1`` runs a cold, two warm-up and three measured untraced
passes, then traced passes for half of ``--seconds`` (at least one), and
prints the per-layer metrics
(medians over traced passes; layers a workload bypasses read 0), and
``session.peak_rss_mb``, the peak resident memory (``VmHWM``) of this
Python process plus the driver JVM after the untraced passes. The
spans go to ``.bench_work/trace/<workload>-<seed>.spans.jsonl`` and the
per-layer table to ``.bench_work/trace/<workload>-<seed>.layers.md``.

Every pass's output is checked against an oracle; a pass that raises or
fails its check counts in ``failed``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
SETUPS = 3
#: passes after the cold one that still run JIT-cold code; not measured
WARMUP = 2
MIN_WARM = 3
#: stop starting passes once a run has used this much wall time
RUN_LIMIT_S = 150
#: datasets kept in the input cache
CACHE_KEEP = 4

E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "records_per_s": "1/s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData' pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))


def prune_cache(data_root: Path, keep: Path) -> None:
    sets = sorted(
        (d for d in data_root.iterdir() if d.is_dir() and d != keep),
        key=lambda d: d.stat().st_mtime,
    )
    for d in sets[: max(0, len(sets) - (CACHE_KEEP - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def launch(workload) -> tuple[object, float]:
    """One full set-up: JVM launch, session, first trivial action, config."""
    from cassandra_slow_queries_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    workload.load_config()
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and its JVM, so the next launch starts cold."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    total = 0
    for pid in (os.getpid(), SparkContext._gateway.proc.pid):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total += int(line.split()[1])
    return total / 1024


class Loop:
    """Closed loop of passes, with per-pass checks and storage release
    outside the timed region."""

    def __init__(self, spark, workload, label: str):
        self.spark, self.workload, self.label = spark, workload, label
        self.attempted = self.failed = 0
        self.times: list[float] = []
        self.pinned: list[int] = []
        self.problems: list[str] = []

    def one(self) -> float | None:
        from cassandra_slow_queries_spark.session import release_entry_storage
        from workloads import pinned_blocks

        self.attempted += 1
        tag = f"{self.label}-{self.attempted}"
        try:
            t0 = time.perf_counter()
            out = self.workload.run(self.spark, tag)
            elapsed = time.perf_counter() - t0
            problems = self.workload.check(out)
        except Exception:
            elapsed, problems = None, [traceback.format_exc(limit=3)]
        self.pinned.append(pinned_blocks(self.spark))
        release_entry_storage(self.spark)
        gc.collect()  # drop this pass's frames before the next one starts
        if problems:
            self.failed += 1
            self.problems += problems
            print(f"pass {tag} FAILED: {problems[0]}", file=sys.stderr)
            return None
        self.times.append(elapsed)
        print(f"pass {tag}: {elapsed:.3f} s", file=sys.stderr)
        return elapsed


def make_workload(name: str, seed: int):
    import gen
    from workloads import DocWorkload, LogWorkload

    data_root = WORK / "data"
    data, truth = gen.generate(data_root, name, seed)
    os.utime(data)
    prune_cache(data_root, data)
    cls = LogWorkload if truth["kind"] == "logs" else DocWorkload
    return cls(data, truth, WORK / "out"), truth["n_records"]


def run_e2e(args, workload, n_records: int, started: float) -> tuple[dict, Loop]:
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            shutdown(spark)
        spark, s = launch(workload)
        setups.append(s)
    loop = Loop(spark, workload, "e2e")
    cold = loop.one()
    for _ in range(WARMUP):
        loop.one()
    warm_start = time.perf_counter()
    warm: list[float] = []
    while len(warm) < MIN_WARM or time.perf_counter() - warm_start < args.seconds:
        if loop.failed >= 3 or time.perf_counter() - started > RUN_LIMIT_S:
            break
        t = loop.one()
        if t is not None:
            warm.append(t)
    metrics = {"setup_s": statistics.median(setups)}
    if cold is not None:
        metrics["cold_s"] = cold
    if warm:
        metrics["warm_s"] = statistics.median(warm)
        metrics["records_per_s"] = n_records / metrics["warm_s"]
    print(
        f"samples: setup {len(setups)}, cold 1, warm-up {WARMUP}, warm {len(warm)}; "
        f"passes failed {loop.failed}/{loop.attempted}",
        file=sys.stderr,
    )
    return metrics, loop


def run_traced(args, workload, name: str, seed: int, started: float) -> tuple[dict, Loop]:
    from cassandra_slow_queries_spark.session import release_entry_storage
    from spans import Tracer
    from workloads import LAYER_METRICS

    spark, _ = launch(workload)
    loop = Loop(spark, workload, "untraced")
    for _ in range(1 + WARMUP + MIN_WARM):
        loop.one()
    warm = loop.times[1 + WARMUP :]
    warm_s = statistics.median(warm) if warm else None
    rss = peak_rss_mb()  # before tracing adds its own materializations
    tracer = Tracer(spark, f"{name}-{seed}")
    samples: list[dict] = []
    t0 = time.perf_counter()
    while not samples or time.perf_counter() - t0 < args.seconds / 2:
        if time.perf_counter() - started > RUN_LIMIT_S:
            break
        loop.attempted += 1
        try:
            samples.append(workload.traced(spark, tracer, f"traced-{len(samples)}"))
        except Exception:
            loop.failed += 1
            loop.problems.append(traceback.format_exc(limit=3))
            print(f"traced pass FAILED: {loop.problems[-1]}", file=sys.stderr)
            break
        finally:
            release_entry_storage(spark)
    metrics = {k: 0.0 for k in LAYER_METRICS}
    for key in samples[0] if samples else ():
        metrics[key] = statistics.median(s[key] for s in samples)
    if loop.pinned:
        metrics["session.pinned_blocks"] = statistics.median(loop.pinned)
    metrics["session.peak_rss_mb"] = rss
    if warm_s and samples:
        metrics["trace.overhead_ratio"] = metrics["trace.span_sum_s"] / warm_s
    metrics.pop("trace.span_sum_s", None)
    out = WORK / "trace"
    tracer.dump(out / f"{name}-{seed}.spans.jsonl")
    write_layer_table(out / f"{name}-{seed}.layers.md", name, seed, metrics, LAYER_METRICS, len(samples))
    return metrics, loop


def write_layer_table(path: Path, name, seed, metrics, units, n) -> None:
    lines = [
        f"# per-layer metrics: {name}, seed {seed}, local[{cores()}], {n} traced pass(es)",
        "",
        "| metric | value | unit |",
        "|---|---|---|",
    ]
    lines += [f"| {k} | {metrics[k]:.6g} | {units[k]} |" for k in units]
    path.write_text("\n".join(lines) + "\n")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "cassandra_slow_queries_spark").is_dir():
        print(f"no product package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    started = time.perf_counter()
    prepare_env()
    workload, n_records = make_workload(args.workload, args.seed)
    if args.trace:
        from workloads import LAYER_METRICS

        metrics, loop = run_traced(args, workload, args.workload, args.seed, started)
        units = LAYER_METRICS
    else:
        metrics, loop = run_e2e(args, workload, n_records, started)
        units = E2E_UNITS
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        shutdown(active)
    shutil.rmtree(WORK / "out", ignore_errors=True)
    for k in units:
        if k in metrics:
            print(f"{k} {metrics[k]:.6g} {units[k]}")
    print(f"cores {cores()}; failed_ratio {loop.failed}/{loop.attempted}")
    result = {
        "correct": loop.failed == 0 and all(k in metrics for k in units),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
