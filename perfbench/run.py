"""Benchmark of the tube ETL end to end.

One run, for one workload and seed:

1. generate (or reuse) the seeded commons — props-JSON ``node_*`` /
   ``edge_*`` tables, dictionary JSON and etlMapping YAML (``gen.py``);
2. set the program up ``SETUPS`` times — ``session.get_spark``, which
   launches the JVM, ``dictionary_from_json_schemas``,
   ``parse_mappings_yaml`` and ``validate_mapping`` — stopping Spark and
   its JVM between set-ups (``setup_s`` is their median);
3. run the public entry point ``tube_spark.run.main --force`` once on the
   fresh JVM (``first_etl_s``), then again until ``--seconds`` have
   passed and at least ``MIN_WARM`` more runs were made (``etl_s`` is
   their median);
4. after every ETL run, check every published index against the DuckDB
   oracle (``oracle.py``); an exception, a non-zero return code or a
   mismatch counts the run as failed.

With ``--trace 1`` the run instead times calls into each layer's public
functions and prints the per-layer metrics (``layers.py``).

Usage::

    python3 perfbench/run.py --workload commons_full --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit).
"""

from __future__ import annotations

import argparse
import contextlib
import io
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
WORK = os.path.join(HERE, ".work")
SETUPS = 2
MIN_WARM = 2
# many_indexes runs on request but is not in BENCHMARK.json: with this
# engine its runs do not fit the benchmark's time budget next to the other two
WORKLOADS = ("commons_full", "sqoop_csv_wide", "many_indexes")


def machine() -> dict:
    """Deployment settings that fit this machine, and what was seen."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    mem_gib = mem_kb / 2**20
    # the engine's 24g default heap can exceed physical memory; a quarter
    # of it leaves room for the Python side, DuckDB and other tenants
    heap_gib = max(2, min(24, int(mem_gib // 4)))
    return {"nproc": cpus, "mem_gib": round(mem_gib, 1), "heap_gib": heap_gib,
            "loadavg": list(os.getloadavg())}


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe_s() -> float:
    """Seconds a fixed single-threaded loop takes: how fast this machine
    runs right now (printed with the results, not a metric)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def spark_conf(trace_dir: str | None) -> dict[str, str]:
    """Session settings the harness adds: quiet UI and scratch space inside
    the checkout; the event log only in the traced run."""
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
    }
    if trace_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + trace_dir
        conf["spark.eventLog.compress"] = "false"
    return conf


class Program:
    """The paths one ETL run reads and writes, and the calls into the engine."""

    def __init__(self, inputs: str, out_dir: str, seed: int, conf: dict[str, str]):
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.inputs = inputs
        self.out_dir = out_dir
        self.conf = conf
        self.argv = [
            "--mapping", os.path.join(inputs, "etlMapping.yaml"),
            "--source-dir", os.path.join(inputs, "graph"),
            "--out-dir", out_dir,
            "--source-format", self.manifest["format"],
            "--dictionary", os.path.join(inputs, "dictionary.json"),
            "--watermark", f"seed-{seed}",
        ]
        self.spark = None
        self.dictionary = None
        self.mappings = None

    def setup(self) -> float:
        """Session, dictionary, mappings and validation; seconds taken."""
        from tube_spark import dictionary, session
        from tube_spark.config import mapping, validate

        t0 = time.perf_counter()
        self.spark = session.get_spark("tube_spark-etl", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        with open(os.path.join(self.inputs, "dictionary.json")) as f:
            self.dictionary = dictionary.dictionary_from_json_schemas(json.load(f))
        with open(os.path.join(self.inputs, "etlMapping.yaml")) as f:
            self.mappings = mapping.parse_mappings_yaml(f.read())
        problems = [p for m in self.mappings
                    for p in validate.validate_mapping(m, self.dictionary)]
        dt = time.perf_counter() - t0
        if problems:
            raise ValueError(f"generated mapping is invalid: {problems}")
        return dt

    def etl(self, force: bool = True) -> tuple[float, int]:
        """One call of ``tube_spark.run.main``; (seconds, return code)."""
        from tube_spark import run

        argv = self.argv + (["--force"] if force else [])
        with contextlib.redirect_stdout(io.StringIO()):
            t0 = time.perf_counter()
            rc = run.main(argv)
            dt = time.perf_counter() - t0
        return dt, rc

    def after_etl(self) -> None:
        """Drop what one forced run cached, so the next one recomputes
        (``Pipeline`` caches cross-joined indexes and nothing unpersists
        them; a later run with the same plan would read the cache)."""
        self.spark.catalog.clearCache()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def index_mb(out_dir: str, names: list[str]) -> float:
    """On-disk size of the current version of every published index."""
    from oracle import current_version

    total = 0
    for name in names:
        path = current_version(out_dir, name)
        if path is None:
            continue
        for dirpath, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


class Runs:
    """ETL runs with their oracle verdicts."""

    def __init__(self, program: Program, oracle):
        self.program = program
        self.oracle = oracle
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.sizes: list[float] = []

    def one(self) -> float | None:
        """Run the ETL once and check it; seconds, or None when it failed."""
        self.attempted += 1
        try:
            dt, rc = self.program.etl()
        except Exception as e:  # noqa: BLE001 — a failed run is a measured outcome
            traceback.print_exc()
            dt, rc = None, repr(e)
        finally:
            self.program.after_etl()
        if rc == 0:
            problems = self.oracle.check(self.program.out_dir)
            self.sizes.append(index_mb(self.program.out_dir,
                                       [m.name for m in self.program.mappings]))
        else:
            problems = [f"run.main ended with {rc}"]
        if problems:
            self.failed += 1
            self.problems += problems
            print(f"ETL run {self.attempted} failed: {problems}", file=sys.stderr)
            return None
        return dt


def report(metrics: dict[str, tuple[float, str, int]], correct: bool, runs: Runs,
           extra: dict) -> None:
    for k, v in extra.items():
        print(f"# {k}: {json.dumps(v)}")
    for name, (value, unit, n) in metrics.items():
        print(f"{name:28s} {value:12.4f} {unit:6s} n={n}")
    print(json.dumps({
        "correct": correct,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tube_spark", "run.py")):
        print("tube_spark is not next to perfbench/: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    from oracle import Oracle

    box = machine()
    os.environ["SPARK_GRAFT_CPUS"] = str(box["nproc"])
    os.environ["SPARK_GRAFT_MEM"] = f"{box['heap_gib']}g"
    os.environ["TMPDIR"] = os.path.join(WORK, "spark-local")

    cpu0, probe0 = cpu_times(), cpu_probe_s()
    inputs = gen.generate(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "indexes")
    trace_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    program = Program(inputs, out_dir, args.seed, spark_conf(trace_dir))
    oracle = Oracle(inputs)
    runs = Runs(program, oracle)
    extra = {"machine": box, "inputs": {
        "rows": program.manifest["rows"], "mb": round(program.manifest["input_mb"], 2),
        "format": program.manifest["format"], "subjects": program.manifest["subjects"]}}
    try:
        if args.trace:
            from layers import traced_run

            metrics = traced_run(program, runs, run_dir)
        else:
            metrics = measure(program, runs, args.seconds)
    finally:
        program.stop()
        oracle.close()
    if runs.problems:
        extra["problems"] = runs.problems[:10]
    extra["loadavg_after"] = list(os.getloadavg())
    # time the hypervisor gave this machine's CPUs to others: runs slowed
    # by a noisy neighbour show up here, not in the engine
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    extra["cpu_steal_pct"] = round(100 * delta[7] / max(1, sum(delta)), 2)
    extra["cpu_probe_s"] = [round(probe0, 3), round(cpu_probe_s(), 3)]
    extra["error_rate"] = runs.failed / max(1, runs.attempted)
    report(metrics, runs.failed == 0, runs, extra)
    return 0 if runs.failed == 0 else 1


def measure(program: Program, runs: Runs, seconds: float) -> dict:
    setups = []
    for i in range(SETUPS):
        if i:
            program.stop()
        setups.append(program.setup())
    first = runs.one()
    warm: list[float] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(warm) < MIN_WARM:
        dt = runs.one()
        if dt is not None:
            warm.append(dt)
        if runs.failed > MIN_WARM:
            break  # repeated failures: the verdict is known, stop within the time limit
    sizes = runs.sizes or [float("nan")]
    print(f"# setup_s: {setups}\n# warm_etl_s: {warm}")
    return {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "first_etl_s": (first if first is not None else float("nan"), "s", 1),
        "etl_s": (statistics.median(warm) if warm else float("nan"), "s", len(warm)),
        "index_mb": (statistics.median(sizes), "MB", len(runs.sizes)),
    }


if __name__ == "__main__":
    sys.exit(main())
