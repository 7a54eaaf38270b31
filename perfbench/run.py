"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Workloads: ``extract``, ``extract_resume``, ``corpus_queries`` (see
``perfbench/workloads.py``).  The session runs on ``local[nproc]``; all
inputs are generated from ``--seed``; every output is checked.  With
``--trace 0`` the metrics are the end-to-end ones (medians over the
measured jobs); with ``--trace 1`` they are the per-layer ones, and a line
naming the workload's dominant layer is printed before the result.

Everything the run writes stays under ``.bench_work/`` (scratch, removed at
exit) and ``.bench_cache/`` (DuckDB oracle results) in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARD_LIMIT_S = 170  # a run that reaches this is aborted without a result
# the first corpus_queries run in a checkout also computes the DuckDB
# oracle results (about 30 s on 4 cores); it is listed first in
# BENCHMARK.json so that this run is the one allowed to take longer
FIRST_RUN_LIMIT_S = 850


def _isolate_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the repository's packages."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )


def _stamp(cores: int, seed: int) -> dict:
    """What the numbers were measured on."""
    def run(cmd):
        try:
            return subprocess.run(cmd, capture_output=True, text=True,
                                  cwd=ROOT, timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            return None

    git = run(["git", "rev-parse", "HEAD"])
    java = run(["java", "-version"])
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    # a checkout without .git still names its source by content
    source = hashlib.sha256()
    for f in sorted([ROOT / "__spark_entry__.py",
                     *(ROOT / "doctor_spark").rglob("*.py")]):
        source.update(f.read_bytes())
    return {
        "git_sha": git.stdout.strip() if git and git.returncode == 0 else None,
        "source_sha256": source.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java.stderr.splitlines()[0] if java and java.stderr else None,
        "seed": seed,
    }


def _stop_jvm() -> None:
    """Wait for the JVM that PySpark launched (it takes the Python daemon
    and workers down with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract", "extract_resume", "corpus_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    ap.add_argument("--inject", choices=("golden", "oracle"), default=None,
                    help="corrupt one golden byte or one oracle row, to show "
                         "that the output checks catch it")
    args = ap.parse_args(argv)

    if not (ROOT / "doctor_spark").is_dir() or not (
            ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no doctor_spark source next to {ROOT / 'perfbench'}",
              file=sys.stderr)
        return 2

    def abort(signum, frame):
        raise TimeoutError("run exceeded its time limit")

    oracles = ROOT / ".bench_cache" / "oracles"
    cold_cache = args.workload == "corpus_queries" and not (
        oracles.is_dir() and any(oracles.iterdir()))
    signal.signal(signal.SIGALRM, abort)
    signal.alarm(FIRST_RUN_LIMIT_S if cold_cache else HARD_LIMIT_S)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate_environment(work)
    sys.path.insert(0, str(ROOT))

    from perfbench.workloads import SIZES, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              work, ROOT / ".bench_cache", SIZES[args.size], args.inject)
    try:
        result = run.execute()
    finally:
        _stop_jvm()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    stamp = _stamp(run.cores, args.seed)
    if args.trace:
        print(result["dominant_layer"])
        traces = ROOT / ".bench_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"stamp": stamp, "spans": run.tracer.spans,
                        "metrics": {k: v for k, (v, _) in
                                    result["metrics"].items()}}, indent=1))
    record = {
        "stamp": stamp,
        "workload": args.workload,
        "walls_s": result.get("walls_s"),
        "phases_s": run.phases,
    }
    print("record " + json.dumps(record))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
