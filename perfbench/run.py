"""Benchmark entry point.

    python3 perfbench/run.py --workload study_refresh --seed 1 \
        --seconds 10 --trace 0

Runs from the repository root. Generates the workload's inputs for the
seed (once; cached under perfbench/.work/inputs), then runs the workload
in a fresh process with the environment pinned for a small box: at most
4 Spark cores, a 2 GiB JVM heap, the repository root on PYTHONPATH for
Spark's Python workers, and every scratch directory inside
perfbench/.work. The last line of standard output is one JSON object:
correct, attempted, failed and metrics (the end-to-end metrics of
BENCHMARK.json, or with --trace 1 its per-layer ones). Per-layer spans
and counters of a traced run are written to
perfbench/.work/traces/<workload>-seed<n>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "configurable_etl_python_repo_spark"

WORKLOADS = ("study_refresh", "analytic_programs", "corpus_curation")
CORES = 4
HEAP = "2g"
KEEP_SEEDS = 12         # cached input sets kept per workload
DEADLINE_S = 175.0      # the whole run, generation excluded


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of BENCHMARK.json's "end_to_end" or "per_layer"."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def environment() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    cores = max(1, min(CORES, os.cpu_count() or 1))
    # every Spark knob the session factory reads from the environment is
    # set here, so the caller's environment cannot change what is measured
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in env.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # the launcher JVM spark-submit starts first: no perf-data file
        # in the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_UI": "false",
    })
    env.pop("SPARK_MASTER", None)
    return env


def inputs_for(workload: str, seed: int) -> str:
    """The cached input set for (workload, seed), generated on first use.
    A set counts as complete once its manifest exists."""
    import gen

    base = os.path.join(WORK, "inputs", workload)
    out = os.path.join(base, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.generate(workload, seed, tmp)
    os.rename(tmp, out)
    sets = sorted((os.path.getmtime(os.path.join(base, d)), d)
                  for d in os.listdir(base) if d.startswith("seed-"))
    for _, d in sets[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return out


def spawn(args: list[str], env: dict, deadline: float) -> int:
    """Run one worker process in its own process group; kill the group
    if it outlives the deadline."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py")]
                            + args, env=env, cwd=WORK, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return fail(f"package {PACKAGE!r} not found under {ROOT}")
    sys.path.insert(0, HERE)
    inputs = inputs_for(a.workload, a.seed)

    env = environment()
    run_dir = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = time.time() + DEADLINE_S

    out = os.path.join(run_dir, "result.json")
    rc = spawn(["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--inputs", inputs, "--work", os.path.join(run_dir, "w"),
                "--trace-dir", os.path.join(WORK, "traces"),
                "--out", out, "--t0", repr(time.time())], env, deadline)
    if rc != 0:
        return fail(f"worker exited with {rc}")
    with open(out) as f:
        res = json.load(f)

    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {k: {"value": res[kind][k], "unit": u}
               for k, u in metric_units(kind).items()}
    for p in res["problems"]:
        print(f"perfbench: oracle mismatch: {p}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"],
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
