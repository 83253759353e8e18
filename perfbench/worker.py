"""One benchmark process: start a SparkSession, run one workload in a
closed loop for the requested seconds, check its outputs against the
oracle, and write the measurements as JSON. ``run.py`` launches it with
the environment pinned; run that instead of this file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import subprocess
import sys
import time
import traceback

from probes import (
    Tracer, group_counters, median, tree_files, vm_hwm_mb, written_since,
)


def start_session(work: str):
    """The package's own session factory, with every scratch location
    pointed into ``work`` (and no JVM perf-data file in the system temp
    dir) and status retention raised so per-step counters survive a
    whole run. The heap is fixed at its maximum size with a fixed young
    generation: G1's adaptive heap and young sizing made peak RSS swing
    by a quarter between identical runs."""
    from configurable_etl_python_repo_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Xmn512m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class Ctx:
    """What workloads call back into: the session, the tracer, and step
    bookkeeping. Every step, stage and isolated materialization runs
    under its own Spark job group so status-store counters can be
    attributed to it afterwards."""

    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer
        self.steps: list[dict] = []
        self.units: list[str] = []     # step/stage job groups this round
        self.rows = 0
        self._n = 0
        self._groups: list[str] = []

    @contextlib.contextmanager
    def _group(self, kind: str, name: str):
        self._n += 1
        group = f"{kind}{self._n}:{name}"
        sc = self.spark.sparkContext
        self._groups.append(group)
        sc.setJobGroup(group, name)
        try:
            yield group
        finally:
            self._groups.pop()
            if self._groups:
                sc.setJobGroup(self._groups[-1], self._groups[-1])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def run_step(self, name: str, fn) -> None:
        """One step of the closed loop; a failure is recorded, reported
        with its traceback, and the loop goes on."""
        t0 = time.perf_counter()
        ok, rows = True, 0
        with self._group("step", name) as group:
            self.units.append(group)
            try:
                with self.tracer.span("step", step=name):
                    rows = fn() or 0
            except Exception:
                traceback.print_exc()
                ok = False
        self.steps.append({"name": name, "ok": ok,
                           "latency_s": time.perf_counter() - t0,
                           "traced": self.tracer.enabled})
        self.rows += rows

    @contextlib.contextmanager
    def stage(self, name: str):
        """A timed part of a round that is not a step (corpus stages)."""
        with self._group("stage", name) as group:
            self.units.append(group)
            with self.tracer.span(name):
                yield

    @contextlib.contextmanager
    def isolated(self, name: str):
        """Traced-only extra work: its own span and job group, excluded
        from the step counters."""
        with self._group("iso", name):
            with self.tracer.span(name, isolated=True):
                yield

    def record_plan(self, counts: dict) -> None:
        for k, v in counts.items():
            self.tracer.count(f"plans.{k}", v)

    def add_rows(self, n: int) -> None:
        self.rows += n


def workload_class(name: str):
    if name == "study_refresh":
        from study import StudyRefresh
        return StudyRefresh
    if name == "analytic_programs":
        from analytic import AnalyticPrograms
        return AnalyticPrograms
    if name == "corpus_curation":
        from corpus import CorpusCuration
        return CorpusCuration
    raise ValueError(f"unknown workload {name!r}")


def run(args, spark, setup_s: float) -> dict:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-{os.getpid()}")
    ctx = Ctx(spark, tracer)
    with open(os.path.join(args.inputs, "manifest.json")) as f:
        manifest = json.load(f)
    wl = workload_class(args.workload)(ctx, args.inputs, args.work, manifest)

    # an untraced run measures whole rounds until --seconds have passed
    # and the workload's minimum round count is reached. A traced run
    # measures two untraced rounds and then a traced one: the tracing
    # overhead compares the traced round with the second untraced round,
    # both past the JVM warm-up and both on stores earlier rounds filled
    schedule = [False, False, True] if args.trace else []
    rounds, unit_counters = [], []
    t_start = time.perf_counter()
    rnd = 0
    while True:
        if args.trace:
            if rnd == len(schedule):
                break
            tracer.enabled = schedule[rnd]
        elif rnd >= wl.MIN_ROUNDS and \
                time.perf_counter() - t_start >= args.seconds:
            break
        before = {d: tree_files(d) for d in wl.storage_dirs()}
        ctx.units, rows0, in0 = [], ctx.rows, wl.input_bytes
        t0 = time.perf_counter()
        wl.run_round(rnd)
        wall = time.perf_counter() - t0
        landed = sum(written_since(before.get(d, {}), tree_files(d))[0]
                     for d in wl.storage_dirs())
        per_unit = [group_counters(spark, u) for u in ctx.units]
        if tracer.enabled:
            unit_counters.extend(per_unit)
        shuffle = sum(c["shuffle_write_bytes"] + c["spill_bytes"]
                      for c in per_unit)
        rounds.append({"wall_s": wall, "rows": ctx.rows - rows0,
                       "input_bytes": wl.input_bytes - in0,
                       "written_bytes": landed + shuffle,
                       "traced": tracer.enabled})
        rnd += 1
    tracer.enabled = False
    measured_s = time.perf_counter() - t_start

    pid = jvm_pid()
    peak_rss = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(pid) if pid else 0.0)
    live, logical = wl.space()
    t_check = time.perf_counter()
    try:
        problems = wl.check()
    except Exception as e:
        traceback.print_exc()
        problems = [f"check raised {type(e).__name__}: {e}"]

    attempted = len(ctx.steps)
    failed = min(attempted, sum(not s["ok"] for s in ctx.steps)
                 + len(problems))
    plain = [r for r in rounds if not r["traced"]]
    plain_steps = [s for s in ctx.steps if not s["traced"]]
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "rounds": rounds,
        "steps": ctx.steps,
        "measured_s": measured_s,
        "check_s": time.perf_counter() - t_check,
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": median(r["wall_s"] for r in plain),
            "rows_per_s": median(r["rows"] / r["wall_s"] for r in plain),
            "step_p50_s": median(s["latency_s"] for s in plain_steps),
            "peak_rss_mb": peak_rss,
            "write_amp": sum(r["written_bytes"] for r in plain)
            / max(1, sum(r["input_bytes"] for r in plain)),
            "space_amp": live / max(1, logical),
            "ok_share": 1.0 - failed / max(1, attempted),
        },
    }
    if args.trace:
        overhead = rounds[2]["wall_s"] - rounds[1]["wall_s"]
        result["per_layer"] = per_layer(tracer, unit_counters, overhead,
                                        setup_s, cores)
        os.makedirs(args.trace_dir, exist_ok=True)
        with open(os.path.join(
                args.trace_dir, f"{args.workload}-seed{args.seed}.json"),
                "w") as f:
            json.dump({**tracer.dump(), "per_layer": result["per_layer"]}, f)
    return result


def per_layer(tracer: Tracer, units: list[dict], overhead_s: float,
              setup_s: float, cores: int) -> dict:
    """Per-layer numbers from the traced round: span durations (median
    per call), counters (median per occurrence), and status-store
    counters (median per step or stage). The tracing overhead is the
    traced round's wall time minus the preceding untraced round's."""
    def span(name):
        return median(tracer.durations(name))

    def counter(name, agg=median):
        vals = tracer.counters.get(name, [])
        return agg(vals) if vals else 0.0

    def unit(key):
        return median(u[key] for u in units)

    admission = tracer.net_durations(
        lambda sp: sp.name == "step"
        and sp.attrs.get("step", "").startswith("admission"))
    busy = [u["task_s"] / (u["exec_s"] * cores) for u in units
            if u["exec_s"] > 0]
    return {
        "session.start_s": setup_s,
        "config.parse_s": span("config.parse"),
        "plans.build_s": span("plans.build"),
        "plans.ops": counter("plans.ops"),
        "plans.exchanges": counter("plans.exchanges"),
        "plans.broadcasts": counter("plans.broadcasts"),
        "plans.sort_merge_joins": counter("plans.sort_merge_joins"),
        "plans.python_evals": counter("plans.python_evals"),
        "operators.exec_s": unit("exec_s"),
        "operators.busy_share": median(busy),
        "operators.jobs": unit("jobs"),
        "operators.stages": unit("stages"),
        "operators.tasks": unit("tasks"),
        "operators.shuffle_write_bytes": unit("shuffle_write_bytes"),
        "operators.spill_bytes": unit("spill_bytes"),
        "operators.input_bytes": unit("input_bytes"),
        "operators.failed_tasks": sum(u["failed_tasks"] for u in units),
        "sources.bronze_read_s": span("sources.bronze_read"),
        "sources.bronze_rows": counter("sources.bronze_rows"),
        "ingest.batch_s": span("ingest.batch"),
        "ingest.bytes_written": counter("ingest.bytes_written"),
        "ingest.files_written": counter("ingest.files_written"),
        "txlog.merge_s": span("txlog.merge"),
        "txlog.bytes_written": counter("txlog.bytes_written"),
        "txlog.rows_written_per_row_changed":
            counter("txlog.rows_written_per_row_changed"),
        "txlog.read_s": span("txlog.read"),
        "txlog.snapshot_dirs": counter("txlog.snapshot_dirs"),
        "txlog.commits": counter("txlog.commits", max),
        "text.quality_s": span("text.quality"),
        "dedup.lsh_s": span("dedup.lsh"),
        "dedup.candidate_pairs": counter("dedup.candidate_pairs"),
        "dedup.true_pairs_per_candidate":
            counter("dedup.true_pairs_per_candidate"),
        "index.build_s": span("index.build"),
        "index.probe_s": span("index.probe"),
        "index.extend_s": span("index.extend"),
        "index.maintain_s": span("index.maintain"),
        "index.segments": counter("index.segments"),
        "index.bytes": counter("index.bytes"),
        "admission.epoch_s": median(admission),
        "admission.admitted_share": counter("admission.admitted_share"),
        "trace.overhead_s": overhead_s,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs")
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-dir")
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock time the launcher spawned this process")
    args = ap.parse_args()

    spark = start_session(args.work)
    setup_s = time.time() - args.t0
    try:
        result = run(args, spark, setup_s)
        with open(args.out, "w") as f:
            json.dump(result, f)
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
