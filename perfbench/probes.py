"""Stdlib-only measurement helpers: spans, Spark status-store counters,
executed-plan operator counts, peak memory from /proc, and storage sizes.

Nothing here changes what the program computes; the helpers only read
what the program and Spark already expose.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time
from dataclasses import dataclass, field

# -- spans -----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing; the
    benchmark toggles ``enabled`` per round so untraced rounds pay only a
    no-op context manager."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.counters: dict[str, list[float]] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.setdefault(name, []).append(float(value))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def net_durations(self, pred) -> list[float]:
        """Durations of the spans matching ``pred``, minus the time their
        isolated (traced-only) descendants cover."""
        out = []
        for i, sp in enumerate(self.spans):
            if not pred(sp):
                continue
            iso = [(d.start, d.end) for d in self.spans[i + 1:]
                   if d.attrs.get("isolated") and self._descends(d, i)]
            out.append(sp.end - sp.start - _union_length(iso))
        return out

    def _descends(self, sp: Span, ancestor: int) -> bool:
        p = sp.parent
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p].parent
        return False

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval that child spans cover."""
        covered = [0.0] * len(self.spans)
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for i, kids in children.items():
            covered[i] = _union_length([(k.start, k.end) for k in kids])
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered[i]
        return out

    def dump(self) -> dict:
        st = self.self_times()
        return {
            "run_id": self.run_id,
            "spans": [
                {"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id, **s.attrs}
                for i, s in enumerate(self.spans)
            ],
            "self_time_s": st,
            "counters": self.counters,
        }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# -- Spark status store ----------------------------------------------------------

STAGE_FIELDS = ("tasks", "failed_tasks", "task_s", "input_bytes",
                "shuffle_write_bytes", "spill_bytes")


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, task time, shuffle/spill/input bytes and
    failed tasks of every job run under one job group, read from Spark's
    own status tracker and status store. ``exec_s`` is the union of the
    stages' submit-to-complete intervals."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = {k: 0.0 for k in ("jobs", "stages") + STAGE_FIELDS}
    intervals = []
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            seq = store.stageData(int(sid), False, no_status, False,
                                  no_quantiles)
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1000.0,
                                      done.get().getTime() / 1000.0))
    out["exec_s"] = _union_length(intervals)
    return out


# -- executed plans ----------------------------------------------------------------

_PLAN_PATTERNS = {
    "exchanges": re.compile(r"\bExchange (hashpartitioning|rangepartitioning|"
                            r"roundrobinpartitioning|SinglePartition)"),
    "broadcasts": re.compile(r"\bBroadcastExchange\b"),
    "sort_merge_joins": re.compile(r"\bSortMergeJoin\b"),
    "python_evals": re.compile(r"\b(BatchEvalPython|ArrowEvalPython|"
                               r"FlatMapGroupsInPandas|MapInPandas|"
                               r"MapInArrow|FlatMapCoGroupsInPandas|"
                               r"AggregateInPandas|WindowInPandas)\b"),
}
_PLAN_NODE = re.compile(r"^[\s:|+-]*(\*\(\d+\)\s*)?[A-Z][A-Za-z]+")


def materialize(df) -> tuple[int, dict[str, int]]:
    """Run ``df``'s own query execution to completion without output (a
    noop sink whose final adaptive plan stays readable) and return
    (rows, operator counts of the executed plan)."""
    qe = df._jdf.queryExecution()
    rows = int(qe.toRdd().count())
    return rows, plan_counts(qe.executedPlan().toString())


def plan_counts(plan: str) -> dict[str, int]:
    """Operator counts of the final adaptive plan (the initial plan is
    dropped: AQE may have replaced its joins at run time)."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
    counts = {k: len(p.findall(plan)) for k, p in _PLAN_PATTERNS.items()}
    counts["ops"] = sum(1 for line in plan.splitlines()
                        if _PLAN_NODE.match(line))
    return counts


# -- memory and storage ------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that landed between two tree_files snapshots: new
    files and files rewritten in place."""
    nbytes = nfiles = 0
    for p, meta in after.items():
        if before.get(p) != meta:
            nbytes += meta[0]
            nfiles += 1
    return nbytes, nfiles


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in tree_files(root).values())
