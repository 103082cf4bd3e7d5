"""Traced window: layer timers around public package functions, Spark's own
event log, the span tree, and the reconciliation that must hold between them.

Span order: workload → operation → plan / execute → Spark job → stage. Spans
are kept in memory and written out as JSON lines when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.ops import CHECK_GROUP, SETUP_GROUP, Op

#: slack between the Python clock around an operation and the JVM's job
#: timestamps (the same system clock, but stamped in whole milliseconds on
#: another thread); jobs are seen 3 ms or more inside their operation
CLOCK_SLACK_S = 0.02


class ReconciliationError(RuntimeError):
    """The trace does not account for the measured wall time."""


class LayerProbe:
    """Timing wrappers around the package's public functions.

    Installed for the traced window only and removed after it. A wrapper adds
    its time to the current operation's ``attrs[key]``; a call nested inside
    another wrapped call (``load_tables`` → ``load_table``) counts once.
    """

    TABLE_FUNCS = ("load_table", "load_tables", "load_events_range")

    def __init__(self):
        self.current: Op | None = None
        self._depth = 0
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, fn, key: str):
        def timed(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                op = self.current
                if op is not None:
                    op.attrs[key] = op.attrs.get(key, 0.0) + time.perf_counter() - t

        return timed

    def install(self) -> None:
        import arrow_parquet_logs_spark.logstore.store as store_mod
        import arrow_parquet_logs_spark.sources.tables as tables_mod

        self._patch(store_mod, "validate_rows", store_mod.validate_rows, "store.validate_rows.s")
        originals = {id(getattr(tables_mod, f)): f for f in self.TABLE_FUNCS}
        # queries import the loaders by name, so patch every module-level alias
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("arrow_parquet_logs_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if originals.get(id(value)) == attr:
                    self._patch(mod, attr, value, "tables.load_s")

    def _patch(self, mod, attr: str, fn, key: str) -> None:
        self._undo.append((mod, attr, fn))
        setattr(mod, attr, self.wrap(fn, key))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()


# ------------------------------------------------------------ event log

@dataclass
class GroupStats:
    """Everything the event log says about one job group."""

    jobs: list[tuple[int, float, float]] = field(default_factory=list)  # (id, start s, end s)
    stages: list[dict] = field(default_factory=list)
    tasks: int = 0
    tasks_with_rows: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    peak_mem: int = 0
    py_sent: int = 0
    py_recv: int = 0
    py_run_s: float = 0.0
    py_init_s: float = 0.0
    scan_tasks: int = 0
    scan_tasks_with_rows: int = 0
    scan_bytes: int = 0
    scan_shares: list[float] = field(default_factory=list)

    def covered_s(self, lo: float, hi: float) -> float:
        """Wall time inside [lo, hi] during which at least one job ran."""
        spans = sorted((max(a, lo), min(b, hi)) for _, a, b in self.jobs)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


_PY_ACCUMS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_init_s",
}


def read_event_log(eventlog_dir: str) -> dict[str, GroupStats]:
    """Parse the (uncompressed, possibly rolled) JSON event log by job group."""
    files = sorted(glob.glob(os.path.join(eventlog_dir, "*", "events_*"))) or sorted(
        f for f in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(f)
    )
    if not files:
        raise ReconciliationError(f"no event log under {eventlog_dir}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stage_info: dict[int, dict] = {}
    tasks_by_stage: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"] / 1e3}
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stage_info[si["Stage ID"]] = {
                        "id": si["Stage ID"],
                        "name": si.get("Stage Name", ""),
                        "start": si.get("Submission Time", 0) / 1e3,
                        "end": si.get("Completion Time", 0) / 1e3,
                        "tasks": si.get("Number of Tasks", 0),
                    }
                elif kind == "SparkListenerTaskEnd":
                    _add_task(out, stage_group.get(e["Stage ID"]), e, tasks_by_stage)
    for jid, j in jobs.items():
        out[j["group"]].jobs.append((jid, j["start"], j.get("end", j["start"])))
    for sid, info in stage_info.items():
        out[stage_group.get(sid)].stages.append(info)
        recs = tasks_by_stage.get(sid, [])
        if any(b > 0 for b, _, _ in recs):  # a stage that reads input files
            g = out[stage_group.get(sid)]
            g.scan_tasks += len(recs)
            g.scan_tasks_with_rows += sum(1 for _, r, _ in recs if r > 0)
            total = sum(r for _, r, _ in recs)
            if total:
                g.scan_shares.append(max(r for _, r, _ in recs) / total)
    return dict(out)


def _add_task(out, group, e, tasks_by_stage) -> None:
    m = e.get("Task Metrics") or {}
    g = out[group]
    g.tasks += 1
    inp = m.get("Input Metrics", {})
    srd = m.get("Shuffle Read Metrics", {})
    swr = m.get("Shuffle Write Metrics", {})
    in_bytes, in_rows = inp.get("Bytes Read", 0), inp.get("Records Read", 0)
    rows = in_rows + srd.get("Total Records Read", 0)
    out_rows = 0
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == "number of output rows":
            out_rows += int(acc.get("Update") or 0)
        elif name in _PY_ACCUMS:
            attr = _PY_ACCUMS[name]
            v = int(acc.get("Update") or 0)
            setattr(g, attr, getattr(g, attr) + (v / 1e3 if attr.endswith("_s") else v))
    if rows > 0 or out_rows > 0:
        g.tasks_with_rows += 1
    g.run_s += m.get("Executor Run Time", 0) / 1e3
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    g.shuffle_read += srd.get("Local Bytes Read", 0) + srd.get("Remote Bytes Read", 0)
    g.shuffle_write += swr.get("Shuffle Bytes Written", 0)
    g.spill += m.get("Disk Bytes Spilled", 0)
    g.peak_mem = max(g.peak_mem, m.get("Peak Execution Memory", 0))
    g.scan_bytes += in_bytes
    tasks_by_stage[e["Stage ID"]].append((in_bytes, in_rows, rows))


def reconcile(ops: list[Op], groups: dict[str, GroupStats]) -> None:
    """Fail loudly unless the event log (JVM clock) and the operation spans
    (Python clock) agree: every job belongs to an operation or to set-up and
    checks, each operation's jobs run inside it, and each job of a query runs
    inside one of its plan and execute spans. A job that crosses from plan
    into execute means ``plan_s`` and ``exec_s`` do not split the query's
    wall time the way its jobs do."""
    known = {op.group for op in ops} | {SETUP_GROUP, CHECK_GROUP}
    stray = {g: len(s.jobs) for g, s in groups.items() if s.jobs and g not in known}
    if stray:
        raise ReconciliationError(f"jobs outside any operation, set-up or check: {stray}")
    for op in ops:
        g = groups.get(op.group)
        if g is None:
            continue
        mid = None if op.plan is None else op.t0 + op.plan
        for jid, a, b in g.jobs:
            if a < op.t0 - CLOCK_SLACK_S or b > op.t1 + CLOCK_SLACK_S:
                raise ReconciliationError(
                    f"job {jid} of {op.kind} {op.name} ran {a - op.t0:+.3f}..{b - op.t1:+.3f} s "
                    "outside the operation"
                )
            if mid is not None and a < mid - CLOCK_SLACK_S and b > mid + CLOCK_SLACK_S:
                raise ReconciliationError(
                    f"job {jid} of {op.kind} {op.name} runs across the plan/execute boundary: "
                    f"plan_s {op.plan:.3f} + exec_s {op.wall - op.plan:.3f} do not split its wall time"
                )


def spans(workload: str, ops: list[Op], groups: dict[str, GroupStats]) -> list[dict]:
    """The span tree of the traced window, parents before children."""
    out: list[dict] = []

    def add(name, start, end, parent, **attrs):
        out.append({"id": len(out), "parent": parent, "name": name, "start": start, "end": end, **attrs})
        return len(out) - 1

    if not ops:
        return out
    root = add(f"workload {workload}", ops[0].t0, ops[-1].t1, None)
    for op in ops:
        o = add(f"{op.kind} {op.name}", op.t0, op.t1, root, group=op.group, ok=op.ok, **op.attrs)
        phases = [(None, op.t0, op.t1, o)]
        if op.plan is not None:
            mid = op.t0 + op.plan
            phases = [
                ("plan", op.t0, mid, add("plan", op.t0, mid, o)),
                ("execute", mid, op.t1, add("execute", mid, op.t1, o)),
            ]
        g = groups.get(op.group)
        if g is None:
            continue
        stage_by_job = _stages_by_job(g)
        for jid, a, b in sorted(g.jobs, key=lambda j: j[1]):
            parent = next((p for _, lo, hi, p in phases if lo - CLOCK_SLACK_S <= a < hi), phases[-1][3])
            j = add(f"job {jid}", a, b, parent)
            for st in stage_by_job.get(jid, []):
                add(f"stage {st['id']}", st["start"], st["end"], j, tasks=st["tasks"], label=st["name"])
    return out


def _stages_by_job(g: GroupStats) -> dict[int, list[dict]]:
    """Assign each completed stage to the job whose interval contains it."""
    out: dict[int, list[dict]] = defaultdict(list)
    for st in sorted(g.stages, key=lambda s: s["start"]):
        for jid, a, b in g.jobs:
            if a - 0.01 <= st["start"] <= b + 0.01:
                out[jid].append(st)
                break
    return out


def write_spans(path: str, rows: list[dict]) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r, default=str) + "\n")
