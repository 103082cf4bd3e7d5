"""From operation records, set-up samples and the event log to named metrics.

Latency statistics count every operation, wrong or not, so a failure does not
change which operations a median is taken over; failures are reported through
``failed`` / ``attempted`` and ``failed_op_frac``.
"""

from __future__ import annotations

import math
import statistics

from perfbench.ops import Op
from perfbench.tracing import GroupStats


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def _key(op: Op) -> str:
    return op.name if op.kind == "query" else op.kind


def per_kind_medians(ops: list[Op]) -> dict[str, float]:
    walls: dict[str, list[float]] = {}
    for op in ops:
        walls.setdefault(_key(op), []).append(op.wall)
    return {k: median(v) for k, v in walls.items()}


def end_to_end(ops: list[Op], setups: list[tuple[float, float]]) -> dict[str, float]:
    return {
        "setup_s": median(a + b for a, b in setups),
        "op_geomean_ms": geomean(per_kind_medians(ops).values()) * 1e3,
        "ops_per_s": len(ops) / sum(op.wall for op in ops),
    }


def workload_level(wl, ops: list[Op], failed: int, attempted: int) -> dict[str, float]:
    """The workload's own user-facing figures (printed on every run)."""
    def walls(kind):
        return [op.wall for op in ops if op.kind == kind]

    pass_walls = getattr(wl, "pass_walls", [])
    queries = {k: v for k, v in per_kind_medians(ops).items() if k in wl.queries}
    model = getattr(wl, "model", None)
    return {
        "write_p50_ms": median(walls("write")) * 1e3,
        "read_p50_ms": median(walls("read")) * 1e3,
        "read_p90_ms": percentile(walls("read"), 90) * 1e3,
        "compact_p50_s": median(walls("compact")),
        "ingest_rows_per_s": sum(op.attrs.get("rows", 0) for op in ops if op.ok and op.kind == "write")
        / sum(op.wall for op in ops),
        "stored_bytes_per_input_byte": wl.live_bytes / model.json_bytes if model and model.json_bytes else 0.0,
        "mix_s": median(pass_walls),
        "query_geomean_s": geomean(queries.values()),
        "failed_op_frac": failed / attempted,
    }


def per_layer(
    wl,
    ops: list[Op],
    groups: dict[str, GroupStats],
    setups: list[tuple[float, float]],
    cores: int,
    all_queries: tuple[str, ...],
) -> dict[str, float]:
    """Layer metrics of the traced window. Counts and times are per
    operation unless the name says otherwise; a layer the workload does not
    reach reads 0."""
    empty = GroupStats()
    g = {op.seq: groups.get(op.group, empty) for op in ops}
    n = max(1, len(ops))
    writes = [op for op in ops if op.kind == "write"]
    reads = [op for op in ops if op.kind == "read"]
    compacts = [op for op in ops if op.kind == "compact"]
    queries = [op for op in ops if op.kind == "query"]
    covered = {op.seq: g[op.seq].covered_s(op.t0, op.t1) for op in ops}
    scan_tasks = sum(s.scan_tasks for s in g.values())
    tasks = sum(s.tasks for s in g.values())
    shares = [x for s in g.values() for x in s.scan_shares]
    run_s = sum(s.run_s for s in g.values())
    in_bytes = sum(op.attrs.get("input_bytes", 0) for op in writes)
    written = sum(op.attrs.get("bytes", 0) for op in writes + compacts)

    def per_op(f) -> float:
        return sum(f(s) for s in g.values()) / n

    out = {
        "session.start_s": median(a for a, _ in setups),
        "session.warmup_s": median(b for _, b in setups),
        "store.validate_rows.s": median(op.attrs.get("store.validate_rows.s", 0.0) for op in writes),
        "store.write_logs.s": median(op.wall for op in writes),
        "store.write_logs.bytes": mean(op.attrs.get("bytes", 0) for op in writes),
        "store.read_df.s": median(op.attrs.get("store.read_df.s", 0.0) for op in reads),
        "store.read_logs.collect_s": median(op.wall - op.attrs.get("store.read_df.s", 0.0) for op in reads),
        "store.read.files": mean(op.attrs.get("files", 0) for op in reads),
        "store.read.rows": mean(op.attrs.get("rows", 0) for op in reads),
        "store.read.jobs": mean(len(g[op.seq].jobs) for op in reads),
        "store.read.tasks": mean(g[op.seq].tasks for op in reads),
        "store.compact.s": median(op.wall for op in compacts),
        "store.compact.input_files": mean(op.attrs.get("input_files", 0) for op in compacts),
        "store.compact.bytes_rewritten": mean(op.attrs.get("bytes", 0) for op in compacts),
        "store.compact.jobs": mean(len(g[op.seq].jobs) for op in compacts),
        "store.written_bytes_per_input_byte": written / in_bytes if in_bytes else 0.0,
        "tables.load_s": mean(op.attrs.get("tables.load_s", 0.0) for op in ops),
        "scan.tasks": scan_tasks / n,
        "scan.tasks_with_rows_frac": sum(s.scan_tasks_with_rows for s in g.values()) / scan_tasks if scan_tasks else 0.0,
        "scan.max_task_share": mean(shares),
        "scan.input_bytes": per_op(lambda s: s.scan_bytes),
        "queries.plan_s": mean(op.plan or 0.0 for op in queries),
        "driver_s": mean(op.wall - covered[op.seq] for op in ops),
        "spark.jobs": per_op(lambda s: len(s.jobs)),
        "spark.stages": per_op(lambda s: len(s.stages)),
        "spark.tasks": tasks / n,
        "spark.tasks_with_rows_frac": sum(s.tasks_with_rows for s in g.values()) / tasks if tasks else 0.0,
        "spark.executor_run_s": run_s / n,
        "spark.gc_s": per_op(lambda s: s.gc_s),
        "spark.shuffle_read_bytes": per_op(lambda s: s.shuffle_read),
        "spark.shuffle_write_bytes": per_op(lambda s: s.shuffle_write),
        "spark.spill_bytes": per_op(lambda s: s.spill),
        "spark.peak_exec_memory_bytes": max((s.peak_mem for s in g.values()), default=0),
        "spark.core_util": run_s / (sum(covered.values()) * cores) if sum(covered.values()) else 0.0,
        "python.to_worker_bytes": per_op(lambda s: s.py_sent),
        "python.from_worker_bytes": per_op(lambda s: s.py_recv),
        "python.run_s": per_op(lambda s: s.py_run_s),
        "python.init_s": per_op(lambda s: s.py_init_s),
    }
    for name in all_queries:
        mine = [op for op in queries if op.name == name]
        out[f"q.{name}.wall_s"] = median(op.wall for op in mine)
        out[f"q.{name}.plan_s"] = median(op.plan or 0.0 for op in mine)
        out[f"q.{name}.executor_run_s"] = median(g[op.seq].run_s for op in mine)
    return out
