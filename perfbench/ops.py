"""Operation records: one timed call into the system, with its Spark job group."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: job groups the benchmark sets outside timed operations; any other group
#: in the event log must belong to exactly one operation
SETUP_GROUP = "perfbench-setup"
IDLE_GROUP = "perfbench-idle"
CHECK_GROUP = "perfbench-check"


@dataclass
class Op:
    seq: int
    kind: str  # write | read | count | compact | query
    name: str  # query name, or the store method
    group: str
    t0: float = 0.0  # epoch seconds (same clock as the event log)
    t1: float = 0.0
    wall: float = 0.0  # seconds
    plan: float | None = None  # seconds before the execute span, if split
    ok: bool = True
    error: str | None = None
    attrs: dict = field(default_factory=dict)  # layer counters
    _p0: float = 0.0

    def mark_plan(self) -> None:
        """End the plan span here; the rest of the operation is execute."""
        self.plan = time.perf_counter() - self._p0

    def fail(self, why: str) -> None:
        if self.ok:
            self.ok, self.error = False, why


class Recorder:
    """Closed-loop operation log for one window.

    Each operation runs under its own Spark job group, so the event log can
    attribute every job, stage and task to it. An exception inside an
    operation marks it failed; the loop goes on.
    """

    def __init__(self, spark, seq, probe=None):
        self.sc = spark.sparkContext
        self.seq = seq  # itertools.count shared by every window of a run
        self.probe = probe  # tracing.LayerProbe during the traced window
        self.ops: list[Op] = []
        self.sc.setJobGroup(IDLE_GROUP, "between operations", False)

    @contextmanager
    def op(self, kind: str, name: str):
        seq = next(self.seq)
        op = Op(seq, kind, name, f"perfbench-op-{seq}")
        self.sc.setJobGroup(op.group, f"{kind} {name}", False)
        if self.probe is not None:
            self.probe.current = op
        op.t0 = time.time()
        op._p0 = time.perf_counter()
        try:
            yield op
        except Exception as e:  # a failed call is a measured outcome, not a crash
            op.fail(f"{type(e).__name__}: {e}")
        finally:
            op.wall = time.perf_counter() - op._p0
            op.t1 = time.time()
            self.sc.setJobGroup(IDLE_GROUP, "between operations", False)
            if self.probe is not None:
                self.probe.current = None
            self.ops.append(op)
