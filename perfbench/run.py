#!/usr/bin/env python3
"""The repository benchmark, one workload per call.

    python3 perfbench/run.py --workload logstore_mixed --seed 1 --seconds 10 --trace 0

Runs from the checkout root. The workload's inputs come from ``--seed``. The
session is set up twice, each time from a freshly launched JVM (start plus
engine warm-up; ``setup_s`` is the median), the workload primes every
operation once (one untimed pass over the queries, or one cycle on a scratch
store) so its code is compiled, then one client drives a closed loop of
whole rounds for about ``--seconds``. Outputs are checked against the
workload's own model or the DuckDB oracle after the window. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``.
``--trace 1`` runs the window in two halves, each on a restarted and
primed context: first traced (Spark's event log and layer timers on), then
untraced. The workload is reset between them, so both halves run the same
operations on the same state. It reports the per-layer metrics of the traced
half, and the tracing overhead as traced minus untraced ``op_geomean_ms``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 2


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


class Run:
    """One benchmark run: set-ups, window(s), checks, metrics."""

    def __init__(self, wl):
        self.wl = wl
        self.setups: list[tuple[float, float]] = []
        self.seq = itertools.count(1)
        self.spark = None
        self.phases: list[tuple[str, float]] = []  # wall per step, for the log

    def phase(self, name: str, t0: float) -> None:
        self.phases.append((name, time.perf_counter() - t0))

    def setup(self) -> None:
        """A cold set-up, as a new user process sees it: session start plus
        engine warm-up. The JVM of any earlier set-up is shut down first, so
        every sample launches one."""
        from perfbench.box import shutdown_jvm, start_session
        from perfbench.workloads import warm_engine

        self.stop()
        shutdown_jvm()
        t0 = time.perf_counter()
        self.spark = start_session()
        t1 = time.perf_counter()
        self.wl.bind(self.spark)
        warm_engine(self.spark)
        self.setups.append((t1 - t0, time.perf_counter() - t1))
        self.phase("setup", t0)

    def restart(self, eventlog_dir=None, probe=None) -> None:
        """A new context in the running JVM, warmed up and primed, but not a
        set-up sample: the event log is switched here, and both halves of a
        traced run start from the same engine state."""
        from perfbench.box import start_session
        from perfbench.workloads import warm_engine

        t0 = time.perf_counter()
        self.stop()
        self.spark = start_session(eventlog_dir)
        self.wl.bind(self.spark, probe)
        warm_engine(self.spark)
        self.wl.prime()
        self.phase("restart", t0)

    def prime(self) -> None:
        t0 = time.perf_counter()
        self.wl.prime()
        self.phase("prime", t0)

    def verify(self) -> None:
        t0 = time.perf_counter()
        self.wl.verify()
        self.phase("verify", t0)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def window(self, seconds: float, min_rounds: int, probe=None):
        """Whole rounds of the workload: at least ``min_rounds``, then more
        while the next (as long as the last) still ends within ``seconds``.
        A window never ends mid-round, so every window has the same
        operation mix."""
        from perfbench.ops import Recorder

        t0 = time.perf_counter()
        rec = Recorder(self.spark, self.seq, probe)
        rounds, last = 0, 0.0
        while rounds < min_rounds or time.perf_counter() - t0 + last <= seconds:
            r0 = time.perf_counter()
            self.wl.run_round(rec)
            rounds, last = rounds + 1, time.perf_counter() - r0
        self.phase("window", t0)
        return rec.ops


def _outcome(wl, ops) -> tuple[int, int]:
    failed = sum(not op.ok for op in ops) + sum(not ok for _, ok, _ in wl.checks)
    return failed, len(ops) + len(wl.checks)


def _report(run: Run, ops) -> None:
    from perfbench.metrics import per_kind_medians

    print("steps: " + ", ".join(f"{name} {s:.1f} s" for name, s in run.phases))
    print("median ms: " + ", ".join(f"{k} {v * 1e3:.1f}" for k, v in per_kind_medians(ops).items()))
    for op in ops:
        if not op.ok:
            print(f"failed: {op.kind} {op.name}: {op.error}")


def measure(wl, box, seconds: float, trace: bool, all_queries) -> tuple[dict, dict, int, int]:
    """Returns (metrics for the JSON line, workload-level figures, failed, attempted)."""
    from perfbench import metrics
    from perfbench.box import fresh_dir, peak_rss_mb
    from perfbench.tracing import LayerProbe, read_event_log, reconcile, spans, write_spans

    run = Run(wl)
    try:
        for _ in range(SETUPS):
            run.setup()
        if not trace:
            run.prime()
            ops = run.window(seconds, wl.min_rounds)
            run.verify()
            failed, attempted = _outcome(wl, ops)
            figures = metrics.workload_level(wl, ops, failed, attempted)
            _report(run, ops)
            return metrics.end_to_end(ops, run.setups), figures, failed, attempted
        evdir = fresh_dir(os.path.join(box.work, "eventlog"))
        probe = LayerProbe()
        run.restart(evdir, probe)
        probe.install()
        try:
            traced = run.window(seconds / 2, 1, probe)
        finally:
            probe.uninstall()
        rss = peak_rss_mb()
        wl.reset()
        run.restart()  # stops the traced context, which flushes its event log
        plain = run.window(seconds / 2, 1)
        run.verify()
        run.stop()
        groups = read_event_log(evdir)
        reconcile(traced, groups)
        tree = spans(wl.name, traced, groups)
        os.makedirs(os.path.join(box.work, "trace"), exist_ok=True)
        path = os.path.join(box.work, "trace", f"{wl.name}-seed{wl.seed}.jsonl")
        write_spans(path, tree)
        print(f"spans: {len(tree)} written to {os.path.relpath(path, box.root)}")
        failed, attempted = _outcome(wl, plain + traced)
        figures = metrics.workload_level(wl, plain, failed, attempted)
        layer = metrics.per_layer(wl, traced, groups, run.setups, box.cpus, all_queries)
        layer["peak_rss_mb"] = rss
        layer.update(figures)
        geo = [metrics.geomean(metrics.per_kind_medians(o).values()) * 1e3 for o in (plain, traced)]
        layer["trace.overhead_ms"] = geo[1] - geo[0]
        _report(run, plain + traced)
        return layer, figures, failed, attempted
    finally:
        run.stop()


def benchmark(wl, box, seconds: float, trace: bool) -> dict:
    """Prepare, measure, check and print one workload; returns the result
    object of the last output line (``ReconciliationError`` if a traced
    run does not add up)."""
    from perfbench.workloads import ANALYTICS_QUERIES, LLM_QUERIES

    spec = _spec()
    layer_units = _units(spec["per_layer"])  # the workload figures are per-layer metrics
    units = layer_units if trace else _units(spec["end_to_end"])
    gen_s = wl.prepare()
    print(
        f"workload {wl.name} seed {wl.seed}: {box.cpus} cores, heap {box.heap_gb} GB of "
        f"{box.mem_total_gb:.1f} GB, data generated in {gen_s:.2f} s (not in setup_s)"
    )
    values, figures, failed, attempted = measure(wl, box, seconds, trace, LLM_QUERIES + ANALYTICS_QUERIES)
    for check, ok, detail in wl.checks:
        print(f"check {check}: {'ok' if ok else 'FAILED'} ({detail})")
    for name, v in figures.items():
        if v or name == "failed_op_frac":
            print(f"{name:44s} {v:16.4f} {layer_units[name]}")
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics missing from the run: {sorted(missing)}")
    for name in sorted(set(values) - set(units)):
        if values[name]:  # e.g. per-query rows of a workload BENCHMARK.json does not list
            print(f"{name:44s} {values[name]:16.4f} (not in BENCHMARK.json)")
    out = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    for name, m in out.items():
        if name not in figures and m["value"]:  # a layer the workload does not reach reads 0
            print(f"{name:44s} {m['value']:16.4f} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None) -> int:
    args = _parse(argv)
    for need in ("arrow_parquet_logs_spark", "tools/gen_scale_data.py", "tests/parity.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing from {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.box import fit_environment, shutdown_jvm

    box = fit_environment(ROOT)
    from perfbench.tracing import ReconciliationError
    from perfbench.workloads import WORKLOADS, make_workload

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    try:
        result = benchmark(make_workload(args.workload, box, args.seed), box, args.seconds, bool(args.trace))
    except ReconciliationError as e:
        print(f"perfbench: trace does not reconcile: {e}", file=sys.stderr)
        return 1
    finally:
        shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
