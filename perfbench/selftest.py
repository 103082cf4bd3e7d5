#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001, a few dozen operations).

    python3 perfbench/selftest.py

Checks that every metric BENCHMARK.json names is emitted with its unit, in
plain and traced runs, that traced runs reconcile, and that the correctness
checks fire: a store that silently drops a row, a store that returns a wrong
read, and a query that returns a wrong result must each raise ``failed``.
Exits 0 when every case holds.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.box import fit_environment, shutdown_jvm  # noqa: E402

SEED = 7
QUERIES = ("tpch_q6_revenue_forecast", "docs_token_freq", "ann_cosine_topk_pandas")


def _tiny_logstore(box, store_cls=None):
    from perfbench.workloads import LogstoreMixed

    wl = LogstoreMixed(box, SEED, store_cls)
    wl.name = "selftest_logstore"
    wl.batch_rows, wl.read_every, wl.count_every, wl.compact_every = 50, 2, 4, 8
    return wl


def _tiny_queries(box, wrong: bool = False):
    from perfbench.workloads import QueryMix

    class WrongResult(QueryMix):
        def run_query(self, name, op=None):
            pdf = super().run_query(name, op)
            return pdf.iloc[:-1] if op is not None and name == QUERIES[0] else pdf

    cls = WrongResult if wrong else QueryMix
    return cls(box, SEED, "selftest_queries", QUERIES, sf=0.001)


def _faulty_stores():
    from arrow_parquet_logs_spark.logstore import LogStore

    class DropRowStore(LogStore):
        """Acknowledges every row but stores one fewer per batch."""

        def write_logs(self, container, session, rows):
            super().write_logs(container, session, rows[1:])
            return len(rows)

    class WrongReadStore(LogStore):
        """Returns reads with one message altered."""

        def read_logs(self, **kwargs):
            out = super().read_logs(**kwargs)
            if out:
                out[0]["message"] += " (altered)"
            return out

    return DropRowStore, WrongReadStore


def main() -> int:
    box = fit_environment(ROOT)
    from perfbench.run import benchmark

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    results: list[tuple[str, bool, str]] = []

    def case(name: str, wl, trace: bool, want_failed: bool) -> None:
        try:
            r = benchmark(wl, box, 0.5, trace)
        except Exception as e:  # a crash is a failed case, reported below
            results.append((name, False, f"{type(e).__name__}: {e}"))
            return
        names = spec["per_layer"] if trace else spec["end_to_end"]
        units_ok = all(r["metrics"].get(m["name"], {}).get("unit") == m["unit"] for m in names)
        exact = set(r["metrics"]) == {m["name"] for m in names}
        fired = (r["failed"] > 0) == want_failed and r["correct"] == (not want_failed)
        ok = units_ok and exact and fired and r["attempted"] > 0
        results.append((name, ok, f"attempted {r['attempted']}, failed {r['failed']}, metrics {len(r['metrics'])}"))

    drop_row, wrong_read = _faulty_stores()
    try:
        case("logstore clean", _tiny_logstore(box), False, False)
        case("logstore dropped row is failed", _tiny_logstore(box, drop_row), False, True)
        case("logstore wrong read is failed", _tiny_logstore(box, wrong_read), False, True)
        case("logstore traced, reconciled", _tiny_logstore(box), True, False)
        case("queries clean", _tiny_queries(box), False, False)
        case("queries wrong result is failed", _tiny_queries(box, wrong=True), False, True)
        case("queries traced, reconciled", _tiny_queries(box), True, False)
    finally:
        shutdown_jvm()
    for name, ok, detail in results:
        print(f"selftest {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    return 0 if all(ok for _, ok, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())
