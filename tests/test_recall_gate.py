"""The learned-index rows' shared recall gate (queries.vectorq._recall_gate):
hit counting, the asserted bound on the exact frame, no cache left behind,
and the IVF-PQ row clearing its gate on generated corpora."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from arrow_parquet_logs_spark.queries import REGISTRY
from arrow_parquet_logs_spark.queries.vectorq import _recall_gate

_GATE_ROWS = ("ann_ivf_kmeans", "ann_pq_rerank", "ann_ivfpq_search")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "q_id long, vec_id long")


def test_recall_gate_counts_hits(spark):
    exact = _pairs(spark, [(q, q * 10 + i) for q in (1, 2, 3) for i in range(5)])
    approx = _pairs(
        spark,
        [(1, 10), (1, 91), (1, 92), (1, 93), (1, 94)]  # 1 hit
        + [(2, 20), (2, 24), (2, 95), (2, 96), (2, 97)],  # 2 hits; query 3 absent
    )
    got = {r.q_id: r.recall_ok for r in _recall_gate(approx, exact, 5, 3).collect()}
    assert got == {1: False, 2: True, 3: False}


def test_recall_gate_rejects_exact_over_bound(spark):
    exact = _pairs(spark, [(1, 10 + i) for i in range(6)])
    with pytest.raises(ValueError, match="bound"):
        _recall_gate(_pairs(spark, [(1, 10)]), exact, 5, 1)


def test_recall_gate_rows_leave_no_cache(spark, sf_dir):
    from arrow_parquet_logs_spark.plans.inspect import explain_str

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    plans = {}
    for name in _GATE_ROWS:
        df = REGISTRY[name].fn(spark, sf_dir)
        rows = df.collect()
        assert len(rows) == 10 and all(r.recall_ok for r in rows), (name, rows)
        plans[name] = explain_str(df)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
    for name, plan in plans.items():
        assert "InMemoryTableScan" not in plan, (name, plan)
        assert "LocalTableScan" in plan, (name, plan)  # the collected exact side


def _gen_scale_data():
    path = Path(__file__).resolve().parents[1] / "tools" / "gen_scale_data.py"
    spec = importlib.util.spec_from_file_location("gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.gen


@pytest.mark.scale
@pytest.mark.parametrize("seed", [1, 3, 13])
def test_ivfpq_search_recall_on_generated_sf002(spark, tmp_path, seed):
    """The generated sf0.02 corpora on which the row once failed its gate
    for one query (nprobe 4 of 16, rerank max(50, n/100))."""
    out = tmp_path / f"sf0.02_s{seed}"
    _gen_scale_data()(0.02, str(out), seed)
    rows = REGISTRY["ann_ivfpq_search"].fn(spark, str(out)).collect()
    assert len(rows) == 10 and all(r.recall_ok for r in rows), rows
