"""The slack≥2 all-pairs scorer's two regimes must be identical.

Round 7 added a tiny-corpus floor to `_all_pairs_blocked`
(operators/dedup.py): at n ≤ 2·block_rows the corpus skips the block-pair
machinery (broadcast pair frame, 2× row replication) and runs one
triangular BLAS group. This pins single-block ≡ multi-block on the same
corpus — same pairs, same rounded cosines — so the floor can never drift
from the bounded-memory regime the sf10 runs verified.
"""

from __future__ import annotations

import numpy as np
import pytest

from arrow_parquet_logs_spark.operators.dedup import (
    _all_pairs_blocked,
    embedding_dup_pairs,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(500, 8))
    rows = [(i, [float(v) for v in X[i]]) for i in range(500)]
    # a couple of exact duplicates and one zero vector (drops: no direction)
    rows.append((500, rows[3][1]))
    rows.append((501, [0.0] * 8))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _canon(df):
    return sorted((r.a_id, r.b_id, r.cosine) for r in df.collect())


def test_single_block_floor_equals_blocked(emb):
    # default block_rows=4096 → n=502 takes the single-group floor path
    single = _canon(embedding_dup_pairs(emb, threshold=0.4))
    # force the multi-block regime: block_rows=64 → 8 blocks, 36 pair groups
    multi = _canon(_all_pairs_blocked(emb, "vec_id", "embedding", 0.4, 502, block_rows=64))
    assert len(single) > 0, "degenerate fixture: no pairs at threshold"
    assert single == multi
    # the exact-duplicate pair survives with cosine 1.0 in both
    assert (3, 500, 1.0) in single
