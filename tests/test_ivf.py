"""Learned-IVF quality: k-means cells must beat metadata cells on recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_parquet_logs_spark.operators import ivf, similarity as S
from arrow_parquet_logs_spark.sources.tables import load_table


def _recall(approx, exact) -> float:
    a = {(r.q_id, r.vec_id) for r in approx.collect()}
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    return len(a & e) / len(e)


def test_kmeans_cells_beat_label_cells(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = S.brute_force_topk(emb, queries, k=5)
    cents = ivf.fit_kmeans(emb, k=16, iters=5)
    learned = ivf.ivf_search(emb, queries, cents, k=5, nprobe=4)
    label_cells = S.ivf_topk(emb, queries, k=5)
    r_learned, r_label = _recall(learned, exact), _recall(label_cells, exact)
    # labels are uncorrelated with cosine → learned cells must do better
    assert r_learned > r_label, (r_learned, r_label)
    assert r_learned >= 0.5, r_learned  # 4/16 cells probed


def test_assign_cells_deterministic_and_total(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.fit_kmeans(emb, k=8, iters=3)
    a = ivf.assign_cells(emb, cents).groupBy("cell").count().collect()
    b = ivf.assign_cells(emb.repartition(16), cents).groupBy("cell").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # partitioning-invariant
    assert sum(r["count"] for r in a) == emb.count()  # every vector assigned
    assert all(0 <= r["cell"] < 8 for r in a)


def test_fit_kmeans_too_few_vectors(spark):
    import pytest

    df = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="need"):
        ivf.fit_kmeans(df, k=4)


def test_ivf_index_persistence_and_materialized_search(spark, sf_dir, tmp_path):
    """fit → save → load round-trips exactly; searching the materialized
    cell-partitioned corpus returns identical results to the in-memory
    search, and the scan carries a `cell` partition filter (only probed
    directories are read — the at-scale nprobe contract)."""
    from arrow_parquet_logs_spark.operators import ivf
    from arrow_parquet_logs_spark.plans.inspect import explain_str
    from arrow_parquet_logs_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.fit_kmeans(emb, k=8, iters=3)
    idx = str(tmp_path / "ivf_index")
    ivf.save_index(spark, cents, idx)
    assert ivf.load_index(spark, idx) == cents

    mat = str(tmp_path / "ivf_cells")
    ivf.materialize_cells(emb, cents, mat)
    queries = emb.where(F.col("vec_id") < 5)
    got = ivf.search_materialized(spark, mat, queries, cents, k=3, nprobe=2)
    plan = explain_str(got)
    assert "PartitionFilters" in plan and "cell" in plan, plan
    expected = ivf.ivf_search(emb, queries, cents, k=3, nprobe=2)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in expected.collect()]


def test_embedding_dup_pairs_exact_via_learned_cells(spark, sf_dir):
    """The ε-complete expanded assignment makes learned-IVF dedup EXACT:
    output must equal the brute-force all-pairs answer, including pairs
    whose members carry different labels (the old label-cell stand-in
    silently missed those)."""
    from arrow_parquet_logs_spark.functions.vector import cosine_sim
    from arrow_parquet_logs_spark.operators.dedup import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    got = embedding_dup_pairs(emb, threshold=0.4, k_cells=8, kmeans_iters=3)
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("av"),
                   F.col("label").alias("a_label"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("bv"),
                   F.col("label").alias("b_label"))
    brute = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_label", "b_label",
                F.round(cosine_sim(F.col("av"), F.col("bv")), 6).alias("cosine"))
        .where(F.col("cosine") >= 0.4)
    )
    want = {(r.a_id, r.b_id, r.cosine) for r in brute.collect()}
    have = {(r.a_id, r.b_id, r.cosine) for r in got.collect()}
    assert have == want, (len(have), len(want))
    # at least one recovered pair crosses labels — the learned-cell path
    # finds what partitioning by the metadata column cannot
    cross = [r for r in brute.collect() if r.a_label != r.b_label]
    assert cross, "test data lost its cross-label near-dup pairs"


def test_embedding_dup_high_threshold_collapses_to_cells(spark):
    """As t→1 the ε-expansion shrinks: planted exact-duplicate vectors are
    found, and vectors in far cells never pair. Uses a synthetic corpus with
    two identical vectors under DIFFERENT labels."""
    import random

    from arrow_parquet_logs_spark.operators.dedup import embedding_dup_pairs

    rnd = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, [rnd.gauss(0, 1) for _ in range(8)], f"l{i % 4}"))
    dup = list(rows[3][1])
    rows.append((100, dup, "l_other"))  # exact dup of vec 3, different label
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = embedding_dup_pairs(df, threshold=0.99, k_cells=4, kmeans_iters=3).collect()
    assert {(r.a_id, r.b_id) for r in got} == {(3, 100)}, got


def test_append_to_cells_incremental_index(spark, sf_dir, tmp_path):
    """Index maintenance: vectors appended after materialization are
    assigned with the existing centroids, land in the pruned layout, and
    are found by subsequent searches identically to a full rebuild."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.where(F.col("vec_id") >= 10)
    new = emb.where(F.col("vec_id") < 10)
    cents = ivf.fit_kmeans(emb, k=8, iters=3)
    mat = str(tmp_path / "cells")
    ivf.materialize_cells(old, cents, mat)
    ivf.append_to_cells(new, cents, mat)
    queries = emb.where(F.col("vec_id") >= 490)
    got = ivf.search_materialized(spark, mat, queries, cents, k=3, nprobe=8)
    full = str(tmp_path / "cells_full")
    ivf.materialize_cells(emb, cents, full)
    want = ivf.search_materialized(spark, full, queries, cents, k=3, nprobe=8)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_assign_cells_matches_duckdb_argmin(spark, sf_dir):
    """The BLAS assignment must pick the same nearest centroid as an
    independent DuckDB replay (squared L2 summed per component, lowest
    index on ties) for every vector of the shipped corpus — a disagreement
    would mean a distance-computation bug, not a tie. Null vectors get a
    null cell, other columns untouched."""
    from tests.parity import duck_connect

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.fit_kmeans(emb, k=8, iters=3)
    got = {
        r.vec_id: r.cell
        for r in ivf.assign_cells(emb, cents).select("vec_id", "cell").collect()
    }
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    con = duck_connect(sf_dir)
    want = dict(
        con.sql(f"""
        WITH c(cell, cv) AS (VALUES {rows}),
        d AS (
            SELECT e.vec_id, c.cell,
                   list_sum(list_transform(range(1, len(cv) + 1),
                       j -> (CAST(e.embedding[j] AS DOUBLE) - cv[j]) ** 2)) AS d2
            FROM embeddings e, c WHERE e.embedding IS NOT NULL
        )
        SELECT vec_id, cell FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
        """).fetchall()
    )
    assert want and {k: v for k, v in got.items() if v is not None} == want
    # null vector → null cell, other columns untouched
    null_row = spark.createDataFrame(
        [(9999, None, 0)], "vec_id long, embedding array<double>, label int"
    )
    out = ivf.assign_cells(null_row, cents).collect()[0]
    assert out.cell is None and out.vec_id == 9999 and out.label == 0
