

# ---- filtered_topk (metadata-filtered vector search) ------------------------


def _toy_emb(spark, n=120, d=8):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(d)], i % 4)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_filtered_topk_selective_exact_vs_manual(spark):
    """Selective regime: results equal a manual filter + brute-force."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.similarity import (
        brute_force_topk, filtered_topk,
    )

    emb = _toy_emb(spark)
    q = emb.where(F.col("vec_id") < 3)
    pred = F.col("label") == 2
    got = filtered_topk(emb, q, pred, k=4).collect()
    want = brute_force_topk(emb.where(pred), q, k=4).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r.vec_id % 4 == 2 for r in got)  # every hit satisfies the filter


def test_filtered_topk_ivf_regime_postfilters_and_recall(spark):
    """brute_cap=0 forces the IVF over-fetch regime: every returned hit
    satisfies the predicate, per-query hits <= k (honest, never padded),
    and over-fetch recall against the exact filtered answer is >= 1/2 on
    this easy corpus. Without centroids the regime raises loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators import ivf
    from arrow_parquet_logs_spark.operators.similarity import (
        brute_force_topk, filtered_topk,
    )

    emb = _toy_emb(spark)
    q = emb.where(F.col("vec_id") < 3)
    pred = F.col("label") == 1
    cents = ivf.fit_kmeans(emb, k=4, iters=3)
    got = filtered_topk(emb, q, pred, k=3, brute_cap=0,
                        centroids=cents, nprobe=3, overfetch=6).collect()
    assert all(r.vec_id % 4 == 1 for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.q_id, set()).add(r.vec_id)
    assert all(len(v) <= 3 for v in per_q.values())
    exact = brute_force_topk(emb.where(pred), q, k=3).collect()
    want = {}
    for r in exact:
        want.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(len(per_q.get(qi, set()) & vs) for qi, vs in want.items())
    total = sum(len(vs) for vs in want.values())
    assert hits / total >= 0.5, (hits, total)
    with _pytest.raises(ValueError, match="centroids"):
        filtered_topk(emb, q, pred, k=3, brute_cap=0)


def test_brute_force_topk_skips_null_vectors(spark):
    """A NULL embedding carries no direction: a NULL candidate never ranks
    and a NULL query row yields no result rows. The answer equals the run
    over the NULL-free frames, which must not be empty."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.similarity import brute_force_topk

    base = _toy_emb(spark, n=40)
    nulls = spark.createDataFrame(
        [(1000, None, 0)], "vec_id long, embedding array<float>, label int"
    )
    emb = base.unionByName(nulls)
    q = emb.where((F.col("vec_id") < 3) | (F.col("vec_id") == 1000))
    got = sorted(map(tuple, brute_force_topk(emb, q, k=4).collect()))
    want = sorted(
        map(tuple, brute_force_topk(base, base.where(F.col("vec_id") < 3), k=4).collect())
    )
    assert got == want and len(got) == 12
    assert all(1000 not in (r[0], r[1]) for r in got)


# ---- binary-quantized shortlist + exact rerank (r9) -------------------------


def test_binary_quantize_words_match_numpy(spark):
    """Packed sign words must equal an independent numpy packing (MSB-first
    within each 32-bit word, bit set iff component > 0)."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.similarity import binary_quantize_words

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(50)]
    rows.append((50, [0.0] * 64))  # zeros: strict > 0 means no bit set
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: list(r.w)
        for r in df.select(
            "vec_id", binary_quantize_words("embedding", 64).alias("w")
        ).collect()
    }
    for vid, vec in rows:
        # float32 storage: compare against the float32-rounded values
        v32 = np.asarray(vec, dtype=np.float32).astype(np.float64)
        want = []
        for w in range(2):
            acc = 0
            for x in v32[w * 32 : (w + 1) * 32]:
                acc = acc * 2 + (1 if x > 0 else 0)
            want.append(acc)
        assert got[vid] == want, (vid, got[vid], want)


def test_binary_quantized_topk_full_shortlist_equals_brute(spark):
    """With a shortlist covering the whole corpus, the rerank pool is the
    full pair set — the result must equal brute-force exactly (pins the
    rerank stage and the family's total order); partition layout must not
    matter."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.similarity import (
        binary_quantized_topk,
        brute_force_topk,
    )

    emb = _toy_emb(spark, n=100, d=64)
    q = emb.where(F.col("vec_id") < 4)
    got = sorted(
        map(tuple, binary_quantized_topk(emb, q, k=5, shortlist=200, dims=64).collect())
    )
    want = sorted(map(tuple, brute_force_topk(emb, q, k=5).collect()))
    assert got == want and len(got) == 20

    got13 = sorted(
        map(
            tuple,
            binary_quantized_topk(emb.repartition(13), q, k=5, shortlist=200, dims=64).collect(),
        )
    )
    assert got13 == got


def test_binary_quantized_shortlist_prunes_before_window(spark):
    """Plan pin (the partial_topk discipline, test_topk.py form): the
    per-query Hamming window must consume the MapInPandas-pruned frame,
    and the pruner must consume the raw broadcast-NL pair frame — never a
    corpus-sized window partition."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.similarity import binary_quantized_topk
    from arrow_parquet_logs_spark.plans.inspect import explain_str

    emb = _toy_emb(spark, n=100, d=64)
    out = binary_quantized_topk(
        emb, emb.where(F.col("vec_id") < 4), k=5, shortlist=10, dims=64
    )
    plan = explain_str(out, mode="simple")
    assert "MapInPandas" in plan, plan
    w, m = plan.index("Window"), plan.index("MapInPandas")
    assert w < m, f"window must consume the pruned frame:\n{plan}"
    assert m < plan.index("BroadcastNestedLoopJoin"), (
        f"pruner must consume the raw pair frame:\n{plan}"
    )
    assert len({(r.q_id, r.vec_id) for r in out.collect()}) == 20


def test_binary_quantize_words_partial_last_word(spark):
    """dims not a multiple of 32: the last word folds over the shorter
    slice (MSB-first over the elements PRESENT), still non-negative and
    deterministic — pinned against the same numpy reference."""
    import random

    import numpy as np

    from arrow_parquet_logs_spark.operators.similarity import binary_quantize_words

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(48)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: list(r.w)
        for r in df.select(
            "vec_id", binary_quantize_words("embedding", 48).alias("w")
        ).collect()
    }
    for vid, vec in rows:
        v32 = np.asarray(vec, dtype=np.float32).astype(np.float64)
        want = []
        for lo, hi in ((0, 32), (32, 48)):
            acc = 0
            for x in v32[lo:hi]:
                acc = acc * 2 + (1 if x > 0 else 0)
            want.append(acc)
        assert got[vid] == want


def test_binary_quantize_words_zero_pads_short_vectors(spark):
    """ADVICE r9: a vector SHORTER than dims must pack as if zero-padded —
    missing components contribute 0 bits in their positions, not a
    right-shifted last word — so short and full-length vectors keep
    comparable Hamming distances (and match the oracle's
    out-of-range→0 form)."""
    from arrow_parquet_logs_spark.operators.similarity import binary_quantize_words

    full = [1.0, -1.0] * 32           # 64 components
    short = full[:40]                 # truncated: positions 40..63 absent
    padded = short + [0.0] * 24       # the reference: explicit zero-pad
    df = spark.createDataFrame(
        [(0, full), (1, short), (2, padded)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: list(r.w)
        for r in df.select(
            "vec_id", binary_quantize_words("embedding", 64).alias("w")
        ).collect()
    }
    assert got[1] == got[2], "short vector must pack ≡ its zero-padded form"
    assert got[1] != got[0]
    # and NULL components contribute 0 in position too
    with_null = df.selectExpr(
        "vec_id",
        "transform(embedding, (x, i) -> CASE WHEN i = 3 THEN NULL ELSE x END) AS embedding",
    ).where("vec_id = 2")
    (row,) = with_null.select(
        binary_quantize_words("embedding", 64).alias("w")
    ).collect()
    ref = list(padded)
    ref[3] = 0.0
    acc = [0, 0]
    for w in range(2):
        for j in range(32):
            acc[w] = acc[w] * 2 + (1 if ref[w * 32 + j] > 0 else 0)
    assert list(row.w) == acc


def test_binary_quantize_words_centered_matches_numpy(spark):
    """Centered BQ (the RaBitQ first step): bit = sign(x - corpus_mean).
    Pinned against a numpy reference, and on a zero-mean corpus the
    centered packing must equal the raw one."""
    import random

    import numpy as np

    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.similarity import (
        binary_quantize_words,
        corpus_mean_vector,
    )

    rng = random.Random(7)
    # offset corpus: every dimension shifted +1.5 so raw signs saturate
    rows = [(i, [rng.uniform(-1, 1) + 1.5 for _ in range(64)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mean = corpus_mean_vector(df, dims=64)
    got = {
        r.vec_id: list(r.w)
        for r in df.crossJoin(F.broadcast(mean))
        .select(
            "vec_id",
            binary_quantize_words("embedding", 64, mean_col="mean_vec").alias("w"),
        )
        .collect()
    }
    a = np.array([v for _, v in rows], dtype=np.float64)
    m = np.round(a.mean(axis=0), 6)
    for vid, vec in rows:
        bits = (np.asarray(vec) - m) > 0
        want = []
        for lo in (0, 32):
            acc = 0
            for b in bits[lo : lo + 32]:
                acc = acc * 2 + int(b)
            want.append(acc)
        assert got[vid] == want, vid
    # raw signs on this corpus are all-ones words; centered must differ
    raw = df.select(binary_quantize_words("embedding", 64).alias("w")).collect()
    assert all(list(r.w) == [(1 << 32) - 1, (1 << 32) - 1] for r in raw)
    assert any(list(w) != [(1 << 32) - 1, (1 << 32) - 1] for w in got.values())


def test_bq_audit_zero_vector_ranks_last_in_exact_top10(spark, tmp_path):
    """A zero-norm vector has a NULL cosine. The BQ recall audit must rank
    it last in the exact order (the oracle scores it -1.0), not first and
    not with a divide-by-zero. Five all-positive queries have raw-BQ code
    all ones; the zero vector's code is all zeros, so it is each query's
    worst raw-Hamming candidate. With 11 candidates per query, the exact
    top 10 is then exactly the raw top 10 (overlap 10); a NULL-first exact
    ranking would swap the zero vector in and score 9."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arrow_parquet_logs_spark.queries.catalog import all_oracles
    from arrow_parquet_logs_spark.queries.vectorq import ann_bq_centered_recall_audit
    from tests.parity import compare

    rng = random.Random(11)
    vecs = [[abs(rng.gauss(0, 1)) + 0.1 for _ in range(64)] for _ in range(5)]
    vecs += [[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]
    vecs.insert(7, [0.0] * 64)
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    }), path)
    df = ann_bq_centered_recall_audit(spark, str(tmp_path))
    assert [r.overlap10_raw for r in df.collect()] == [10] * 5
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    compare(df, con, all_oracles()["ann_bq_centered_recall_audit"], "ann_bq_centered_recall_audit")
