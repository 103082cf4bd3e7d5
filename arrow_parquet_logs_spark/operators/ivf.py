"""Learned IVF cells: deterministic k-means for vector search partitioning.

SCALING.md's ANN story requires *learned* cells — this corpus's ``label``
column is provably uncorrelated with cosine similarity, so partitioning by
it buys nothing. This module supplies the real path:

- ``fit_kmeans``: Lloyd's iterations on a driver-side sample (numpy).
  Deterministic by construction: centroids initialize from the k smallest
  ids, points assign by (distance, centroid-idx) lexicographic order, and
  the sample is an id-ordered prefix. At 100 TB the sample is a TABLESAMPLE
  collect (a few 10⁵ rows fits any driver); the *fit* is cheap — it's the
  *assignment* that must scale.
- ``assign_cells``: nearest-centroid assignment as one Arrow-batched BLAS
  pass (argmin with lowest-index tie-break) — one scan, no shuffle.
- ``ivf_search``: queries probe their ``nprobe`` nearest cells only.

No SQL oracle: the fitted centroids depend on float reduction order inside
numpy, which a second engine can't replay from SQL text alone — the driver
records the rows-only check, and the recall-vs-brute-force test quantifies
quality instead (tests/test_ivf.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from arrow_parquet_logs_spark.functions.vector import as_double_array


def kmeans_sample(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    with_ids: bool = False,
):
    """The deterministic id-ordered prefix fit sample, collected ONCE:
    ``(matrix, truncated)``. ``truncated=False`` means the sample IS the
    whole corpus — callers sizing cells as √N can then take N = len(matrix)
    for free instead of paying a separate ``count()`` job (the r5 bench
    regression's second planning action). One TakeOrdered job either way.

    Collected via ``toPandas`` (Arrow batches), not row ``collect``: the
    row path deserializes |sample|·d cells one Py4J object at a time;
    Arrow moves the same IEEE doubles columnar — bit-identical matrix.

    ``with_ids=True`` returns ``(matrix, truncated, ids)`` — the sample is
    an id-ordered PREFIX, so any query set defined as "id < Q" is fully
    contained in it whenever those rows exist: callers can slice their
    query vectors out of the one collected sample instead of paying a
    second scan-and-collect job (the r12 job-chain collapse)."""
    import numpy as np

    pdf = emb.select(id_col, vec_col).orderBy(id_col).limit(sample_rows).toPandas()
    x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    if with_ids:
        return x, len(pdf) >= sample_rows, pdf[id_col].to_numpy()
    return x, len(pdf) >= sample_rows


def sqrt_cells(n: int) -> int:
    """Standard √N IVF cell sizing, floored at 16 and capped at n/32 so
    small corpora keep the compact fit (≤512 vectors ⇒ 16 cells, the
    historical default) while large ones scale — Θ(N^1.5) tight-threshold
    work instead of Θ(N²/16)."""
    import math

    return max(16, min(math.isqrt(n), n // 32))


def sized_cells(n: int, slack: float) -> int:
    """√N sizing derated by the ε-expansion's reach — with a block-memory
    floor. A probe ball of chord ``slack`` on the unit sphere covers
    EVERYTHING at slack ≥ 2 (the sphere's diameter): every vector probes
    every cell whatever k is, so extra cells buy zero candidate pruning
    and only multiply the (sid, cell, vector) emission shuffle k-fold —
    there the compact grid is better (measured at sf0.1/t=0.4: k=44 cost
    +25% over k=16 for identical output). But k also sets the PER-CELL
    BLAS block: the scorer materializes an (|expanded|, |primary|) ≈
    (n, n/k) similarity matrix per cell, so a small k at large n is an
    OOM, not a saving (the sf10 invariance probe killed a 48 GB JVM at
    n=200k, k=16: 200k×12.5k doubles per block). Floor k so a block stays
    ≤ ~256 MB: k ≥ n²·8 / 256e6. Exactness and output are invariant to k
    (the ε-complete theorem); total flops at slack ≥ 2 are Θ(n²)
    WHATEVER k is — inherent to an exact answer on isotropic data at a
    loose threshold (SCALING.md), so this knob only shapes memory and
    shuffle, never the asymptotics."""
    k = sqrt_cells(n)
    frac = max(0.0, 1.0 - slack / 2.0)
    derated = max(16, int(k * frac))
    block_floor = -(-(n * n * 8) // 256_000_000)  # ceil; sims ≤ 256 MB/cell
    return max(derated, min(block_floor, max(16, n // 32)))


def fit_kmeans(
    emb: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means on an id-ordered driver sample.

    Returns the centroid matrix as plain Python lists (ready to embed as
    Catalyst literals / broadcast)."""
    x, _ = kmeans_sample(emb, id_col, vec_col, sample_rows)
    return _lloyd(x, k, iters)


def _nearest(x, cents):
    """Index of each row's nearest centroid: ``argmin(|x|² + |c|² − 2x·cᵀ)``
    over (n, d) × (k, d) float64 matrices, one (n, k) dgemm. numpy
    ``argmin`` takes the first minimum, so ties go to the lowest index.
    The one nearest-centroid kernel of the k-means fit, cell assignment
    and the IVF-PQ fit and encode."""
    d2 = (x * x).sum(axis=1)[:, None] + (cents * cents).sum(axis=1)[None, :]
    return (d2 - 2.0 * (x @ cents.T)).argmin(axis=1)


def _lloyd(x, k: int, iters: int) -> list[list[float]]:
    """Deterministic Lloyd's iterations on an (n, d) float64 matrix.

    Distances use the BLAS form ‖x‖² + ‖c‖² − 2·x·cᵀ — an (n, k) matrix per
    iteration. The earlier broadcast form ``((x[:,None,:]-cent[None,:,:])**2)``
    materializes (n, k, d): at the √N cell sizing a 100k-row sample with
    k=447, d=64 is a 23 GB single-threaded allocation that pinned the sf10
    probe's driver for 10+ minutes; the BLAS form is 357 MB and one dgemm.
    Same argmin tie-break (first minimum); distances differ from the
    broadcast form only in ulps, which every consumer tolerates by
    construction — dedup's ε-complete candidates are output-invariant to
    cell shape, and the ANN oracles gate RECALL, not centroid bits."""
    if len(x) < k:
        raise ValueError(f"need ≥{k} vectors to fit {k} cells, got {len(x)}")
    cent = x[:k].copy()  # id-ordered prefix init — deterministic
    for _ in range(iters):
        assign = _nearest(x, cent)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(v) for v in row] for row in cent]


def fit_kmeans_unit(
    emb: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
) -> list[list[float]]:
    """``fit_kmeans`` over unit-normalized vectors, normalizing in numpy on
    the collected sample instead of through a per-element Catalyst
    ``transform`` over the whole frame — one cheap scan of raw vectors,
    zero interpreted higher-order evaluation. Zero vectors are dropped from
    the fit (they have no direction to cluster)."""
    x, _ = kmeans_sample(emb, id_col, vec_col, sample_rows)
    return _lloyd(_unit_rows(x, vec_col), k, iters)


def _unit_rows(x, vec_col: str):
    """Row-normalize a sample matrix, dropping zero vectors."""
    import numpy as np

    if x.ndim != 2:
        raise ValueError(f"ragged or empty {vec_col} sample")
    n = np.sqrt((x * x).sum(axis=1))
    return x[n > 0] / n[n > 0, None]


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    lit = F.array(*[F.lit(float(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)), F.lit(0.0), lambda acc, z: acc + z
    )


def assign_cells(
    emb: DataFrame, centroids: list[list[float]], vec_col: str = "embedding", out_col: str = "cell"
) -> DataFrame:
    """Nearest-centroid assignment, one Arrow-batched numpy pass: each
    batch is one (B × k) distance matmul, ``argmin(|x|² − 2x·cᵀ + |c|²)``.
    This is the one stage that must scan the whole corpus; as Catalyst
    ``aggregate``/``zip_with`` folds over literal centroid arrays it ran
    interpreted per element, ~3 ms/row at k=16, d=64. All other columns
    pass through untouched; null vectors get a null cell.

    Assignment ties: numpy ``argmin`` takes the first (lowest-index)
    minimum. The BLAS form sums distances in its own float order, so an
    *exactly* equidistant pair of centroids could split differently from
    another engine's; cell membership is a performance partition, not a
    semantic answer (search correctness comes from scoring, dedup
    completeness from ε-expansion), so either assignment is valid."""
    import numpy as np
    from pyspark.sql import types as T

    C = np.array(centroids, dtype=np.float64)
    # fresh StructType — StructType.add would MUTATE the input frame's
    # cached schema object in place, desyncing it from the JVM plan
    out_schema = T.StructType(
        list(emb.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            live_idx = [i for i, x in enumerate(pdf[vec_col]) if x is not None]
            cells = pd.array([None] * len(pdf), dtype="Int32")
            if live_idx:
                X = np.array(
                    [np.asarray(pdf[vec_col].iloc[i], dtype=np.float64) for i in live_idx]
                )
                near = _nearest(X, C)
                for j, i in enumerate(live_idx):
                    cells[i] = int(near[j])
            out = pdf.copy()
            out[out_col] = cells
            yield out

    return emb.mapInPandas(gen, out_schema)


def ivf_search(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k: candidates restricted to each query's ``nprobe`` nearest
    cells. Scan fraction ≈ nprobe/n_cells of the corpus per query batch.
    Corpus-side assignment is the full-scan stage and runs vectorized
    (``assign_cells``); query-side probe selection stays Catalyst (the
    query batch is small by definition)."""
    from arrow_parquet_logs_spark.operators.similarity import (
        _cos,
        _ranked,
        _with_vec_and_norm,
    )

    cells = assign_cells(emb, centroids, vec_col)
    c = _with_vec_and_norm(cells, id_col, vec_col, "c", "cell")

    q_assigned = queries
    v = as_double_array(vec_col)
    dists = F.array(
        *[
            F.struct(_sq_dist(v, cen).alias("d"), F.lit(i).alias("i"))
            for i, cen in enumerate(centroids)
        ]
    )
    probe = F.transform(
        F.slice(F.array_sort(dists), 1, nprobe), lambda p: p["i"]
    )  # nprobe nearest cell ids (struct sort: by d, then i)
    q = _with_vec_and_norm(
        q_assigned.withColumn("probe_cells", probe), id_col, vec_col, "q", "probe_cells"
    )
    qx = q.select("q_id", "q_v", "q_n", F.explode("probe_cells").alias("cell"))
    pairs = (
        c.join(F.broadcast(qx), "cell")
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", F.col("c_id").alias("vec_id"), _cos().alias("cosine"))
    )
    # shared two-stage ranker (similarity._ranked): partial top-k per
    # partition first, so probed-cell pair rows never funnel into Q windows
    return _ranked(pairs, k)


def save_index(spark, centroids: list[list[float]], path: str) -> None:
    """Persist the fitted centroid matrix as a (cell, centroid) parquet —
    the index artifact a production pipeline fits once (on a sample) and
    ships to every search job, instead of refitting per query."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(rows, "cell int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_index(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(path).orderBy("cell").collect()
    if [r.cell for r in rows] != list(range(len(rows))):
        raise ValueError(f"corrupt IVF index at {path}: non-contiguous cell ids")
    return [[float(v) for v in r.centroid] for r in rows]


def materialize_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the corpus **partitioned by cell** (Hive layout): the IVF
    inverted lists as directories. At 100 TB this is what makes nprobe
    real — a search reads only the probed cells' files via partition
    pruning; every other cell is never opened."""
    assigned = assign_cells(emb.select(id_col, vec_col), centroids, vec_col)
    # cluster on cell before the write: every assignment task holds rows of
    # every cell, so dynamic partitioning would write a file per
    # (task x cell) — the same small-file explosion fixed in
    # pq.materialize_ivfpq (503 files for a 16-cell sf0.1 index)
    assigned.repartition("cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def append_to_cells(
    emb_new: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a materialized cell-partitioned corpus:
    assign against the EXISTING centroids and append into the matching
    ``cell=`` directories. This is the index-maintenance path — the fit is
    amortized over many ingest batches, and a periodic re-fit + full
    ``materialize_cells`` rewrite (the OPTIMIZE analog) handles centroid
    drift. Readers see the same partition-pruned layout; dynamic partition
    append touches only the cells the batch lands in."""
    assign_cells(emb_new.select(id_col, vec_col), centroids, vec_col).repartition(
        "cell"
    ).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)


def search_materialized(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_search` against a materialized cell-partitioned corpus.

    The query batch's probe cells resolve driver-side (the batch is small by
    definition), so the scan carries an explicit `cell IN (...)` partition
    filter — the plan touches only probed directories. Scoring/ranking are
    identical to the in-memory form (same contract, same results).
    """
    from arrow_parquet_logs_spark.operators.similarity import (
        _cos,
        _ranked,
        _with_vec_and_norm,
    )

    v = as_double_array(vec_col)
    dists = F.array(
        *[
            F.struct(_sq_dist(v, cen).alias("d"), F.lit(i).alias("i"))
            for i, cen in enumerate(centroids)
        ]
    )
    probe = F.transform(F.slice(F.array_sort(dists), 1, nprobe), lambda p: p["i"])
    q_probed = queries.withColumn("probe_cells", probe)
    probed_cells = sorted(
        {c for r in q_probed.select(F.explode("probe_cells").alias("c")).distinct().collect() for c in [r.c]}
    )
    corpus = spark.read.parquet(path).where(F.col("cell").isin(probed_cells))
    c = _with_vec_and_norm(corpus, id_col, vec_col, "c", "cell")
    q = _with_vec_and_norm(q_probed, id_col, vec_col, "q", "probe_cells")
    qx = q.select("q_id", "q_v", "q_n", F.explode("probe_cells").alias("cell"))
    pairs = (
        c.join(F.broadcast(qx), "cell")
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", F.col("c_id").alias("vec_id"), _cos().alias("cosine"))
    )
    # shared two-stage ranker (similarity._ranked): partial top-k per
    # partition first, so probed-cell pair rows never funnel into Q windows
    return _ranked(pairs, k)
