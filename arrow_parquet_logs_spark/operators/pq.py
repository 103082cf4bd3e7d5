"""Product quantization (PQ) for vector compression + ADC search.

Public recipe (Jégou, Douze & Schmid 2011, "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI): split the d dimensions into ``m``
subspaces, learn a ``ks``-entry codebook per subspace, and store each
vector as m small codes — here m=8, ks=16 over d=64 floats ≈ 8 bytes per
vector, a 32× compression. Queries are answered by **asymmetric distance
computation (ADC)**: per query, precompute the m×ks table of subspace dot
products against every codebook entry; the approximate score of any stored
vector is then m table lookups, never touching the original floats.

Spark-first shape:

- encode: one Arrow-batched numpy pass per corpus scan — components
  quantize to integer micro-units (floor(x·10⁶) — exact int64 arithmetic,
  no float-summation-order hazard) and each subvector takes its nearest
  codebook entry, first-minimum tie-break. One kernel (``_ivfpq_codes``)
  serves both the IVF-PQ residual encode and the flat :func:`encode_pq`.
  A Catalyst encode (explode → broadcast codebook join → two
  aggregations) fans every vector into d·ks joined rows and was rejected
  for that; the higher-order
  ``aggregate``/``zip_with`` lambda form runs interpreted per element
  (~3 ms/row measured for the same shape of fold in IVF cell assignment).
- ADC: the query-side LUT (q_id, subspace, code, partial-dot) is built on
  the driver; scoring joins stored codes against the broadcast LUT and
  sums — never touching raw vectors.

At 100 TB the stored codes are ~1/32 the corpus bytes, the per-row cost is
m lookups, and the encode adds no shuffle at all.

Two codebook sources:

- :func:`fit_pq` — per-subspace deterministic Lloyd's on an id-ordered
  driver sample (``ivf.kmeans_sample``, same contract as
  ``ivf.fit_kmeans``); :func:`fit_ivfpq` runs the same per-subspace fit
  on residuals. Production path; centroids depend on numpy reduction
  order, so queries built on it use a recall gate, not a SQL oracle (the
  ``ann_ivf_kmeans`` precedent).
- :func:`rademacher_codebooks` — data-independent ±1 entries derived from
  the portable md5 hash64 of "pq:subspace:code:component". Any engine
  regenerates them from SQL text alone, making the entire encode+ADC
  machinery hash-gateable bit-for-bit (the ``srp_signatures`` precedent).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from arrow_parquet_logs_spark.operators.ivf import _lloyd, _nearest, kmeans_sample

#: integer micro-unit scale shared with the SRP/centroid operators.
SCALE = 1_000_000


def _hash64_py(s: str) -> int:
    """Python twin of functions.hashing.hash64 (15 md5 hex digits)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def rademacher_codebooks(m: int = 8, ks: int = 16, sub: int = 8) -> list[list[list[int]]]:
    """Data-independent ±SCALE codebooks from md5("pq:j:c:t") — the
    SQL-regenerable codebook for oracle-gated parity of the machinery."""
    return [
        [
            [SCALE if _hash64_py(f"pq:{j}:{c}:{t}") % 2 == 0 else -SCALE for t in range(sub)]
            for c in range(ks)
        ]
        for j in range(m)
    ]


def _fit_matrix(emb, m, id_col, vec_col, sample_rows, sample):
    """The (n, d) float64 fit matrix: ``sample`` when the caller already
    holds it, else the id-ordered prefix (``ivf.kmeans_sample``)."""
    import numpy as np

    if sample is None:
        sample, _ = kmeans_sample(emb, id_col, vec_col, sample_rows)
    x = np.asarray(sample, dtype=np.float64)
    if x.ndim != 2 or x.shape[1] % m:
        raise ValueError(f"need (n, d) sample with d % {m} == 0, got {x.shape}")
    return x


def _subspace_books(x, m: int, ks: int, iters: int) -> list[list[list[int]]]:
    """Deterministic Lloyd's on each of the m contiguous subspaces of x,
    entries quantized to integer micro-units (floor(c·10⁶))."""
    import numpy as np

    sub = x.shape[1] // m
    return [
        [
            [int(np.floor(v * SCALE)) for v in entry]
            for entry in _lloyd(x[:, j * sub : (j + 1) * sub], ks, iters)
        ]
        for j in range(m)
    ]


def fit_pq(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    sample=None,
) -> list[list[list[int]]]:
    """Per-subspace deterministic k-means codebooks, quantized to integer
    micro-units (floor(c·10⁶)) so every downstream distance/dot is exact
    int64 arithmetic. Returns m codebooks of ks entries of d/m ints.

    ``sample``: a pre-collected (n, d) fit matrix (ivf.kmeans_sample) —
    callers that already sampled for sizing pass it to avoid a second
    identical TakeOrdered job."""
    x = _fit_matrix(emb, m, id_col, vec_col, sample_rows, sample)
    return _subspace_books(x, m, ks, iters)


def encode_pq(
    emb: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector → (id, j, code) long-format codes, one numpy
    reduction per Arrow batch.

    Each subvector's code is the nearest codebook entry on the int64
    micro-unit grid (floor(x·10⁶)); numpy ``argmin`` takes the first
    minimum, i.e. the lexicographic (dist, code) tie-break, identical in
    any engine. (q−s)² ≤ 9·10¹² and sub ≤ 64 keep sums far from overflow.
    A join-and-aggregate encode in Catalyst fans every vector into d·ks
    joined rows through a shuffle (~1000 rows per vector at the default
    geometry); here those rows never exist. NULL vectors emit no codes.

    This is :func:`_ivfpq_codes` against ONE all-zero coarse centroid of
    width m·sub: every vector lands in cell 0 and its residual
    floor(x·10⁶) − floor(0·10⁶) is floor(x·10⁶), so the codes are exactly
    the flat PQ codes; the constant ``cell`` column is dropped."""
    width = len(codebooks) * len(codebooks[0][0])
    return _ivfpq_codes(emb, [[0.0] * width], codebooks, id_col, vec_col).drop("cell")


def adc_lut(
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, j, c, part): per-query ADC lookup table — the dot product of
    each query subvector with every codebook entry.

    Query-sized BY CONTRACT (m·ks rows per query), so it is built
    DRIVER-side as one int64 numpy einsum over the collected query batch
    (r12; the search_ivfpq LUT precedent): the expression form exploded
    each query into d rows, broadcast-joined the codebook frame and ran
    two aggregation jobs — ~0.5 s of per-search fixed cost at sf0.1 for a
    10-query batch the driver can score in microseconds. Identical values:
    ``part = Σ_s floor(x_d·SCALE)·s`` is exact int64 arithmetic in both
    engines (no reassociation concerns on integers), and NULL query
    vectors vanish exactly as posexplode dropped them."""
    import numpy as np
    import pandas as pd

    m, ks = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.int64)  # (m, ks, sub)
    qrows = [
        r for r in queries.select(id_col, vec_col).collect() if r[1] is not None
    ]
    q_id_type = queries.schema[id_col].dataType.simpleString()
    if qrows:
        qm = np.floor(
            np.array([np.asarray(r[1], dtype=np.float64) for r in qrows]) * SCALE
        ).astype(np.int64)  # (Q, d)
        nq = len(qrows)
        part = np.einsum("qjs,jcs->qjc", qm.reshape(nq, m, sub), books)  # int64
        cols = {
            "q_id": np.repeat(np.array([r[0] for r in qrows]), m * ks),
            "j": np.tile(np.repeat(np.arange(m, dtype=np.int32), ks), nq),
            "c": np.tile(np.arange(ks, dtype=np.int32), nq * m),
            "part": part.reshape(-1),
        }
    else:
        cols = {"q_id": [], "j": [], "c": [], "part": []}
    return queries.sparkSession.createDataFrame(
        pd.DataFrame(cols, columns=["q_id", "j", "c", "part"]),
        f"q_id {q_id_type}, j int, c int, part long",
    )


def adc_scores(codes: DataFrame, lut: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(q_id, id, score): approximate dot via m LUT lookups per stored
    vector — join stored codes to the broadcast LUT on (subspace, code),
    sum partials. The raw corpus floats are never read: this is the
    compressed-domain scan that makes PQ the 100 TB path."""
    return (
        codes.join(F.broadcast(lut), (codes["j"] == lut["j"]) & (codes["code"] == lut["c"]))
        .groupBy("q_id", id_col)
        .agg(F.sum("part").alias("score"))
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end compressed-domain top-k: encode corpus, build query LUTs,
    ADC-score, rank by (score desc, id) — deterministic integer ranking,
    self-matches excluded. The corpus encode (:func:`encode_pq`) emits the
    m code rows per vector directly in the scan stage; the query-side LUT
    is query-sized and built on the driver (:func:`adc_lut`)."""
    from pyspark.sql.window import Window as W

    codes = encode_pq(emb, codebooks, id_col, vec_col)
    lut = adc_lut(queries, codebooks, id_col, vec_col)
    scored = adc_scores(codes, lut, id_col).where(F.col("q_id") != F.col(id_col))
    # partial top-k first (operators.topk): the per-query window then ranks
    # ≤ k·P rows instead of shuffling the whole ADC-scored corpus into Q
    # partitions — integer scores, same (score desc, id asc) order
    from arrow_parquet_logs_spark.operators.topk import partial_topk

    scored = partial_topk(scored, ["q_id"], [("score", False), (id_col, True)], k)
    w = W.partitionBy("q_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= k)
        .select("q_id", id_col, "score", "rn")
        .orderBy("q_id", "rn")
    )


def pq_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-then-rerank: ADC ranks the whole corpus in the compressed domain,
    the top ``rerank`` candidates per query are re-scored with exact cosine
    (operators.similarity ranking contract), and the true top-k of that
    pool is returned. This is the production ANN shape: the expensive exact
    math touches rerank·|queries| rows, not the corpus."""
    from arrow_parquet_logs_spark.operators.similarity import _rerank_exact

    cand = pq_adc_topk(emb, queries, codebooks, k=rerank, id_col=id_col, vec_col=vec_col)
    short = cand.select("q_id", F.col(id_col).alias("c_id"))
    return _rerank_exact(short, emb, queries, k, id_col, vec_col)


# ---- IVF-PQ: coarse cells × residual product codes -------------------------


def fit_ivfpq(
    emb: DataFrame,
    k: int = 16,
    m: int = 8,
    ks: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    sample=None,
) -> tuple[list[list[float]], list[list[list[int]]]]:
    """Fit the full IVF-PQ index (FAISS IVFPQ shape, Jégou et al. 2011 §V):
    coarse k-means cells on the raw vectors, then per-subspace codebooks on
    the RESIDUALS (v − centroid[cell]) — residual energy is far smaller than
    vector energy, so the same code budget quantizes much finer. Both fits
    run on one id-ordered driver sample with the deterministic Lloyd's
    kernel. Returns (centroids float, residual codebooks int micro-units).

    ``sample``: a pre-collected (n, d) fit matrix (ivf.kmeans_sample) —
    callers that already sampled for sizing pass it to avoid a second
    identical TakeOrdered job."""
    import numpy as np

    x = _fit_matrix(emb, m, id_col, vec_col, sample_rows, sample)
    cents = np.array(_lloyd(x, k, iters))
    res = x - cents[_nearest(x, cents)]
    return [[float(v) for v in c] for c in cents], _subspace_books(res, m, ks, iters)


def _ivfpq_codes(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, j, code) for the corpus — the index-build scan: coarse
    cell + residual PQ codes, long format, the join-ready inverted-list
    rows.

    Assignment AND residual encode run in ONE fused Arrow pass: a
    two-stage form (``ivf.assign_cells`` → :func:`encode_pq` on the
    residual) would ship every corpus vector across the JVM↔Python
    boundary twice, with a round-robin repartition between the stages
    (the second stage's spread gate sees a shuffle-rooted frame) — at the
    corpus-dominant stage that is 2× the Arrow traffic and one extra full
    exchange for zero extra work. Cell assignment is ``ivf._nearest`` (the
    BLAS argmin of ``ivf.assign_cells``); the residual
    floor(v·10⁶) − floor(centroid[cell]·10⁶) is coded on the int64
    micro-unit grid, nearest codebook entry with the first-minimum
    tie-break. The one PQ encode kernel: :func:`encode_pq` is this pass
    against a single all-zero centroid."""
    import numpy as np
    from pyspark.sql import types as T

    from arrow_parquet_logs_spark.operators._parallel import spread_for_python

    C = np.array(centroids, dtype=np.float64)  # (k, d)
    cents_i = np.floor(C * SCALE).astype(np.int64)
    books = np.array(codebooks, dtype=np.int64)  # (m, ks, sub)
    m, _, sub = books.shape
    out_schema = T.StructType(
        [
            T.StructField(id_col, emb.schema[id_col].dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            live = [i for i, x in enumerate(pdf[vec_col]) if x is not None]
            if not live:
                continue
            X = np.array([np.asarray(pdf[vec_col].iloc[i], dtype=np.float64) for i in live])
            cells = _nearest(X, C)
            # residual encode on the int64 micro-unit grid
            Q = np.floor(X * SCALE).astype(np.int64) - cents_i[cells]
            n = len(live)
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                dd = ((Q[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = dd.argmin(axis=1)
            ids = pdf[id_col].to_numpy()[live]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, m),
                    "cell": np.repeat(cells, m).astype(np.int32),
                    "j": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": codes.reshape(-1).astype(np.int32),
                }
            )

    return spread_for_python(emb.select(id_col, vec_col)).mapInPandas(gen, out_schema)


def materialize_ivfpq(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the IVF-PQ index as a ``cell=``-partitioned parquet of code
    rows. At 100 TB this is the whole point of the composition: a search
    opens only the probed cells' directories (partition pruning), and what
    it reads there is ~1/32 the corpus bytes (codes, not floats).

    The fitted model (centroids + codebooks) persists alongside the codes
    (``_MODEL.json``), so the index is SELF-CONTAINED: a later process
    loads the exact grid the codes were encoded against
    (``load_ivfpq_model``) instead of re-fitting — a re-fit on a changed
    corpus would silently mis-decode every stored code.

    Codes are clustered by cell before the write (:func:`_write_by_cell`)."""
    _write_by_cell(_ivfpq_codes(emb, centroids, codebooks, id_col, vec_col), path, "overwrite")
    save_ivfpq_model(centroids, codebooks, path)


def _write_by_cell(enc: DataFrame, path: str, mode: str) -> None:
    """Write code rows into ``cell=`` directories, one writer task per
    cell. Without the shuffle every encode task holds rows of every cell
    and dynamic partitioning writes a file per (task × cell) — measured
    503 files for a 16-cell sf0.1 index, and the file count (hence
    search-side open cost) grows with cluster width. Codes are ~1/32 of
    corpus bytes, so the shuffle is cheap next to the encode scan."""
    enc.repartition("cell").write.mode(mode).partitionBy("cell").parquet(path)


def save_ivfpq_model(
    centroids: list[list[float]], codebooks: list[list[list[int]]], path: str
) -> None:
    """Persist the fitted IVF-PQ model next to its codes (atomic replace —
    a reader never sees a torn model file)."""
    import json
    import os
    import uuid

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"._MODEL.{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"centroids": centroids, "codebooks": codebooks}, fh)
    os.replace(tmp, os.path.join(path, "_MODEL.json"))


def load_ivfpq_model(path: str) -> tuple[list[list[float]], list[list[list[int]]]]:
    """Load the model a materialized index was encoded against. Raises
    loudly when the index predates model persistence — the caller must
    then supply the original fit, never a fresh one."""
    import json
    import os

    mpath = os.path.join(path, "_MODEL.json")
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"no _MODEL.json at {path}: this index was materialized without "
            "model persistence; pass the original centroids/codebooks"
        )
    with open(mpath, encoding="utf-8") as fh:
        m = json.load(fh)
    return m["centroids"], m["codebooks"]


def append_to_ivfpq(
    emb_new: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a materialized IVF-PQ index: encode
    against the EXISTING centroids/codebooks and append into the matching
    ``cell=`` directories (dynamic partition append touches only the cells
    the batch lands in). The fit amortizes over many ingest batches; a
    periodic re-fit + full rewrite handles centroid/codebook drift — the
    same maintenance contract as ``ivf.append_to_cells``."""
    _write_by_cell(_ivfpq_codes(emb_new, centroids, codebooks, id_col, vec_col), path, "append")


def split_hot_cells(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    max_cell_rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    sample_rows: int = 100_000,
) -> tuple[list[list[float]], dict[int, tuple[int, int]]]:
    """Re-balance a materialized IVF-PQ index by SPLITTING hot cells —
    the FAISS-style maintenance step the incremental ingest path
    (``append_to_ivfpq`` / ``start_stream_ivfpq_ingest``) eventually
    needs: drifted ingest skews cells, a hot cell's scan fraction grows,
    and the alternative (full re-fit + rewrite) pays a whole-corpus pass
    to fix a local problem.

    For each cell whose row count exceeds ``max_cell_rows``: fetch the
    cell's vectors (semi-join of the stored code ids back to the corpus),
    fit a deterministic 2-means on the id-ordered sample (``ivf._lloyd``
    — same routine, same tie-breaks as the original fit), replace the hot
    centroid with child A IN PLACE and append child B at the end of the
    centroid list (existing cell ids — hence existing ``cell=``
    directories and any external references — never renumber), re-encode
    ONLY the hot cell's vectors against their nearest child (residual
    codebooks are shared, so codes stay decodable), and dynamically
    overwrite just the two touched directories. The updated model persists
    atomically via ``save_ivfpq_model``.

    Assignment after a split is HIERARCHICAL (a vector's cell = its
    original root's winning child), the standard inverted-list semantics:
    untouched cells keep their lists even where a new child centroid would
    now win a flat argmin — searches pick probe cells by distance over the
    CURRENT centroid list, exactly as before. Degenerate hot cells
    (all-identical vectors) split into one full and one empty child; the
    empty directory is simply never written.

    Returns ``(new_centroids, splits)`` with ``splits[root] = (root,
    appended_child_index)``. Cost: one bounded metadata aggregate over the
    code rows + per hot cell one sample fit and a two-directory rewrite —
    never a corpus scan."""
    cents, books = load_ivfpq_model(path)
    m = len(books)
    codes = spark.read.parquet(path)
    sizes = {
        int(r["cell"]): int(r["n"])
        for r in codes.groupBy("cell")
        .agg((F.count(F.lit(1)) / m).cast("long").alias("n"))
        .collect()
    }
    hot = sorted(c for c, n in sizes.items() if n > max_cell_rows)
    new_cents = [list(c) for c in cents]
    splits: dict[int, tuple[int, int]] = {}
    if not hot:
        return new_cents, splits
    for c in hot:
        ids = codes.where(F.col("cell") == c).select(id_col).distinct()
        vecs = emb.join(ids, id_col, "left_semi").where(F.col(vec_col).isNotNull())
        x, _ = kmeans_sample(vecs, id_col, vec_col, sample_rows)
        kids = _lloyd(x, 2, iters)
        new_idx = len(new_cents)
        new_cents[c] = [float(v) for v in kids[0]]
        new_cents.append([float(v) for v in kids[1]])
        splits[c] = (c, new_idx)
        enc = _ivfpq_codes(vecs, kids, books, id_col, vec_col)
        enc = enc.withColumn(
            "cell", F.when(F.col("cell") == 0, F.lit(c)).otherwise(F.lit(new_idx))
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            _write_by_cell(enc, path, "overwrite")
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    save_ivfpq_model(new_cents, books, path)
    return new_cents, splits


def start_stream_ivfpq_ingest(
    emb_stream: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Self-maintaining ANN index: apply each micro-batch of an embedding
    stream as an ``append_to_ivfpq`` (foreachBatch — the same Structured
    Streaming → storage wiring as ``VersionedTable.start_stream_upsert``).
    Because the encode is deterministic against FIXED centroids/codebooks,
    a stream-built index is bit-identical to a batch rebuild over the same
    rows (pinned in tests/test_pq.py), and restarts resume from the
    checkpoint without re-encoding consumed batches. Centroid/codebook
    drift is handled exactly as in the batch path: periodic re-fit + full
    ``materialize_ivfpq`` rewrite, amortized over many ingest batches —
    the index stays searchable throughout since readers only ever see
    whole parquet files in ``cell=`` directories."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_to_ivfpq(
            batch_df, centroids, codebooks, path, id_col=id_col, vec_col=vec_col
        )

    writer = emb_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def search_ivfpq(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qrows=None,
) -> DataFrame:
    """IVF-PQ search against the materialized index: probe the ``nprobe``
    nearest cells per query (resolved driver-side — the query batch is small
    by definition), scan ONLY those cells' code rows under an explicit
    ``cell IN (...)`` partition filter, rank candidates by the residual-ADC
    L2 estimate (per-(query, cell) lookup tables, exact int64), then
    re-score the top ``rerank`` with exact cosine against the raw corpus and
    return the true top-k of that pool.

    Everything query-sized (LUTs: |Q|·nprobe·m·ks rows) broadcasts;
    everything corpus-sized arrives pre-pruned and pre-compressed.

    ``qrows``: pre-collected ``[(id, vector), ...]`` for the query batch —
    callers that already hold the query vectors driver-side (e.g. sliced
    from the k-means fit sample) pass them to skip this function's own
    scan-and-collect job. Must contain exactly the rows of ``queries``."""
    import numpy as np

    from arrow_parquet_logs_spark.operators.similarity import _rerank_exact

    m, ks = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    cents = np.array(centroids)
    cents_i = np.floor(cents * SCALE).astype(np.int64)
    books_i = np.array(codebooks, dtype=np.int64)  # (m, ks, sub)

    if qrows is None:
        qrows = queries.select(id_col, vec_col).collect()
    # LUT built as ONE numpy reduction, not a |Q|·nprobe·m·ks Python loop:
    # the loop form spent ~0.5 s of DRIVER time per search at 10 queries
    # (r12 profile, "p4" phase) building 20k tuples row by row — the same
    # int64 arithmetic batches to a (Q, nprobe, m, ks) tensor with
    # identical values (integer math, no reassociation) and identical
    # probe order (stable argsort rows match the per-query argsort).
    probed: set[int] = set()
    if qrows:
        qm = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])  # (Q, d)
        nq = len(qrows)
        d2c = ((qm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)  # (Q, k)
        order = np.argsort(d2c, axis=1, kind="stable")[:, :nprobe]  # (Q, nprobe)
        probed = {int(c) for c in np.unique(order)}
        qi = np.floor(qm * SCALE).astype(np.int64)  # (Q, d)
        res = qi[:, None, :] - cents_i[order]  # (Q, nprobe, d)
        resh = res.reshape(nq, nprobe, m, sub)
        # (Q, nprobe, m, ks): per-subspace LUT distances, exact int64
        d2 = ((resh[:, :, :, None, :] - books_i[None, None, :, :, :]) ** 2).sum(axis=4)
        ids = np.array([r[0] for r in qrows])
        lut_cols = {
            "q_id": np.repeat(ids, nprobe * m * ks),
            "cell": np.repeat(order.reshape(-1), m * ks).astype(np.int32),
            "j": np.tile(np.repeat(np.arange(m, dtype=np.int32), ks), nq * nprobe),
            "c": np.tile(np.arange(ks, dtype=np.int32), nq * nprobe * m),
            "part": d2.reshape(-1),
        }
    else:
        lut_cols = {"q_id": [], "cell": [], "j": [], "c": [], "part": []}
    # q_id keeps the caller's id type (string keys etc.), like the sibling
    # encode_pq/pq_adc_topk operators — no int64 assumption baked in.
    # Arrow-batched conversion: the LUT is |Q|·nprobe·m·ks rows (82k at 10
    # queries) and row-at-a-time Py4J conversion of that is slower than the
    # scan it feeds.
    import pandas as pd

    q_id_type = queries.schema[id_col].dataType.simpleString()
    lut = spark.createDataFrame(
        pd.DataFrame(lut_cols, columns=["q_id", "cell", "j", "c", "part"]),
        f"q_id {q_id_type}, cell int, j int, c int, part long",
    )

    # explicit schema: the index layout is fixed by materialize_ivfpq, so
    # inferring it costs a needless driver footer-read job per search
    codes_schema = (
        f"{id_col} {emb.schema[id_col].dataType.simpleString()}, "
        "j int, code int, cell int"
    )
    codes = (
        spark.read.schema(codes_schema)
        .parquet(path)
        .where(F.col("cell").isin(sorted(probed)))
    )
    # the code value is a JOIN KEY, not a post-join filter: joining on
    # (cell, j) alone and then filtering code == c would materialize ks×
    # more rows than survive (every code row × all 256 LUT entries of its
    # subspace) — a 256× row blow-up inside the join that only grows with
    # the corpus
    approx = (
        codes.join(
            F.broadcast(lut.withColumnRenamed("c", "code")), ["cell", "j", "code"]
        )
        .groupBy("q_id", id_col)
        .agg(F.sum("part").alias("adist"))
        .where(F.col("q_id") != F.col(id_col))
    )
    from pyspark.sql.window import Window as W

    from arrow_parquet_logs_spark.operators.topk import partial_topk

    # partial bottom-`rerank` first (operators.topk): the probed-cell ADC
    # frame never funnels into Q window partitions — the window ranks the
    # ≤ rerank·P survivors on the same (adist asc, id asc) order
    approx = partial_topk(approx, ["q_id"], [("adist", True), (id_col, True)], rerank)
    wnd = W.partitionBy("q_id").orderBy(F.col("adist"), F.col(id_col))
    short = (
        approx.withColumn("arn", F.row_number().over(wnd))
        .where(F.col("arn") <= rerank)
        .select("q_id", F.col(id_col).alias("c_id"))
    )
    return _rerank_exact(short, emb, queries, k, id_col, vec_col)


def start_stream_ivfpq_ingest_maintained(
    spark: SparkSession,
    emb_stream: DataFrame,
    path: str,
    checkpoint: str,
    emb_lookup: DataFrame,
    max_cell_rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    max_split_rounds: int = 8,
):
    """Self-MAINTAINING streaming ingest: ``start_stream_ivfpq_ingest``
    composed with ``split_hot_cells`` so the index re-balances itself as
    skewed data arrives — the full FAISS-style online maintenance loop.
    Each micro-batch (a) reloads the CURRENT model from the index (earlier
    batches may have split cells — encoding against a stale centroid list
    would route new vectors into lists whose centroid moved), (b) appends
    the batch, (c) splits hot cells until none remain or
    ``max_split_rounds`` is hit (a degenerate all-identical hot cell can
    never fall below the threshold by splitting — the bound turns that
    into loud imbalance instead of a hang).

    ``emb_lookup`` is the vector source for re-encoding split cells (the
    vector store the codes reference) — it must cover every ingested id.
    Maintenance is sequential with ingest inside ``foreachBatch``, so
    readers always see whole committed parquet files.

    **Delivery contract (honest form — ADVICE r8).** ``foreachBatch`` is
    AT-LEAST-ONCE: Spark replays a batch whenever its own offset commit
    did not complete, and a parquet append is not idempotent. Two defenses
    make the (append → maintain) pair exactly-once in every recoverable
    case and LOUD in the one that is not:

    - a **batch ledger** (``_BATCH_LEDGER.json`` beside the model, keyed
      by checkpoint location, committed atomically AFTER the pair): a
      replay of an already-committed batch id is skipped outright — the
      common restart case (crash between our ledger commit and Spark's
      offset commit) duplicates nothing;
    - an **in-flight marker** written before the append and cleared after
      the ledger commit: a replay that finds the marker WITHOUT a ledger
      entry means the previous attempt died mid-pair — the index may hold
      a partial append or a half-maintained model, and no metadata can
      say which rows landed. That state raises ``RuntimeError`` instead
      of silently re-appending (recover by rebuilding the index via
      ``materialize_ivfpq`` from the vector store, or restoring a
      backup). The bit-equality invariant of
      ``ann_ivfpq_stream_maintained`` holds because every committed batch
      ran exactly once."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivfpq_ingest_batch(
            spark, batch_df, batch_id, path, checkpoint, emb_lookup,
            max_cell_rows, id_col=id_col, vec_col=vec_col,
            max_split_rounds=max_split_rounds,
        )

    writer = emb_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ledger_path(path: str) -> str:
    return os.path.join(path, "_BATCH_LEDGER.json")


def _inflight_path(path: str) -> str:
    return os.path.join(path, "_INFLIGHT")


def _ledger_last(path: str, ckpt_key: str) -> int:
    """Highest batch id committed for this checkpoint; -1 when none.
    Batch ids are monotone per checkpoint location (a NEW checkpoint
    restarts numbering — which is why the ledger keys by checkpoint,
    never globally). The index is SINGLE-WRITER by the maintenance
    contract (split_hot_cells rewrites cell directories in place), so the
    ledger's read-modify-write never races a concurrent ingest stream."""
    import json

    try:
        with open(_ledger_path(path), encoding="utf-8") as fh:
            return int(json.load(fh).get(ckpt_key, -1))
    except FileNotFoundError:
        return -1


def _ledger_keys(path: str) -> list[str]:
    """All checkpoint keys ever committed to this index's ledger — the
    legacy-marker grace is only safe when exactly one stream has ever
    written here (ADVICE r10)."""
    import json

    try:
        with open(_ledger_path(path), encoding="utf-8") as fh:
            return list(json.load(fh).keys())
    except FileNotFoundError:
        return []


def _ledger_commit(path: str, ckpt_key: str, batch_id: int) -> None:
    import json
    import uuid

    lp = _ledger_path(path)
    try:
        with open(lp, encoding="utf-8") as fh:
            d = json.load(fh)
    except FileNotFoundError:
        d = {}
    d[ckpt_key] = int(batch_id)
    tmp = lp + f".{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(d, fh)
    os.replace(tmp, lp)  # atomic: readers never see a torn ledger


def apply_ivfpq_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    checkpoint: str,
    emb_lookup: DataFrame,
    max_cell_rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_split_rounds: int = 8,
) -> bool:
    """One (append → maintain) pair with the idempotence protocol of
    ``start_stream_ivfpq_ingest_maintained`` (see its delivery-contract
    docstring): ledger-skip for replayed committed batches, loud
    ``RuntimeError`` on a marker left by a mid-pair crash. Module-level so
    the replay behavior is directly testable. Returns True when the batch
    was applied, False when skipped (empty or already committed)."""
    if batch_df.isEmpty():
        return False
    ckpt_key = os.path.abspath(checkpoint)
    inflight = _inflight_path(path)
    torn_msg = (
        f"ivfpq index at {path} has an in-flight ingest batch "
        "(previous attempt died between append and commit); the code "
        "rows / model may be torn — rebuild via materialize_ivfpq "
        "from the vector store (or restore a backup), then delete "
        f"{inflight}"
    )
    if batch_id <= _ledger_last(path, ckpt_key):
        # replayed after a completed commit: exactly-once restored. A
        # marker may survive a crash in the tiny window between ledger
        # commit and marker removal — but ONLY a marker whose own
        # ``ckpt:batch`` content names an already-committed ledger entry
        # is that stale window (ADVICE r9: the marker is index-global
        # while the ledger is checkpoint-keyed, so an unconditional
        # removal here would silently mask a torn pair left by a
        # DIFFERENT checkpoint's stream if the single-writer contract
        # were ever violated). A LEGACY bare-int marker (pre-ckpt-key
        # format) carries no checkpoint — grant it exactly the grace the
        # old protocol gave: stale iff ITS batch id is committed for the
        # replaying checkpoint (new-format markers always carry their
        # checkpoint, so a foreign torn pair still goes loud) — and ONLY
        # when the ledger holds exactly one checkpoint key, this one
        # (ADVICE r10: with two streams in the ledger's history a bare
        # int could have been left by the OTHER one; judging it against
        # the replaying checkpoint would mask a foreign torn pair, so
        # multi-checkpoint ledgers get no legacy grace). Every legacy
        # removal is logged. Anything else — an uncommitted batch, a
        # garbled marker — raises.
        if os.path.exists(inflight):
            legacy = False
            try:
                with open(inflight, encoding="utf-8") as fh:
                    m_ckpt, sep, m_bid = fh.read().strip().rpartition(":")
                if sep:
                    stale = int(m_bid) <= _ledger_last(path, m_ckpt)
                else:
                    legacy = True
                    stale = _ledger_keys(path) == [ckpt_key] and int(
                        m_bid
                    ) <= _ledger_last(path, ckpt_key)
            except (OSError, ValueError):
                stale = False
            if not stale:
                raise RuntimeError(torn_msg)
            if legacy:
                import logging

                logging.getLogger(__name__).warning(
                    "removing legacy (pre-ckpt-key) in-flight marker at %s:"
                    " batch %s is committed for the single ledger"
                    " checkpoint %s", inflight, m_bid, ckpt_key,
                )
            os.remove(inflight)
        return False
    if os.path.exists(inflight):
        raise RuntimeError(torn_msg)
    with open(inflight, "w", encoding="utf-8") as fh:
        fh.write(f"{ckpt_key}:{int(batch_id)}")
    cents, books = load_ivfpq_model(path)
    append_to_ivfpq(batch_df, cents, books, path, id_col=id_col, vec_col=vec_col)
    maintain_ivfpq(
        spark, path, emb_lookup, max_cell_rows,
        id_col=id_col, vec_col=vec_col, max_split_rounds=max_split_rounds,
    )
    _ledger_commit(path, ckpt_key, batch_id)
    os.remove(inflight)
    return True


def maintain_ivfpq(
    spark: SparkSession,
    path: str,
    emb_lookup: DataFrame,
    max_cell_rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_split_rounds: int = 8,
) -> int:
    """Split hot cells until the index is balanced (≤ ``max_cell_rows``
    per cell) or ``max_split_rounds`` passes ran. Returns the number of
    splits applied. One pass splits every currently-hot cell once; a child
    that is still hot is caught by the next pass, so rounds needed is
    log₂(max_cell/threshold) — 8 covers a 256× overshoot."""
    total = 0
    for _ in range(max_split_rounds):
        _, splits = split_hot_cells(
            spark, path, emb_lookup, max_cell_rows, id_col=id_col, vec_col=vec_col
        )
        if not splits:
            break
        total += len(splits)
    return total
