"""Operator-level unit tests: recall guarantees, plumbing shapes, plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_parquet_logs_spark.operators import dedup as D
from arrow_parquet_logs_spark.operators import multimodal as M
from arrow_parquet_logs_spark.operators import text as X
from arrow_parquet_logs_spark.plans.inspect import assert_broadcast, assert_pushed_filters, explain_str
from arrow_parquet_logs_spark.sources.tables import load_table


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    row = df.select(X.distinct_shingles("text", 3).alias("s")).head()
    assert row.s == ["one two"]


def test_minhash_lsh_catches_known_nearduos(spark, sf_dir):
    """LSH output must equal brute-force output at high jaccard (0.9+ pairs
    collide in some band with overwhelming probability at 8×4)."""
    docs = load_table(spark, sf_dir, "documents")
    brute = {
        (r.a_id, r.b_id)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {(r.a_id, r.b_id) for r in D.minhash_lsh_pairs(docs, threshold=0.9).collect()}
    assert brute, "fixture should contain 0.9+ near-dup pairs"
    assert lsh == brute


def test_minhash_pandas_matches_catalyst(spark, sf_dir):
    """The mapInPandas signature stage must reproduce the Catalyst recipe
    the SQL oracles replay bit-for-bit — shingles (``text.distinct_shingles``),
    signatures (``hash64`` + affine min) AND the stored LSH band keys — on
    the real corpus plus the tokenization edge cases (trailing whitespace
    kept as empty token by split's limit=-1, ASCII-only \\s, empty doc →
    [''] token, NULL text)."""
    from arrow_parquet_logs_spark.functions.hashing import MINHASH_P, minhash_coeffs
    from arrow_parquet_logs_spark.functions.hashing import hash64
    from arrow_parquet_logs_spark.operators.dedup import _band_keys_from_sigs, _minhash_sets

    edge = spark.createDataFrame(
        [(9001, "foo\t"), (9002, "\tfoo bar baz"), (9003, ""), (9004, "  "),
         (9005, "a\xa0b c d e"), (9006, "x\n\ny z w"), (9007, None)],
        "doc_id long, text string",
    )
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200).unionByName(edge)
    )
    k, bands = 32, 8
    ca, cb = minhash_coeffs(k)
    sets = docs.select(F.col("doc_id").alias("sid"), X.distinct_shingles("text", 3).alias("sh"))
    hashes = sets.select("sid", F.explode("sh").alias("g")).select(
        "sid", (hash64(F.col("g")) % MINHASH_P).alias("h")
    )
    sig_cols = hashes.groupBy("sid").agg(
        *[F.min((F.lit(ca[i]) * F.col("h") + F.lit(cb[i])) % MINHASH_P).alias(f"s{i}")
          for i in range(k)]
    )
    cat = {r["sid"]: list(r[1:]) for r in sig_cols.collect()}
    cat_sh = {r["sid"]: sorted(r["sh"]) for r in sets.collect()}
    rows = k // bands
    cat_keys = sorted(
        tuple(r)
        for r in sig_cols.select(
            "sid",
            F.explode(F.array(*[
                F.md5(F.concat(
                    F.lit(f"{b}:"),
                    F.concat_ws(",", *[F.col(f"s{b * rows + j}").cast("string")
                                       for j in range(rows)]),
                ))
                for b in range(bands)
            ])).alias("band_key"),
        ).collect()
    )
    pd_sets = _minhash_sets(docs, "doc_id", "text", 3, k)
    pd_rows = pd_sets.collect()
    assert {r["sid"]: r["sig"] for r in pd_rows} == cat
    assert {r["sid"]: sorted(r["sh"]) for r in pd_rows} == cat_sh
    assert sorted(map(tuple, _band_keys_from_sigs(pd_sets, k, bands).collect())) == cat_keys


def test_simhash_banding_equals_bruteforce(spark, sf_dir):
    """Pigeonhole guarantee: chunk-join recall is exact for hamming ≤ 3."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    sig = D.simhash(docs)
    brute = (
        sig.alias("a")
        .join(sig.alias("b"), F.col("a.sid") < F.col("b.sid"))
        .selectExpr("a.sid a_id", "b.sid b_id", "CAST(bit_count(a.simhash ^ b.simhash) AS INT) hamming")
        .where("hamming <= 3")
    )
    banded = D.simhash_pairs(docs, max_hamming=3)
    assert sorted(map(tuple, banded.collect())) == sorted(map(tuple, brute.collect()))


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    )
    rows = {r.keep_id: r.n_copies for r in D.exact_dedup_groups(df).collect()}
    assert rows == {1: 2, 3: 1}


def test_keep_latest_survivor(spark):
    df = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 20), (3, "j", 5)], "event_id long, key string, ts long"
    )
    rows = {r.key: r.event_id for r in D.keep_latest(df, ["key"], "ts", "event_id").collect()}
    assert rows == {"k": 2, "j": 3}


def test_lang_id_fallback_und(spark):
    df = spark.createDataFrame([(1, "zzz qqq xxx")], "doc_id long, text string")
    row = X.lang_id(df, spark).head()
    assert row.pred_lang == "und" and row.marker_hits == 0


# ---- multimodal plumbing ---------------------------------------------------
def test_attach_media_schema_and_digest(spark):
    df = spark.createDataFrame([(1, bytearray(b"payload-bytes"))], "id long, raw binary")
    m = M.attach_media(df, "raw", "image", "heic")
    row = m.head()
    assert row.media.byte_len == 13
    assert len(row.media.sha256) == 64
    assert m.schema["media"].dataType["media_type"].dataType.simpleString() == "string"


def test_decode_media_raises_without_codecs(spark):
    df = M.attach_media(
        spark.createDataFrame([(1, bytearray(b"x"))], "id long, raw binary"), "raw", "image", "heic"
    )
    with pytest.raises(NotImplementedError):
        M.decode_media(df)


def test_decode_media_stub_deterministic(spark):
    df = M.attach_media(
        spark.createDataFrame(
            [(i, bytearray(f"payload-{i}".encode())) for i in range(10)], "id long, raw binary"
        ),
        "raw",
        "image",
        "heic",
    )
    out1 = sorted(map(tuple, M.decode_media(df, allow_fake=True).collect()))
    out2 = sorted(map(tuple, M.decode_media(df.repartition(4), allow_fake=True).collect()))
    assert out1 == out2  # partitioning-invariant
    assert all(16 <= r[3] < 80 for r in out1)  # width in stub range


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, bytearray(b"v"))], "id long, raw binary")
    media = M.attach_media(df, "raw", "video", "mp4").withColumn(
        "media", F.col("media").withField("duration_ms", F.lit(3500).cast("long"))
    )
    frames = M.frame_sample_plan(media, every_ms=1000)
    assert [r.frame_ts_ms for r in frames.collect()] == [0, 1000, 2000]


# ---- plan shape assertions (the 100 TB checks) -----------------------------
def test_ts_range_scan_pushes_filters(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") >= 45).select("l_orderkey", "l_quantity")
    assert_pushed_filters(q, "GreaterThanOrEqual(l_quantity,45.0)")
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in explain_str(q)


def test_events_range_pushes_raw_ns_filters(spark, sf_dir):
    """The events time range must push to the parquet scan on the column's
    NATIVE type (a filter through the normalizing cast pushes nothing).
    Spark ≤4.0 reads the NANOS column as a raw ns long (nanosAsLong); 4.1+
    reads it natively as TIMESTAMP_NTZ — assert the matching pushed shape."""
    from arrow_parquet_logs_spark.sources.tables import load_events_range

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = load_events_range(spark, sf_dir, "2024-01-05 00:00:00", "2024-01-12 00:00:00")
    if dict(raw.dtypes).get("ts") == "bigint":
        assert_pushed_filters(
            df,
            "GreaterThanOrEqual(ts,1704412800000000000)",
            "LessThanOrEqual(ts,1705017600000000999)",
        )
    else:
        # match filter name + column + date prefix only: the rendered
        # LocalDateTime literal elides zero seconds in some Spark releases
        # ("2024-01-05T00:00" vs "...T00:00:00"), so pinning the full text
        # would break on a version bump without any behavior change
        assert_pushed_filters(
            df,
            "GreaterThanOrEqual(ts,2024-01-05",
            "LessThanOrEqual(ts,2024-01-12",
        )


def test_dim_join_broadcasts(spark, sf_dir):
    from arrow_parquet_logs_spark.queries import REGISTRY

    assert_broadcast(REGISTRY["brand_revenue_broadcast"].fn(spark, sf_dir))
    assert_broadcast(REGISTRY["tpch_q5_region_volume"].fn(spark, sf_dir), 2)


def test_srp_lsh_finds_exact_duplicates(spark):
    """SRP-LSH recall guarantee at hamming 0: identical vectors share every
    signature chunk, so a duplicated vector MUST surface as its twin's
    top-1 with cosine 1.0 regardless of bucket randomness."""
    from arrow_parquet_logs_spark.operators.similarity import srp_lsh_topk

    base = [0.5, -0.25, 0.125, 0.75, -0.5, 0.3, -0.1, 0.2]
    rows = [(0, base), (1, base), (2, [-x for x in base]), (3, [0.9, 0.1, 0.0, -0.3, 0.2, 0.6, -0.7, 0.05])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = srp_lsh_topk(emb, emb.where(F.col("vec_id") == 0), k=3).collect()
    assert out, "duplicate vector produced no candidates"
    top = out[0]
    assert (top["q_id"], top["vec_id"], top["rn"]) == (0, 1, 1)
    assert abs(top["cosine"] - 1.0) < 1e-9


def test_resize_media_stub_contract(spark):
    """Resize plumbing: gated without codecs, deterministic and
    partitioning-invariant with the stub, bounded output payload size."""
    df = M.attach_media(
        spark.createDataFrame(
            [(i, bytearray(f"img-{i}".encode())) for i in range(6)], "id long, raw binary"
        ),
        "raw",
        "image",
        "heic",
    )
    with pytest.raises(NotImplementedError):
        M.resize_media(df, 32, 32)
    out1 = sorted((r.id, bytes(r.resized_payload), r.resized_sha256, r.width, r.height)
                  for r in M.resize_media(df, 32, 32, allow_fake=True).collect())
    out2 = sorted((r.id, bytes(r.resized_payload), r.resized_sha256, r.width, r.height)
                  for r in M.resize_media(df.repartition(3), 32, 32, allow_fake=True).collect())
    assert out1 == out2
    assert all(len(p) == (32 * 32) // 64 for _, p, *_ in out1)
    assert all((w, h) == (32, 32) for *_, w, h in out1)


def test_new_pandas_operators_empty_inputs(spark):
    """Every pandas/numpy-boundary operator must survive EMPTY inputs —
    Catalyst never probes them that way, composed pipelines do (recurring
    bug class)."""
    from arrow_parquet_logs_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from arrow_parquet_logs_spark.operators.similarity import srp_lsh_topk

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert srp_lsh_topk(empty_emb, empty_emb).count() == 0
    one = spark.createDataFrame([(1, [0.1] * 8)], "vec_id long, embedding array<float>")
    assert srp_lsh_topk(one, one.where("vec_id < 0")).count() == 0
    empty_media = M.attach_media(
        spark.createDataFrame([], "id long, raw binary"), "raw", "image", "heic"
    )
    assert M.resize_media(empty_media, 32, 32, allow_fake=True).count() == 0


def test_srp_external_and_null_queries(spark):
    """SRP must bucket external query sets by their OWN vectors (ids absent
    from the corpus, or colliding ids with different vectors), and NULL
    vectors must be dropped, not collapse the whole corpus to empty."""
    from arrow_parquet_logs_spark.operators.similarity import srp_lsh_topk

    base = [0.5, -0.25, 0.125, 0.75, -0.5, 0.3, -0.1, 0.2]
    corpus = spark.createDataFrame(
        [(0, None), (1, base), (2, [x * 0.5 for x in base])],
        "vec_id long, embedding array<float>",
    )
    # external id 99 not in corpus, same direction as base → must find id 1
    ext = spark.createDataFrame([(99, [x * 2.0 for x in base])], "vec_id long, embedding array<float>")
    out = srp_lsh_topk(corpus, ext, k=2).collect()
    assert out and out[0]["q_id"] == 99 and out[0]["vec_id"] in (1, 2)
    assert abs(out[0]["cosine"] - 1.0) < 1e-9  # same direction, unit cosine


def test_ngram_df_cap_defuses_hot_shingle(spark):
    """Adversarial corpus: one boilerplate shingle shared by every doc. The
    df-cap must bound the inverted-index join (candidates from the hot
    shingle drop out) while pairs sharing non-hot shingles survive; jaccard
    never over-counts."""
    from arrow_parquet_logs_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "click here to subscribe"
    docs = [(i, f"{boiler} unique{i} token{i} filler{i}") for i in range(200)]
    # one true near-dup pair sharing real content
    docs.append((500, "the quick brown fox jumps over the lazy dog tail"))
    docs.append((501, "the quick brown fox jumps over the lazy dog paw"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_shingle_df=50)
    rows = capped.collect()
    assert {(r.a_id, r.b_id) for r in rows} == {(500, 501)}, rows
    # uncapped: the boilerplate shingle makes every doc pair a candidate
    # (they stay below threshold, but the join blow-up is the point)
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_shingle_df=None)
    assert {(r.a_id, r.b_id) for r in uncapped.collect()} >= {(500, 501)}
    # exactness in the capped-but-not-binding regime: same output
    loose = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_shingle_df=10_000)
    assert sorted(map(tuple, loose.collect())) == sorted(map(tuple, uncapped.collect()))


def test_ngram_df_cap_is_sortless_broadcast_anti(spark):
    """The df-cap must not sort the exploded inverted index: an earlier
    window-function form (`count().over(partitionBy(g))`) reused the join's
    exchange but forced a full per-partition SORT of the index — ~3 s at
    sf0.1 for a cap that removed nothing. The aggregate form's plan must
    show (a) a broadcast LEFT ANTI join applying the cap (never a shuffled
    anti-join of the index) and (b) no Window operator at all."""
    from arrow_parquet_logs_spark.operators.dedup import ngram_jaccard_pairs
    from arrow_parquet_logs_spark.plans.inspect import explain_str

    # under the cheap worst-case bound (cap·rows <= budget — every gated
    # SF): the ORIGINAL single-job plan with the fused broadcast anti
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    plan = explain_str(ngram_jaccard_pairs(df, n=3, threshold=0.1))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin LeftAnti" not in plan and "ShuffledHashJoin LeftAnti" not in plan, plan

    # budget branch with drops: the cap still applies as a BROADCAST anti
    # (small hot set), never a shuffled anti, never a window
    hot_docs = [(i, f"x y z unique{i}") for i in range(30)]
    dfh = spark.createDataFrame(hot_docs, "doc_id long, text string")
    plan_h = explain_str(ngram_jaccard_pairs(
        dfh, n=3, threshold=0.1, max_shingle_df=5, join_work_budget=10))
    assert "Window" not in plan_h, plan_h
    assert "BroadcastHashJoin LeftAnti" in plan_h, plan_h
    assert "SortMergeJoin LeftAnti" not in plan_h and "ShuffledHashJoin LeftAnti" not in plan_h, plan_h


def test_connected_components_regimes_agree(spark):
    """The bounded-graph union-find fast path and the distributed
    propagation loop (forced via driver_edge_cap=0) must produce identical
    labels — long chain (diameter 40), star with non-min hub, singleton
    edge, disjoint components, and string ids."""
    from arrow_parquet_logs_spark.operators.dedup import connected_components

    cases = [
        ([(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)],
         "a_id long, b_id long"),
        ([(5, 1), (5, 2), (5, 3), (9, 9)], "a_id long, b_id long"),
        ([("b", "a"), ("b", "c"), ("x", "y")], "a_id string, b_id string"),
    ]
    for rows, schema in cases:
        df = spark.createDataFrame(rows, schema)
        fast = {r.doc_id: (r.cluster_id, r.is_canonical)
                for r in connected_components(df).collect()}
        dist = {r.doc_id: (r.cluster_id, r.is_canonical)
                for r in connected_components(df, driver_edge_cap=0).collect()}
        assert fast == dist, (schema, fast, dist)
    # chain semantics: A~B, B~C ⇒ one cluster labeled by the min id
    chain = spark.createDataFrame([(3, 2), (2, 1)], "a_id long, b_id long")
    out = {r.doc_id: r.cluster_id for r in connected_components(chain).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_lsh_band_flood_collapses_exact_dups(spark):
    """Adversarial corpus: 10,000 byte-identical short docs — every one
    shares every band key, so pair semantics would materialize ~5*10^7
    candidates. Exact-collapse must reduce them to one representative +
    star edges, complete quickly, and connected_components must still
    report the full duplicate cluster."""
    import time

    from arrow_parquet_logs_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    flood = [(i, "click here to win a prize now") for i in range(10_000)]
    flood.append((20_000, "the quick brown fox jumps over the lazy dog tail"))
    flood.append((20_001, "the quick brown fox jumps over the lazy dog paw"))
    df = spark.createDataFrame(flood, "doc_id long, text string")

    t0 = time.time()
    pairs = minhash_lsh_pairs(df, threshold=0.6)
    rows = pairs.collect()
    elapsed = time.time() - t0
    # star edges: canonical 0 -> each of 9,999 members at jaccard exactly 1.0
    stars = [(r.a_id, r.b_id) for r in rows if r.jaccard == 1.0 and r.a_id == 0]
    assert len(stars) == 9_999
    assert elapsed < 120, f"band flood took {elapsed:.0f}s — quadratic blow-up"
    clusters = connected_components(pairs)
    sizes = {r.cluster_id: 0 for r in clusters.collect()}
    for r in clusters.collect():
        sizes[r.cluster_id] += 1
    assert sizes[0] == 10_000  # the flood is ONE cluster, canonical id 0
    assert sizes.get(20_000) == 2  # the genuine near-dup pair survives as its own cluster


def test_round2_operators_empty_and_degenerate_inputs(spark):
    """Empty/degenerate inputs must return empty frames (or no-op), never
    throw: epsilon-complete embedding dedup needs >=k vectors to fit, so it
    must raise the loud fit error, not a cryptic one; collapse/df-cap paths
    handle empty corpora; frame planning handles NULL durations."""
    import pytest as _pytest

    from arrow_parquet_logs_spark.operators.dedup import (
        embedding_dup_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from arrow_parquet_logs_spark.operators.multimodal import attach_media, frame_sample_plan

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs, max_shingle_df=10).count() == 0

    few = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="need"):
        embedding_dup_pairs(few, k_cells=16).count()

    # zero vector: null unit vector falls out of the candidate join
    zeros = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(10)] + [(99, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_dup_pairs(zeros, threshold=0.99, k_cells=2, kmeans_iters=2).collect()
    assert all(r.a_id != 99 and r.b_id != 99 for r in pairs), pairs

    media = attach_media(
        spark.createDataFrame([(1, b"x")], "id long, raw binary"), "raw", "video", "mp4"
    )
    assert frame_sample_plan(media).count() == 0  # NULL duration -> no frames


def _ppm(w, h, rows):
    """rows: h lists of w (r,g,b) tuples → binary P6 bytes."""
    body = bytes(c for row in rows for px in row for c in px)
    return b"P6\n# t\n%d %d\n255\n" % (w, h) + body


def _bmp24(w, h, rows):
    """rows: h lists of w (r,g,b), top row first → bottom-up 24-bit BMP."""
    import struct

    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in reversed(rows):  # bottom-up storage
        line = bytes(c for (r, g, b) in row for c in (b, g, r))  # BGR
        raster += line + b"\x00" * (stride - len(line))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 54)
    return head + info + raster


def test_decode_media_real_ppm_and_bmp(spark):
    """PPM/BMP decode is REAL (pure numpy, no codec): exact dimensions and
    exact integer-rational Rec.601 mean luma — and raw-decodable-only
    frames need no allow_fake gate at all."""
    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    # exact: (299*255 + 587*255 + 114*255 + (299+587+114)*255) / (1000*255*4)
    want_luma = (299 + 587 + 114 + 1000) / 4000
    payloads = [(1, bytearray(_ppm(2, 2, px)), "ppm"), (2, bytearray(_bmp24(2, 2, px)), "bmp")]
    df = spark.createDataFrame(payloads, "id long, raw binary, fmt string")
    media = df.select(
        "id",
        F.struct(
            F.col("raw").alias("payload"),
            F.lit("image").alias("media_type"),
            F.col("fmt").alias("format"),
            F.length("raw").cast("long").alias("byte_len"),
            F.sha2("raw", 256).alias("sha256"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media"),
    )
    out = {r.id: r for r in M.decode_media(media).collect()}  # no allow_fake
    for i in (1, 2):
        assert (out[i].width, out[i].height) == (2, 2)
        assert out[i].mean_luma == want_luma, (i, out[i].mean_luma, want_luma)


def test_resize_media_real_ppm_nearest_neighbor(spark):
    """Real resize: 4x4 quadrant image → 2x2 picks the quadrant corners
    (src = floor(dst*4/2)), output re-encoded as decodable PPM."""
    from arrow_parquet_logs_spark.operators.multimodal import _decode_ppm

    q = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (200, 210, 220)]
    rows = [
        [q[0], q[0], q[1], q[1]],
        [q[0], q[0], q[1], q[1]],
        [q[2], q[2], q[3], q[3]],
        [q[2], q[2], q[3], q[3]],
    ]
    df = spark.createDataFrame([(7, bytearray(_ppm(4, 4, rows)))], "id long, raw binary")
    media = M.attach_media(df, "raw", "image", "ppm")
    r = M.resize_media(media, 2, 2).collect()[0]
    assert (r.width, r.height) == (2, 2)
    w, h, small = _decode_ppm(bytes(r.resized_payload))
    assert (w, h) == (2, 2)
    got = [tuple(small[y][x]) for y in range(2) for x in range(2)]
    assert got == [q[0], q[1], q[2], q[3]], got


def test_raw_decoders_roundtrip_property():
    """Property: encode→decode is identity for arbitrary small images, for
    both raw formats, including BMP row padding (w not divisible by 4) and
    top-down BMP storage (negative height). Pure numpy — no Spark."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from arrow_parquet_logs_spark.operators.multimodal import _decode_bmp, _decode_ppm

    @settings(max_examples=50, deadline=None)
    @given(
        st.integers(1, 9),
        st.integers(1, 9),
        st.randoms(use_true_random=False),
        st.booleans(),
    )
    def check(w, h, rng, top_down):
        px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
               for _ in range(w)] for _ in range(h)]
        want = np.array(px, dtype=np.uint8)
        pw, ph, dec = _decode_ppm(_ppm(w, h, px))
        assert (pw, ph) == (w, h) and (dec == want).all()
        bw, bh, dec = _decode_bmp(_bmp24(w, h, px))
        assert (bw, bh) == (w, h) and (dec == want).all()
        if top_down:
            # same visual image stored top-down: _bmp24 writes the rows
            # bottom-up, so feeding it the flipped image puts the raster in
            # visual order; negating the height tells the decoder NOT to
            # flip — decode must equal the original image
            import struct

            buf = bytearray(_bmp24(w, h, px[::-1]))
            struct.pack_into("<i", buf, 22, -h)
            bw, bh, dec = _decode_bmp(bytes(buf))
            assert (bw, bh) == (w, h) and (dec == want).all()

    check()


def test_raw_decoders_reject_malformed():
    import pytest as _pytest

    from arrow_parquet_logs_spark.operators.multimodal import _decode_bmp, _decode_ppm

    with _pytest.raises(ValueError):
        _decode_ppm(b"P5\n1 1\n255\nx")  # grayscale PGM, not P6
    with _pytest.raises(ValueError):
        _decode_ppm(_ppm(1, 1, [[(1, 2, 3)]]).replace(b"255", b"65535"))
    with _pytest.raises(ValueError):
        _decode_bmp(b"XX" + b"\x00" * 60)


def test_pii_scrub_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org, call 555-123-4567 from 10.0.0.1"),
            (2, "clean text, no pii, version 1.2.3 stays"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in X.pii_scrub(df).collect()}
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4) == (2, 1, 1)
    assert rows[1].clean_text == "mail [EMAIL] and [EMAIL], call [PHONE] from [IP]"
    # a bare version string must NOT be redacted as an IP (needs 4 octets)
    assert (rows[2].n_email, rows[2].n_phone, rows[2].n_ipv4) == (0, 0, 0)
    assert rows[2].clean_text == "clean text, no pii, version 1.2.3 stays"
    assert rows[3].clean_text == ""


def test_span_dedup_keep_first_and_reassembly(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p q r s t"),
            (2, "a b c d e f g h i j z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
            (3, "k l m n o p q r s t a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in X.span_dedup(df).collect()}
    # doc 1 owns both blocks (lowest doc_id)
    assert (rows[1].n_dropped, rows[1].clean_text.split()[0]) == (0, "a")
    # doc 2 loses its first block, keeps its unique tail
    assert rows[2].n_dropped == 1 and rows[2].clean_text.startswith("z1")
    # doc 3 duplicates both of doc 1's blocks in swapped order -> empty
    assert rows[3].n_dropped == 2 and rows[3].clean_text == ""


def test_boilerplate_scrub_df_threshold(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows_in = [(i, f"{shared} unique{i} " + " ".join(f"t{i}x{j}" for j in range(9)))
               for i in range(5)]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    # threshold 5: the shared block appears in all 5 docs -> scrubbed everywhere
    out = {r.doc_id: r for r in X.boilerplate_scrub(df, min_docs=5).collect()}
    assert all(out[i].n_dropped == 1 and not out[i].clean_text.startswith("w1") for i in range(5))
    # threshold 6: nothing qualifies
    out6 = {r.doc_id: r for r in X.boilerplate_scrub(df, min_docs=6).collect()}
    assert all(out6[i].n_dropped == 0 for i in range(5))


def test_url_extract_domains(spark):
    df = spark.createDataFrame(
        [(1, "go to https://a.example.com/x/y and http://b.org plain text 1.2.3")],
        "doc_id long, text string",
    )
    got = sorted((r.url, r.domain) for r in X.url_extract(df).collect())
    assert got == [
        ("http://b.org", "b.org"),
        ("https://a.example.com/x/y", "a.example.com"),
    ]


def test_span_ops_empty_and_single_doc(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert X.span_dedup(empty).count() == 0
    assert X.boilerplate_scrub(empty).count() == 0
    assert X.url_extract(empty).count() == 0
    one = spark.createDataFrame([(7, "just one tiny doc")], "doc_id long, text string")
    r = X.span_dedup(one).collect()[0]
    assert (r.n_chunks, r.n_dropped, r.clean_text) == (1, 0, "just one tiny doc")
    # a doc whose text is empty still yields its (empty) chunk row
    blank = spark.createDataFrame([(1, "")], "doc_id long, text string")
    rb = X.span_dedup(blank).collect()[0]
    assert rb.n_chunks == 1 and rb.clean_text == ""


def test_wav_decoder_roundtrip_and_rejection():
    import struct

    import numpy as np
    import pytest as _pytest

    from arrow_parquet_logs_spark.operators.multimodal import _decode_wav

    def wav(samples, sr=44100, fmt=1, bits=16, ch=1):
        data = b"".join(struct.pack("<h", s) for s in samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, fmt, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    sr, s = _decode_wav(wav([0, 100, -100, 32767, -32768]))
    assert sr == 44100 and list(s) == [0, 100, -100, 32767, -32768]
    with _pytest.raises(ValueError):
        _decode_wav(b"OGGS" + b"\x00" * 40)          # wrong container
    with _pytest.raises(ValueError):
        _decode_wav(wav([1, 2], fmt=3))               # float PCM
    # stereo now decodes (exact floor-mean downmix, own tests); 4-channel
    # stays rejected
    with _pytest.raises(ValueError):
        _decode_wav(wav([1, 2, 3, 4], ch=4))
    with _pytest.raises(ValueError):
        _decode_wav(wav([1, 2])[:20])                 # truncated: no data chunk


def test_audio_features_gate_and_values(spark):
    import struct

    from arrow_parquet_logs_spark.operators.multimodal import attach_media, audio_features

    data = b"".join(struct.pack("<h", s) for s in (3, -4, 0, 5))
    payload = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 1000, 2000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame([(1, payload)], "id long, raw binary")
    media = attach_media(df, "raw", "audio", "wav")
    r = audio_features(media).collect()[0]
    # sum_sq = 9+16+0+25; zero crossings at 3→-4 and -4→0 (sign(0)=+)
    assert (r.sample_rate, r.n_samples, r.duration_us, r.sum_sq, r.zero_crossings) == (
        1000, 4, 4000, 50, 2,
    )
    mp3 = attach_media(df, "raw", "audio", "mp3")
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        audio_features(mp3).collect()


# ---- real PNG decode (stdlib zlib + numpy unfilter) ------------------------
def _encode_png_py(px, color_type, filters):
    """Reference PNG encoder for tests: applies the requested scanline
    filter per row (forward direction, per PNG spec §9) and deflates with
    stdlib zlib — independent of the decoder under test."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape if px.ndim == 3 else (*px.shape, 1)
    px = px.reshape(h, w, ch).astype(np.int64)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b""
    prev = np.zeros((w, ch), dtype=np.int64)
    for y in range(h):
        ft = filters[y % len(filters)]
        row = px[y]
        filt = np.zeros((w, ch), dtype=np.int64)
        left = np.zeros(ch, dtype=np.int64)
        ul = np.zeros(ch, dtype=np.int64)
        for x in range(w):
            orig = row[x]
            if ft == 0:
                v = orig
            elif ft == 1:
                v = (orig - left) % 256
            elif ft == 2:
                v = (orig - prev[x]) % 256
            elif ft == 3:
                v = (orig - (left + prev[x]) // 2) % 256
            else:  # Paeth
                up = prev[x]
                p = left + up - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
                v = (orig - pred) % 256
                ul = up
            filt[x] = v
            left = orig
        raw += bytes([ft]) + filt.astype("uint8").tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_and_colortypes():
    """_decode_png must invert every scanline filter (None/Sub/Up/Average/
    Paeth, including mixed per-row) for gray, RGB and RGBA at 8-bit depth."""
    import numpy as np

    rng = np.random.default_rng(7)
    for ct, ch in [(0, 1), (2, 3), (6, 4)]:
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            px = rng.integers(0, 256, size=(9, 7, ch), dtype=np.int64)
            w, h, out = M._decode_png(_encode_png_py(px, ct, filters))
            assert (w, h) == (7, 9)
            if ch == 1:
                exp = np.repeat(px, 3, axis=2)
            elif ch == 4:
                exp = px[:, :, :3]
            else:
                exp = px
            assert (out.astype(np.int64) == exp).all(), (ct, filters)


def test_png_decode_error_paths():
    import numpy as np

    with pytest.raises(ValueError, match="not a PNG"):
        M._decode_png(b"nope")
    good = _encode_png_py(np.arange(12).reshape(2, 2, 3), 2, [0])
    corrupt = good[:20] + bytes([good[20] ^ 0xFF]) + good[21:]
    with pytest.raises(ValueError, match="CRC"):
        M._decode_png(corrupt)
    # truncated: signature + IHDR only, no IDAT
    with pytest.raises(ValueError, match="IHDR/IDAT"):
        M._decode_png(good[:33])


def test_png_decode_adam7_interlaced():
    """Adam7: seven independently filtered sub-images scattered back into
    the pixel grid — pinned against a zlib-compressed stream built by an
    independent encoder over many raster sizes (including degenerate ones
    where most passes are empty)."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rng = np.random.default_rng(11)
    for w, h in [(1, 1), (2, 2), (3, 1), (1, 9), (5, 7), (8, 8), (16, 5), (9, 10)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = bytearray()
        for x0, y0, dx, dy in M._ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for j in range(sub.shape[0]):
                # alternate None/Up filters inside the pass raster
                if j % 2 == 0:
                    raw += b"\x00" + sub[j].tobytes()
                else:
                    raw += b"\x02" + ((sub[j].astype(np.int64)
                                       - sub[j - 1]) % 256).astype(np.uint8).tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
        buf = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )
        got_w, got_h, out = M._decode_png(buf)
        assert (got_w, got_h) == (w, h)
        assert (out == px).all(), (w, h)


def test_png_decode_16bit_depth():
    """16-bit samples (big-endian pairs) reduce to their high byte; the
    filter unit is bytes-per-pixel (6 for 16-bit RGB), so a Sub-filtered
    16-bit row only reconstructs if bpp is honored."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rng = np.random.default_rng(13)
    for color, ch in [(0, 1), (2, 3), (6, 4)]:
        px = rng.integers(0, 65536, size=(3, 4, ch), dtype=np.uint16)
        rows = px.astype(">u2").reshape(3, -1).view(np.uint8)
        raw = bytearray()
        bpp = ch * 2
        for y in range(3):
            if y == 1:  # Sub filter: subtract the byte bpp positions left
                line = rows[y].astype(np.int64)
                out = line.copy()
                out[bpp:] = (line[bpp:] - line[:-bpp]) % 256
                raw += b"\x01" + out.astype(np.uint8).tobytes()
            else:
                raw += b"\x00" + rows[y].tobytes()
        ihdr = struct.pack(">IIBBBBB", 4, 3, 16, color, 0, 0, 0)
        buf = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )
        _, _, out = M._decode_png(buf)
        hi = (px >> 8).astype(np.uint8)
        if ch == 1:
            exp = np.repeat(hi[:, :, None].reshape(3, 4, 1), 3, axis=2)
        elif ch == 4:
            exp = hi[:, :, :3]
        else:
            exp = hi
        assert (out == exp).all(), color
    # 16-bit palette is not a legal PNG combination → loud reject
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00")) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette"):
        M._decode_png(bad)


def test_ima_adpcm_decode_statemachine():
    """IMA ADPCM: predictor header emitted as sample 0, then 4-bit codes
    low-nibble-first through the step-table state machine with int16 and
    index clamps — cross-checked against an independent straight-line
    reimplementation over random blocks, plus container-level wiring."""
    import struct

    import numpy as np

    def ref(data, ba):
        out = []
        for b0 in range(0, len(data) // ba * ba, ba):
            blk = data[b0 : b0 + ba]
            pred = int.from_bytes(blk[0:2], "little", signed=True)
            idx = blk[2]
            out.append(pred)
            for byte in blk[4:]:
                for n in (byte % 16, byte // 16):
                    step = M._IMA_STEPS[idx]
                    d = (step >> 3) + (step if n & 4 else 0) \
                        + ((step >> 1) if n & 2 else 0) + ((step >> 2) if n & 1 else 0)
                    pred = min(32767, max(-32768, pred + (-d if n >= 8 else d)))
                    idx = min(88, max(0, idx + M._IMA_INDEX[n % 8]))
                    out.append(pred)
        return out

    rng = np.random.default_rng(17)
    for _ in range(50):
        ba = int(rng.choice([8, 12, 36]))
        data = b""
        for _ in range(int(rng.integers(1, 4))):
            data += struct.pack(
                "<hBB", int(rng.integers(-32768, 32768)), int(rng.integers(0, 89)), 0
            ) + bytes(rng.integers(0, 256, ba - 4, dtype=np.uint8))
        assert list(M._decode_ima_adpcm(data, ba)) == ref(data, ba)

    # container: format 0x11 routes to the ADPCM branch; stereo rejects
    def wav(block, ch=1):
        return (
            b"RIFF" + struct.pack("<I", 40 + len(block)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHHHH", 20, 0x11, ch, 8000, 4055, 8, 4, 2, 9)
            + b"data" + struct.pack("<I", len(block)) + block
        )

    blk = struct.pack("<hBB", -1234, 40, 0) + bytes([0x21, 0x8F, 0x07, 0xE3])
    sr, s = M._decode_wav(wav(blk))
    assert sr == 8000 and list(s) == ref(blk, 8)
    with pytest.raises(ValueError, match="mono"):
        M._decode_wav(wav(blk, ch=2))
    with pytest.raises(ValueError, match="out of range"):
        M._decode_ima_adpcm(struct.pack("<hBB", 0, 89, 0) + b"\x00" * 4, 8)


def test_png_decode_through_spark_pipeline(spark):
    """decode_media + resize_media over real PNG payloads (format='png' is
    raw-decodable: NO allow_fake) — resize re-encodes as PPM whose bytes we
    can pin exactly: 4x4 constant-color image downsampled to 2x2."""
    import numpy as np

    px = np.full((4, 4, 3), 77, dtype=np.int64)
    buf = _encode_png_py(px, 2, [0, 1, 2, 4])
    df = M.attach_media(
        spark.createDataFrame([(1, bytearray(buf))], "id long, raw binary"),
        "raw", "image", "png",
    )
    got = M.decode_media(df).head()
    assert (got.width, got.height) == (4, 4)
    assert abs(got.mean_luma - 77 / 255) < 1e-12
    rz = M.resize_media(df, 2, 2).head()
    assert bytes(rz.resized_payload) == b"P6\n2 2\n255\n" + bytes([77] * 12)


def test_decode_media_null_format_is_gated(spark):
    """ADVICE r3: NULL media.format must count as non-decodable in the
    codec probe (bare ~isin() is NULL for NULL and silently skipped the
    row into the stub path)."""
    df = spark.createDataFrame([(1, bytearray(b"x"))], "id long, raw binary")
    media = M.attach_media(df, "raw", "image", "ppm").withColumn(
        "media", F.col("media").withField("format", F.lit(None).cast("string"))
    )
    with pytest.raises(NotImplementedError):
        M.decode_media(media)
    with pytest.raises(NotImplementedError):
        M.resize_media(media, 2, 2)
    with pytest.raises(NotImplementedError):
        M.audio_features(media)


def test_png_decode_palette_colortype():
    """Color type 3: indexed pixels resolve through the PLTE chunk."""
    import struct
    import zlib

    import numpy as np

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]], dtype=np.uint8)
    idx = np.array([[0, 1, 2], [3, 0, 1]], dtype=np.uint8)  # 3x2

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + row.tobytes() for row in idx)
    buf = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, px = M._decode_png(buf)
    assert (w, h) == (3, 2)
    assert (px == pal[idx]).all()
    # missing PLTE is loud
    no_plte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        M._decode_png(no_plte)
    # out-of-range index is loud
    bad_idx = np.array([[9]], dtype=np.uint8)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(b"\x00" + bad_idx.tobytes()))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        M._decode_png(bad)


def test_centroid_outliers_exact_and_partition_invariant(spark):
    """centroid_outliers: the far vector is flagged, scores are identical
    under any partitioning (exact integer arithmetic), and NULL vectors
    drop out instead of poisoning the centroid."""
    from arrow_parquet_logs_spark.operators.similarity import centroid_outliers

    rows = [(i, [0.1, 0.1, 0.1, 0.1]) for i in range(9)]
    rows.append((99, [0.9, 0.9, 0.9, 0.9]))
    rows.append((100, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out1 = {r.vec_id: (r.dist2_num, r.is_outlier) for r in centroid_outliers(emb, k=1).collect()}
    assert out1[99][1] is True
    assert sum(1 for _, o in out1.values() if o) == 1
    assert 100 not in out1  # NULL vector dropped
    out2 = {
        r.vec_id: (r.dist2_num, r.is_outlier)
        for r in centroid_outliers(emb.repartition(7), k=1).collect()
    }
    assert out1 == out2
    # deterministic ties: identical vectors tie-break by id
    tied = spark.createDataFrame(
        [(1, [0.5, 0.5]), (2, [0.5, 0.5]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.is_outlier for r in centroid_outliers(tied, k=1).collect()}
    assert got == {1: False, 2: False, 3: True}


def test_dhash_media_duplicates_and_gate(spark):
    """dHash: byte-identical images hash equal (hamming-0 pair guaranteed
    by the pigeonhole join); a high-contrast different image does not pair;
    non-raw formats hit the codec gate."""
    import numpy as np

    def ppm(px):
        h, w, _ = px.shape
        return b"P6\n%d %d\n255\n" % (w, h) + px.astype("uint8").tobytes()

    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, size=(8, 8, 3))
    grad = np.zeros((8, 8, 3), dtype=np.int64)
    grad[:, ::2] = 255  # alternating columns: every dHash bit differs wildly
    rows = [(1, bytearray(ppm(base))), (2, bytearray(ppm(base))), (3, bytearray(ppm(grad)))]
    df = M.attach_media(
        spark.createDataFrame(rows, "id long, raw binary"), "raw", "image", "ppm"
    )
    sigs = M.dhash_media(df)
    got = {r.id: r.dhash for r in sigs.collect()}
    assert got[1] == got[2]
    pairs = {(r.a_id, r.b_id): r.hamming for r in M.dhash_pairs(sigs).collect()}
    assert pairs.get((1, 2)) == 0
    assert all(h <= 3 for h in pairs.values())
    # partitioning-invariant
    sigs2 = {r.id: r.dhash for r in M.dhash_media(df.repartition(3)).collect()}
    assert sigs2 == got
    gated = M.attach_media(
        spark.createDataFrame([(9, bytearray(b"x"))], "id long, raw binary"),
        "raw", "image", "heic",
    )
    with pytest.raises(NotImplementedError):
        M.dhash_media(gated)


def test_wav_stereo_downmix_exact():
    """Stereo PCM16 downmixes with the exact floor mean (L+R)>>1 —
    including negative samples — and unsupported bit depths stay loud."""
    import struct

    import numpy as np

    def wav(samples, channels, sr=8000, bits=16):
        data = np.asarray(samples, dtype="<i2").tobytes()
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, sr,
                                    sr * channels * bits // 8, channels * bits // 8, bits)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    sr, s = M._decode_wav(wav([100, 200, -5, -6, 7, -8], 2))
    assert sr == 8000
    # (100+200)>>1=150 ; (-5-6)>>1=-6 (floor) ; (7-8)>>1=-1 (floor)
    assert s.tolist() == [150, -6, -1]
    sr, mono = M._decode_wav(wav([1, -2, 3], 1))
    assert mono.tolist() == [1, -2, 3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mono/stereo"):
        M._decode_wav(wav([0, 0], 4))


def test_centroid_outliers_empty_and_all_null(spark):
    from arrow_parquet_logs_spark.operators.similarity import centroid_outliers

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert centroid_outliers(empty, k=3).count() == 0
    nulls = spark.createDataFrame([(1, None)], "vec_id long, embedding array<float>")
    assert centroid_outliers(nulls, k=3).count() == 0


def _tiff_lzw_encode_py(data: bytes) -> bytes:
    """Reference TIFF-variant LZW encoder: MSB-first packing, early width
    change (grow when the next free code reaches 2^width - 1), deferred
    clear when the table fills — independent of the decoder."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0
    width = 9
    table = {bytes([i]): i for i in range(256)}
    next_code = 258

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(CLEAR)
    prev = b""
    for byt in data:
        cur = prev + bytes([byt])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            # early change, mirrored at the decoder's one-code lag: the
            # decoder grows when its table reaches 2^w - 1 (PIL/libtiff
            # interop convention), which is one append behind the encoder
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = bytes([byt])
    if prev:
        emit(table[prev])
    emit(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode_py(data: bytes) -> bytes:
    """Reference PackBits encoder (repeat packets for runs >= 2, literal
    packets otherwise, both capped at 128)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while j < n and (j - i) < 128 and not (j + 1 < n and data[j] == data[j + 1]):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out)


def _encode_tiff_py(px, endian="<", strips=1, gray=False, compression=1, predictor=1):
    """Reference TIFF encoder for tests: header + one IFD + strip table,
    both endiannesses, arbitrary strip split — independent of the decoder."""
    import struct

    import numpy as np

    h, w = px.shape[:2]
    spp = 1 if gray else 3
    arr = np.asarray(px, dtype=np.uint8).reshape(h, w, spp).astype(np.int64)
    if predictor == 2:  # horizontal differencing per channel
        d = arr.copy()
        d[:, 1:] = (arr[:, 1:] - arr[:, :-1]) % 256
        arr = d
    raster = arr.astype(np.uint8).tobytes()
    rows_per = max(1, -(-h // strips))
    strip_bytes = []
    for s in range(0, h, rows_per):
        sb = raster[s * w * spp : min(s + rows_per, h) * w * spp]
        if compression == 5:
            sb = _tiff_lzw_encode_py(sb)
        elif compression in (8, 32946):
            import zlib as _z

            sb = _z.compress(sb)
        elif compression == 32773:
            sb = _packbits_encode_py(sb)
        strip_bytes.append(sb)
    e = endian
    n = 10 + (1 if predictor == 2 else 0)
    ifd_off = 8
    after_ifd = ifd_off + 2 + 12 * n + 4
    bps_off = after_ifd                      # [8,8,8] when spp=3
    strips_off = bps_off + (6 if spp == 3 else 0)
    counts_off = strips_off + 4 * len(strip_bytes)
    data_off = counts_off + 4 * len(strip_bytes)
    offs, pos = [], data_off
    for sb in strip_bytes:
        offs.append(pos)
        pos += len(sb)

    def entry(tag, typ, cnt, val, inline_fmt=None):
        raw = struct.pack(e + "HHI", tag, typ, cnt)
        if inline_fmt is not None:
            v = struct.pack(e + inline_fmt, *val) if isinstance(val, tuple) else struct.pack(e + inline_fmt, val)
            return raw + v.ljust(4, b"\0")
        return raw + struct.pack(e + "I", val)

    entries = [
        entry(256, 4, 1, w, "I"),
        entry(257, 4, 1, h, "I"),
        (entry(258, 3, 3, bps_off) if spp == 3 else entry(258, 3, 1, 8, "H")),
        entry(259, 3, 1, compression, "H"),
        entry(262, 3, 1, 2 if spp == 3 else 1, "H"),
        (entry(273, 4, len(offs), offs[0], "I") if len(offs) == 1
         else entry(273, 4, len(offs), strips_off)),
        entry(277, 3, 1, spp, "H"),
        entry(278, 4, 1, rows_per, "I"),
        (entry(279, 4, len(strip_bytes), len(strip_bytes[0]), "I")
         if len(strip_bytes) == 1 else entry(279, 4, len(strip_bytes), counts_off)),
        entry(296, 3, 1, 2, "H"),
    ]
    if predictor == 2:
        entries.append(entry(317, 3, 1, 2, "H"))
    out = struct.pack(e + "2sHI", b"II" if e == "<" else b"MM", 42, ifd_off)
    out += struct.pack(e + "H", n) + b"".join(entries) + struct.pack(e + "I", 0)
    if spp == 3:
        out += struct.pack(e + "HHH", 8, 8, 8)
    out += b"".join(struct.pack(e + "I", o) for o in offs)
    out += b"".join(struct.pack(e + "I", len(sb)) for sb in strip_bytes)
    return out + b"".join(strip_bytes)


def test_tiff_decode_endianness_strips_and_gray():
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(6, 5, 3), dtype=np.int64)
    for endian in ("<", ">"):
        for strips in (1, 3):
            w, h, out = M._decode_tiff(_encode_tiff_py(px, endian, strips))
            assert (w, h) == (5, 6)
            assert (out.astype(np.int64) == px).all(), (endian, strips)
    g = rng.integers(0, 256, size=(4, 3), dtype=np.int64)
    w, h, out = M._decode_tiff(_encode_tiff_py(g.reshape(4, 3, 1), "<", 1, gray=True))
    assert (w, h) == (3, 4)
    assert (out == np.repeat(g.reshape(4, 3, 1), 3, axis=2)).all()
    with pytest.raises(ValueError, match="not a TIFF"):
        M._decode_tiff(b"nope")
    # unsupported compression is loudly refused: flip the tag to JPEG-in-TIFF(7)
    buf = bytearray(_encode_tiff_py(px, "<", 1))
    import struct as _s

    for i in range(10):
        off = 8 + 2 + 12 * i
        if _s.unpack_from("<H", buf, off)[0] == 259:
            _s.pack_into("<H", buf, off + 8, 7)  # JPEG-in-TIFF: genuinely unsupported
    with pytest.raises(ValueError, match="compression"):
        M._decode_tiff(bytes(buf))


def test_jaccard_prefix_equals_full_index(spark, sf_dir):
    """Prefix filtering is LOSSLESS: pair set and scores identical to the
    full inverted-index join on the real corpus, plus edge docs (short
    texts whose prefix is the whole set, empty-ish docs)."""
    edge = spark.createDataFrame(
        [(9001, "one two three"), (9002, "one two three"), (9003, ""), (9004, "a b")],
        "doc_id long, text string",
    )
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
        .unionByName(edge)
    )
    full = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in D.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=None).collect()
    )
    pref = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in D.jaccard_prefix_pairs(docs, threshold=0.6).collect()
    )
    assert full and pref == full
    # the index really is smaller: sum of prefix lengths < sum of set sizes
    from pyspark.sql import functions as F

    sizes = docs.select(F.size(X.distinct_shingles("text", 3)).alias("s"))
    total = sizes.agg(F.sum("s")).head()[0]
    prefix_total = sizes.agg(
        F.sum(F.greatest(F.lit(1), F.col("s") - F.ceil(F.col("s") * 0.6).cast("int") + 1))
    ).head()[0]
    assert prefix_total < total * 0.55


def test_asof_join_modes(spark):
    """Generic asof_join: inclusive vs strict same-timestamp semantics,
    tolerance nulling, missing-key left-outer NULLs, multi-column carry."""
    from arrow_parquet_logs_spark.operators.relational import asof_join

    trades = spark.createDataFrame(
        [(1, "A", "2024-01-01 10:00:05", 100.0),
         (2, "A", "2024-01-01 10:00:00", 101.0),
         (3, "B", "2024-01-01 10:00:10", 102.0),
         (4, "C", "2024-01-01 10:00:10", 103.0)],
        "trade_id long, sym string, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [("A", "2024-01-01 10:00:00", 1.0, 10), ("A", "2024-01-01 10:00:04", 2.0, 20),
         ("B", "2024-01-01 09:00:00", 3.0, 30)],
        "sym string, qts string, bid double, qid int",
    ).withColumn("qts", F.col("qts").cast("timestamp"))

    incl = {r.trade_id: (r.bid_asof, r.qid_asof) for r in asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts").collect()}
    assert incl == {1: (2.0, 20), 2: (1.0, 10), 3: (3.0, 30), 4: (None, None)}
    strict = {r.trade_id: r.bid_asof for r in asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts", allow_exact=False
    ).collect()}
    assert strict[2] is None and strict[1] == 2.0
    tol = {r.trade_id: r.bid_asof for r in asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts", tolerance="5 minutes"
    ).collect()}
    assert tol[3] is None and tol[1] == 2.0  # B's quote is an hour stale
    # partitioning invariance
    again = {r.trade_id: (r.bid_asof, r.qid_asof) for r in asof_join(
        trades.repartition(5), quotes.repartition(3), on="sym",
        left_ts="ts", right_ts="qts").collect()}
    assert again == incl


def test_asof_join_forward_direction(spark):
    """direction='forward': earliest right row at-or-after each left ts,
    inclusive/strict equality mirrored, forward tolerance window."""
    from arrow_parquet_logs_spark.operators.relational import asof_join

    trades = spark.createDataFrame(
        [(1, "A", "2024-01-01 10:00:02"), (2, "A", "2024-01-01 10:00:04"),
         (3, "B", "2024-01-01 10:00:00")],
        "trade_id long, sym string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [("A", "2024-01-01 10:00:04", 1.0), ("A", "2024-01-01 10:00:09", 2.0),
         ("B", "2024-01-01 11:00:00", 3.0)],
        "sym string, qts string, bid double",
    ).withColumn("qts", F.col("qts").cast("timestamp"))

    fwd = {r.trade_id: r.bid_asof for r in asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts", direction="forward"
    ).collect()}
    assert fwd == {1: 1.0, 2: 1.0, 3: 3.0}  # trade 2 matches the equal-ts quote
    strict = {r.trade_id: r.bid_asof for r in asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts",
        direction="forward", allow_exact=False,
    ).collect()}
    assert strict == {1: 1.0, 2: 2.0, 3: 3.0}  # equal-ts excluded for trade 2
    tol = {r.trade_id: r.bid_asof for r in asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts",
        direction="forward", tolerance="5 minutes",
    ).collect()}
    assert tol == {1: 1.0, 2: 1.0, 3: None}  # B's quote is an hour ahead
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(trades, quotes, on="sym", direction="nearest")


def test_asof_join_right_column_named_ts(spark):
    """A right data column named exactly like left_ts would collide with
    the matched-timestamp output column — the operator refuses loudly
    (silent duplicate output names are the failure mode), and excluding
    the column via right_cols carries the rest cleanly."""
    from arrow_parquet_logs_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, "A", "2024-01-01 10:00:05")], "id long, k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("A", "2024-01-01 10:00:01", "x")], "k string, qts string, ts string"
    ).withColumn("qts", F.col("qts").cast("timestamp"))
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_ts="ts", right_ts="qts")
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="qts", right_cols=[]
    ).head()
    assert out.ts_asof is not None and out.ts_asof.second == 1


def test_bloom_filter_no_false_negatives_and_prunes(spark):
    """bloom_bitmap/bloom_might_contain: every true member survives (no
    false negatives, the property the two-phase decontamination exactness
    rests on); at sane sizing the FP count is tiny; at adversarially tiny
    m the filter degrades to pass-through but still never drops a member;
    NULL keys neither build bits nor probe through."""
    from arrow_parquet_logs_spark.operators.text import bloom_bitmap, bloom_might_contain

    keys = spark.createDataFrame([(f"k{i}",) for i in range(300)] + [(None,)], "g string")
    probe = spark.createDataFrame(
        [(i, f"k{i}") for i in range(600)] + [(9999, None)], "doc_id long, g string"
    )
    bloom = bloom_bitmap(keys, "g").persist()
    got = sorted(r.doc_id for r in bloom_might_contain(probe, bloom, "g").collect())
    assert [i for i in got if i < 300] == list(range(300))  # no FN
    assert 9999 not in got                                   # NULL never matches
    assert len(got) <= 310                                   # FP ~0 at m=2^20
    small = bloom_bitmap(keys, "g", m_bits=128, k_hashes=2).persist()
    got2 = set(
        r.doc_id
        for r in bloom_might_contain(probe, small, "g", m_bits=128, k_hashes=2).collect()
    )
    assert set(range(300)) <= got2  # degraded, never lossy


def test_minhash_incremental_equals_full_recompute(spark, tmp_path):
    """Index-based incremental dedup must equal the batch-touching subset
    of a full-corpus minhash run (no collapse in either path), and
    append_to_minhash_index must leave the index identical to a rebuild
    over the union."""
    from arrow_parquet_logs_spark.operators.dedup import (
        append_to_minhash_index,
        materialize_minhash_index,
        minhash_lsh_pairs,
        minhash_pairs_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, base + f" tail{i % 4}") for i in range(40)]  # 4 near-dup families
    rows += [(i, f"unique totally different document number {i} with its own words") for i in range(40, 60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")

    idx = str(tmp_path / "idx")
    materialize_minhash_index(corpus, idx)
    got = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in minhash_pairs_incremental(spark, idx, batch, corpus).collect()
    }
    full = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(docs, collapse_exact=False).collect()
        if r.a_id % 5 == 0 or r.b_id % 5 == 0
    }
    assert got == full and len(got) > 0

    # append ≡ rebuild: same (sid, band_key) multiset
    append_to_minhash_index(batch, idx)
    rebuilt = str(tmp_path / "idx2")
    materialize_minhash_index(docs, rebuilt)
    a = sorted(map(tuple, spark.read.parquet(idx).collect()))
    b = sorted(map(tuple, spark.read.parquet(rebuilt).collect()))
    assert a == b


def test_ms_adpcm_decode_statemachine():
    """MS ADPCM (format 0x02): header samples emitted older-first, HIGH
    nibble first, ×256 two-tap prediction with C-truncating division,
    delta adaptation floored at 16 — cross-checked against an independent
    straight-line reimplementation over random blocks and all 7
    coefficient pairs; container routing + mono gate."""
    import struct

    import numpy as np

    def ref(data, ba):
        out = []
        for b0 in range(0, len(data) // ba * ba, ba):
            blk = data[b0 : b0 + ba]
            c1, c2 = M._MS_ADPCM_COEFFS[blk[0]]
            delta, s1, s2 = struct.unpack_from("<hhh", blk, 1)
            out += [s2, s1]
            for byte in blk[7:]:
                for n in (byte // 16, byte % 16):
                    sn = n - 16 if n >= 8 else n
                    num = s1 * c1 + s2 * c2
                    pred = int(num / 256) + sn * delta  # trunc toward zero
                    pred = min(32767, max(-32768, pred))
                    out.append(pred)
                    s2, s1 = s1, pred
                    delta = max(16, (M._MS_ADPCM_ADAPT[n] * delta) >> 8)
        return out

    rng = np.random.default_rng(23)
    for _ in range(60):
        ba = int(rng.choice([9, 16, 32]))
        data = b""
        for _ in range(int(rng.integers(1, 4))):
            data += struct.pack(
                "<Bhhh",
                int(rng.integers(0, 7)),
                int(rng.integers(16, 4000)),
                int(rng.integers(-32768, 32768)),
                int(rng.integers(-32768, 32768)),
            ) + bytes(rng.integers(0, 256, ba - 7, dtype=np.uint8))
        assert list(M._decode_ms_adpcm(data, ba)) == ref(data, ba)

    def wav(block, ch=1):
        return (
            b"RIFF" + struct.pack("<I", 40 + len(block)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHHHH", 20, 0x02, ch, 8000, 4055, 9, 4, 2, 6)
            + b"data" + struct.pack("<I", len(block)) + block
        )

    blk = struct.pack("<Bhhh", 1, 100, 1000, -2000) + bytes([0x5A, 0xC3])
    sr, s = M._decode_wav(wav(blk))
    assert sr == 8000 and list(s) == ref(blk, 9)
    with pytest.raises(ValueError, match="mono"):
        M._decode_wav(wav(blk, ch=2))
    with pytest.raises(ValueError, match="out of range"):
        M._decode_ms_adpcm(struct.pack("<Bhhh", 7, 16, 0, 0) + b"\x00\x00", 9)


def test_export_training_shards_manifest_and_layout(spark, tmp_path):
    """Shard export: one file per shard directory, manifest rows match a
    recomputation, re-export over a different input partitioning is
    byte-identical (content-stable sharding + xor hash), and every source
    row lands in exactly one shard."""
    import glob
    import json

    from arrow_parquet_logs_spark.operators.text import export_training_shards

    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(200)],
        "doc_id long, text string",
    )
    p1 = str(tmp_path / "e1")
    m1 = [tuple(r) for r in export_training_shards(docs, p1, shards=8).collect()]
    assert sum(r[1] for r in m1) == 200
    assert len(glob.glob(p1 + "/shard=*/")) == 8
    for d in glob.glob(p1 + "/shard=*/"):
        assert len(glob.glob(d + "*.parquet")) == 1  # clustered write
    disk = json.load(open(p1 + "/_MANIFEST.json"))
    assert [(r["shard"], r["n_rows"], r["content_hash"]) for r in disk] == m1

    # different input partitioning → identical manifest
    p2 = str(tmp_path / "e2")
    m2 = [tuple(r) for r in export_training_shards(docs.repartition(7), p2, shards=8).collect()]
    assert m2 == m1

    # round-trip: reading the shards back reproduces the source rows
    back = spark.read.parquet(p1).select("doc_id", "text")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # a changed row flips its shard's hash and only its shard's hash
    docs2 = docs.withColumn(
        "text", F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(F.col("text"))
    )
    p3 = str(tmp_path / "e3")
    m3 = [tuple(r) for r in export_training_shards(docs2, p3, shards=8).collect()]
    diffs = [i for i, (a, b) in enumerate(zip(m1, m3)) if a != b]
    assert len(diffs) == 1


def test_export_manifest_attests_disk_and_catches_tamper(spark, tmp_path):
    """The manifest is computed from the written parquet, not the source
    plan — so verify_training_shards (disk recompute vs _MANIFEST.json)
    passes on a clean export and flags EXACTLY the shard whose file bytes
    were tampered with after the write."""
    import glob

    import pyarrow.parquet as pq
    import pyarrow as pa

    from arrow_parquet_logs_spark.operators.text import (
        export_training_shards,
        verify_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(200)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "exp")
    export_training_shards(docs, p, shards=8)
    clean = verify_training_shards(spark, p).collect()
    assert len(clean) == 8 and all(r.ok for r in clean)

    # tamper: rewrite one shard's parquet file with one text value flipped
    victim = sorted(glob.glob(p + "/shard=*/*.parquet"))[0]
    victim_shard = int(victim.split("shard=")[1].split("/")[0])
    t = pq.read_table(victim)
    texts = t.column("text").to_pylist()
    texts[0] = "tampered after write"
    t2 = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
    pq.write_table(t2, victim)
    # drop the local-FS checksum sidecar so the MANIFEST layer (not the
    # Hadoop .crc layer) is what catches the tamper
    import os

    crc = os.path.join(os.path.dirname(victim), "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    after = verify_training_shards(spark, p).collect()
    bad = [r.shard for r in after if not r.ok]
    assert bad == [victim_shard]
    assert all(r.ok for r in after if r.shard != victim_shard)


def test_bloom_might_contain_preserves_multiplicity(spark):
    """The probe side keeps duplicate rows: 3 identical member rows in →
    3 rows out (the explode/collapse formulation collapsed them)."""
    from arrow_parquet_logs_spark.operators.text import bloom_bitmap, bloom_might_contain

    keys = spark.createDataFrame([("m",)], "g string")
    probe = spark.createDataFrame(
        [(1, "m"), (1, "m"), (1, "m"), (2, "absent-key-zzz")], "doc_id long, g string"
    )
    bloom = bloom_bitmap(keys, "g")
    got = bloom_might_contain(probe, bloom, "g").collect()
    assert sorted((r.doc_id, r.g) for r in got) == [(1, "m")] * 3


def test_bloom_auto_sizing_bounds_fp_rate(spark):
    """bloom_size_for at 10^6 distinct keys: the fixed 2^20 default would
    give ~42% FP at k=3; auto-sizing must pick a power-of-two m within the
    broadcast cap that holds the empirical FP rate under ~2x the 1%
    target. Floor and cap behavior pinned too."""
    from arrow_parquet_logs_spark.operators.text import (
        BLOOM_MAX_BITS,
        BLOOM_MIN_BITS,
        bloom_bitmap,
        bloom_might_contain,
        bloom_size_for,
    )

    keys = spark.range(1_000_000).select(
        F.concat(F.lit("member:"), F.col("id").cast("string")).alias("g")
    )
    m = bloom_size_for(keys, "g")
    assert BLOOM_MIN_BITS <= m <= BLOOM_MAX_BITS
    assert m & (m - 1) == 0  # power of two
    assert m >= 1 << 23      # actually grew past the old fixed default

    bloom = bloom_bitmap(keys, "g", m_bits=m)
    non_members = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("outsider:"), F.col("id").cast("string")).alias("g"),
    )
    fp = bloom_might_contain(non_members, bloom, "g", m_bits=m).count()
    assert fp / 100_000 <= 0.02, fp

    # tiny key set → floor (historical default, oracle-stable)
    tiny = spark.createDataFrame([("a",), ("b",)], "g string")
    assert bloom_size_for(tiny, "g") == BLOOM_MIN_BITS
    # empty key set → floor, no crash
    assert bloom_size_for(tiny.where("g = 'zz'"), "g") == BLOOM_MIN_BITS


def test_normalize_text_forms_match_unicodedata(spark):
    """normalize_text under all four forms is bit-identical to stdlib
    unicodedata on composition, decomposition, compatibility folding
    (ligature + fullwidth), Hangul jamo, and blocked compositions; NULLs
    pass through and untouched columns survive byte-identical."""
    import unicodedata

    samples = [
        "e" + chr(0x301) + "cole",          # decomposed -> composes under NFC
        chr(0xE9) + " fixed",                # precomposed -> NFC identity
        chr(0xFB01) + "n " + chr(0xFF28),    # fi ligature + fullwidth H (NFKC folds)
        "o" + chr(0x308) + chr(0x304),       # composes then blocked macron
        chr(0x1100) + chr(0x1161),           # Hangul jamo -> U+AC00 under NFC
        None,
    ]
    rows = [(i, s, i * 10) for i, s in enumerate(samples)]
    df = spark.createDataFrame(rows, "id long, text string, keep long")
    for form in ("NFC", "NFD", "NFKC", "NFKD"):
        got = {r.id: (r.text, r.keep) for r in X.normalize_text(df, "text", form).collect()}
        for i, s in enumerate(samples):
            want = None if s is None else unicodedata.normalize(form, s)
            assert got[i] == (want, i * 10), (form, i)
    # NFC really composed (not an identity pass)
    nfc = {r.id: r.text for r in X.normalize_text(df, "text", "NFC").collect()}
    assert nfc[0] == chr(0xE9) + "cole" and nfc[4] == chr(0xAC00)
    # error paths
    with pytest.raises(ValueError, match="unknown normalization"):
        X.normalize_text(df, "text", "NFX")
    with pytest.raises(ValueError, match="not in frame"):
        X.normalize_text(df, "body")
    with pytest.raises(ValueError, match="must be string"):
        X.normalize_text(df, "id")


def test_bpe_train_sennrich_example(spark):
    """The canonical BPE walkthrough (Sennrich et al. 2016 §3.2 corpus):
    low×5, lower×2, newest×6, widest×3 — merge order and counts are fully
    determined: es(9), est(9), est</w>(9), lo(7), low(7), then the 6-way
    tie at count 6 breaks lexicographically to (e, w)."""
    from arrow_parquet_logs_spark.operators.text import BPE_EOW, bpe_train

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, f long",
    )
    assert bpe_train(words, 6) == [
        ("e", "s", 9), ("es", "t", 9), ("est", BPE_EOW, 9),
        ("l", "o", 7), ("lo", "w", 7), ("e", "w", 6),
    ]
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(words, 0)


def test_bpe_train_overlapping_runs(spark):
    """Self-overlapping pairs: 'aaaa' contributes THREE (a,a) pair
    occurrences to the statistics (overlap counted, per classic BPE).
    The merge pass shares flanking delimiters between adjacent run
    occurrences (the documented variant), so one round yields
    [aa, a, a, EOW]; round 2's statistics are then the 1-count pairs
    (aa,a), (a,a), (a,EOW) and the lexicographic tie-break picks
    (a, EOW) — 0x1e sorts before 'a'."""
    from arrow_parquet_logs_spark.operators.text import (
        BPE_EOW, BPE_SEP, bpe_encode_expr, bpe_train,
    )
    from pyspark.sql import functions as F

    words = spark.createDataFrame([("aaaa", 1)], "word string, f long")
    merges = bpe_train(words, 2)
    assert merges[0] == ("a", "a", 3)
    assert merges[1] == ("a", BPE_EOW, 1)
    # and the encoding helper round-trips the segmentation count
    enc = words.select(bpe_encode_expr(F.col("word")).alias("s"))
    s = enc.collect()[0].s
    assert s == BPE_SEP + BPE_SEP.join(list("aaaa") + [BPE_EOW]) + BPE_SEP


def test_count_min_merge_equals_rebuild_and_bounds(spark):
    """CMS counter tables from two disjoint halves merge (cell-wise sum)
    into exactly the whole-stream table; estimates are always >= the true
    count; a never-seen key with untouched buckets estimates 0; parameter
    validation raises."""
    from arrow_parquet_logs_spark.operators.sketch import (
        count_min_counters, count_min_estimate,
    )

    rows = [(i % 7,) for i in range(300)] + [(99,)] * 5
    df = spark.createDataFrame(rows, "uid long")
    half1, half2 = df.where("uid % 2 = 0"), df.where("uid % 2 = 1")
    whole = {(r.row, r.bucket): r.cnt
             for r in count_min_counters(df, "uid").collect()}
    c1 = count_min_counters(half1, "uid")
    c2 = count_min_counters(half2, "uid")
    merged = {(r.row, r.bucket): r.cnt
              for r in c1.unionAll(c2).groupBy("row", "bucket")
                         .agg(F.sum("cnt").alias("cnt")).collect()}
    assert merged == whole
    probes = spark.createDataFrame([(0,), (3,), (99,), (12345,)], "uid long")
    est = {r.uid: r.cms_estimate
           for r in count_min_estimate(probes, count_min_counters(df, "uid"),
                                       "uid").collect()}
    true = {uid: sum(1 for (u,) in rows if u == uid) for uid in (0, 3, 99, 12345)}
    for uid in (0, 3, 99):
        assert est[uid] >= true[uid] > 0
    assert est[12345] >= 0  # may collide; never negative
    with pytest.raises(ValueError, match="depth"):
        count_min_counters(df, "uid", depth=0)


def test_hll_merge_equals_rebuild_and_accuracy(spark):
    """Portable HLL: (a) registers from two halves merged by per-bucket max
    equal the full rebuild, (b) the raw-regime estimate (n >> 2.5m) lands
    within 3 standard errors (1.04/sqrt(256) ~ 6.5%) of the truth and the
    linear-counting regime (n = 500 < 2.5m) within the same bound, (c) a
    10x-larger distinct set estimates strictly larger."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.sketch import hll_estimate, hll_registers

    n = 5000
    df = spark.range(n).select(F.concat(F.lit("user_"), F.col("id")).alias("k"))
    full = {(r.bucket, r.m_rho) for r in hll_registers(df, "k").collect()}
    h1 = hll_registers(df.where(F.col("k") < "user_5"), "k")  # string-order split
    h2 = hll_registers(df.where(~(F.col("k") < "user_5")), "k")
    merged = {
        (r.bucket, r.m_rho)
        for r in h1.unionByName(h2).groupBy("bucket").agg(
            F.max("m_rho").alias("m_rho")
        ).collect()
    }
    assert merged == full
    est = hll_estimate(hll_registers(df, "k")).collect()[0].hll_estimate
    assert abs(est - n) / n < 3 * 1.04 / 16, est
    small = hll_estimate(
        hll_registers(spark.range(500).select(F.col("id").cast("string").alias("k")), "k")
    ).collect()[0].hll_estimate
    assert small < est
    assert abs(small - 500) / 500 < 3 * 1.04 / 16, small


def test_hll_empty_and_duplicate_insensitivity(spark):
    """All-duplicate input estimates ~1 (registers see one key); the
    estimator never divides by zero on an empty register table (full-grid
    zeros give the maximal harmonic sum)."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.sketch import hll_estimate, hll_registers

    dup = spark.range(1000).select(F.lit("same").alias("k"))
    est = hll_estimate(hll_registers(dup, "k")).collect()[0].hll_estimate
    assert 0.5 < est < 2, est  # linear counting: ~m*ln(m/(m-1)) ~ 1.002
    empty = hll_registers(dup.where(F.lit(False)), "k")
    e0 = hll_estimate(empty).collect()[0].hll_estimate
    assert e0 == 0.0, e0  # V = m -> ln(1) = 0, no crash, no divide-by-zero


def test_hll_grouped_matches_per_group_rebuild(spark):
    """Grouped sketches from one pass equal independently built per-group
    sketches — the thousands-of-groups production shape."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.sketch import hll_estimate, hll_registers

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("k"), (F.col("id") * 7 % 1100).cast("string")).alias("k"),
    )
    grouped = {
        r.g: r.hll_estimate
        for r in hll_estimate(hll_registers(df, "k", ("g",)), ("g",)).collect()
    }
    for g in ("0", "1", "2"):
        solo = hll_estimate(
            hll_registers(df.where(F.col("g") == g), "k")
        ).collect()[0].hll_estimate
        assert grouped[g] == solo, (g, grouped[g], solo)


def test_ngram_saturated_shingle_space_budget_and_rescue(spark):
    """The sf10 scale-probe failure class: a SATURATED shingle space (tiny
    vocabulary, every shingle's df just under any fixed cap) must (a) tighten
    the cap via the join-work budget instead of grinding a quadratic join,
    and (b) still find every byte-identical pair via the exact-duplicate
    rescue — even when the budget drops every shingle from the index."""
    import random

    from arrow_parquet_logs_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(8)]  # 8 words -> <=512 distinct 3-grams
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(3000)
    ]
    # planted exact duplicates, including a size-3 group
    docs.append((9001, docs[5][1]))
    docs.append((9002, docs[5][1]))
    docs.append((9003, docs[17][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # saturated: every 3-gram has df ~ 3000*28/512 ~ 165 — a fixed cap of
    # 1000 drops nothing; the tiny budget must tighten it to a low rung
    pairs = ngram_jaccard_pairs(
        df, n=3, threshold=0.9, max_shingle_df=1000, join_work_budget=10_000
    )
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert {(5, 9001), (5, 9002), (9001, 9002), (17, 9003)} <= got
    for a, b in got:
        assert a < b
    # rescue pairs carry jaccard exactly 1.0
    ones = {(r.a_id, r.b_id) for r in pairs.where("jaccard = 1.0").collect()}
    assert {(5, 9001), (5, 9002), (9001, 9002), (17, 9003)} <= ones

    # non-binding budget on the same corpus == uncapped spec, as a SET
    # (no duplicate rows from the rescue union)
    lo = ngram_jaccard_pairs(df, n=3, threshold=0.9, max_shingle_df=None)
    hi = ngram_jaccard_pairs(
        df, n=3, threshold=0.9, max_shingle_df=10_000,
        join_work_budget=10**12,
    )
    lo_rows = sorted(map(tuple, lo.collect()))
    hi_rows = sorted(map(tuple, hi.collect()))
    assert lo_rows == hi_rows
    assert len(hi_rows) == len(set(hi_rows))


def test_jaccard_prefix_budget_guard_is_loud(spark):
    """A saturated shingle space must REFUSE loudly (exactness forbids a
    lossy cap), never grind: the guard prices the prefix-join work in one
    aggregation and names the sanctioned alternatives."""
    import pytest as _pytest

    from arrow_parquet_logs_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(40)], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="join_work_budget"):
        D.jaccard_prefix_pairs(docs, threshold=0.6, join_work_budget=10)
    # None disables; small corpora under the default budget run unchanged
    assert D.jaccard_prefix_pairs(docs, threshold=0.6).count() == 780


def test_ngram_priced_plan_downgrades_within_budget(spark):
    """VERDICT r8 #1: a saturated corpus whose user-cap join work FITS the
    budget but is ≥8× the capped-plan cost must take the capped plan (the
    sf1 inversion: 'fits' is not 'sane'). Exact duplicates still surface
    via the rescue; the priced choice must also NOT fire when no rung is
    materially cheaper."""
    import random

    from arrow_parquet_logs_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab -> saturated shingles
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(2000)]
    docs.append((9001, docs[5][1]))  # planted exact duplicate
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # tier-1/2 bust (cap·Σtокens > budget) but the full plan FITS:
    # Σdf² ≈ 512·(2001·28/512)² ≈ 6.1e6 ≤ 8e6 budget, while every rung ≤128
    # has w=0 (all df ≈ 109) — an ≥8× saving, so the priced choice caps.
    pairs = ngram_jaccard_pairs(
        df, n=3, threshold=0.9, max_shingle_df=1000, join_work_budget=8_000_000
    )
    # the downgrade is observable in the PLAN: only the survival branch
    # unions the exact-duplicate rescue onto the capped near path
    plan = pairs._jdf.queryExecution().toString()
    assert "Union" in plan, "priced choice must take the capped+rescue plan"
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert (5, 9001) in got, "rescue must keep exact duplicates under the downgrade"
    ones = {(r.a_id, r.b_id) for r in pairs.where("jaccard = 1.0").collect()}
    assert (5, 9001) in ones

    # control: same corpus, budget small enough that tier-3 runs but NO
    # rung is 8× cheaper than... (full plan far over budget) -> survival
    # selection unchanged; and a huge budget with tier-1 passing keeps the
    # exact uncapped spec (existing tests pin that path).
    lo = ngram_jaccard_pairs(df, n=3, threshold=0.9, max_shingle_df=None)
    hi = ngram_jaccard_pairs(
        df, n=3, threshold=0.9, max_shingle_df=10_000, join_work_budget=10**12
    )
    assert "Union" not in hi._jdf.queryExecution().toString(), (
        "a non-binding budget must keep the exact single-plan form"
    )
    assert sorted(map(tuple, lo.collect())) == sorted(map(tuple, hi.collect()))


def test_update_clusters_touches_only_merged(spark):
    """VERDICT r9 #1 pin: a bridging commit that MERGES two stored
    clusters must return rows for exactly the new endpoint and the
    members of the non-minimum merged cluster — the already-minimal
    merged cluster and untouched clusters write NOTHING."""
    from arrow_parquet_logs_spark.operators.dedup import update_clusters_incremental

    state = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5), (8, 8), (9, 8)],
        "doc_id long, cluster_id long",
    )
    pairs = spark.createDataFrame([(2, 7), (5, 7)], "a_id long, b_id long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in update_clusters_incremental(state, pairs).collect()
    }
    assert got == {(7, 1), (5, 1), (6, 1)}, got

    # intra-cluster pairs are no-ops: nothing to write at all
    noop = spark.createDataFrame([(1, 2), (8, 9)], "a_id long, b_id long")
    assert update_clusters_incremental(state, noop).count() == 0


def test_update_clusters_accumulates_to_oneshot(spark):
    """Folding a random pair stream commit-by-commit through
    update_clusters_incremental must reproduce the one-shot
    connected_components labels of the full pair set — membership,
    labels, and canonical flags."""
    import random

    from arrow_parquet_logs_spark.operators.dedup import (
        connected_components,
        update_clusters_incremental,
    )

    rng = random.Random(10)
    all_pairs = sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(80)})
    rng.shuffle(all_pairs)
    st: dict[int, int] = {}
    for c in range(4):  # 4 commits, uneven sizes
        chunk = all_pairs[c * 20 : (c + 1) * 20]
        if not chunk:
            continue
        state_df = (
            spark.createDataFrame(list(st.items()), "doc_id long, cluster_id long")
            if st
            else None
        )
        upd = update_clusters_incremental(
            state_df, spark.createDataFrame(chunk, "a_id long, b_id long")
        )
        for r in upd.collect():
            st[r.doc_id] = r.cluster_id

    oneshot = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            spark.createDataFrame(all_pairs, "a_id long, b_id long")
        ).collect()
    }
    assert st == oneshot


def test_cluster_maintain_dup_free_corpus_returns_empty(spark, tmp_path):
    """ADVICE r10: on a corpus where no commit ever produces a pair, the
    clusters table is never written — the registry row must return the
    empty typed frame, not fail the state read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arrow_parquet_logs_spark.queries.textq import dedup_cdc_cluster_maintain

    texts = [
        " ".join(f"tok{i}x{j}" for j in range(30)) for i in range(9)
    ]  # pairwise-disjoint vocabularies: no LSH candidates at all
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(9)),
                "text": texts,
                "lang": ["en"] * 9,
                "source": ["t"] * 9,
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = dedup_cdc_cluster_maintain(spark, str(tmp_path))
    assert out.columns == ["doc_id", "cluster_id", "is_canonical"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "bigint", "boolean",
    ]
    assert out.count() == 0


def test_exact_substring_dedup_suppresses_all_occurrences(spark):
    """Lee et al. 2022 semantics vs C4 keep-first: a duplicated >=min_len
    span is removed from EVERY occurrence (including the first, including
    an intra-doc repeat); a shared span shorter than min_len survives
    everywhere."""
    from arrow_parquet_logs_spark.operators.text import exact_substring_dedup

    span = "one two three four five six seven eight nine ten"       # 10 tokens
    short = "alpha beta gamma"                                      # 3 tokens
    rows = [
        (0, f"{span} unique tail zero {short}"),
        (1, f"head text first {span} and {short} ending"),
        (2, f"{span} middle words {span}"),          # intra-doc repeat
        (3, "completely distinct document body here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in exact_substring_dedup(df, min_len=10).collect()
    }
    # the 10-token span vanishes from docs 0, 1 and BOTH copies in doc 2
    assert out[0].clean_text == f"unique tail zero {short}"
    assert out[1].clean_text == f"head text first and {short} ending"
    assert out[2].clean_text == "middle words"
    assert out[3].n_removed == 0
    assert out[0].n_removed == 10 and out[1].n_removed == 10
    assert out[2].n_removed == 20
    # sanity: totals count every token of the doc
    assert out[2].n_tokens == 22


def test_substring_dedup_incremental_retro_poisoning(spark, tmp_path):
    """The CDC wrinkle of suppress-ALL semantics: an incoming duplicate
    must suppress the ALREADY-ADMITTED first occurrence too (dedup debt),
    plus batch-internal and cross-batch duplicates; accumulated deltas
    must equal the one-shot coverage of the final corpus."""
    from arrow_parquet_logs_spark.operators.text import (
        append_to_window_index,
        materialize_window_index,
        substring_coverage,
        substring_dedup_incremental,
    )

    span = "one two three four five six seven eight nine ten"   # 10 tokens
    corpus = [
        (0, f"{span} stored head body"),          # poisoned RETROACTIVELY by batch 1
        (1, "a fully unique stored document"),
    ]
    b1 = [
        (10, f"incoming copy {span} trailing"),   # duplicates doc 0's span
        (11, f"fresh span alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    b2 = [
        # duplicates doc 11's 10-token span -> cross-batch pair, retro on 11
        (20, "alpha beta gamma delta epsilon zeta eta theta iota kappa end"),
    ]
    dfc = spark.createDataFrame(corpus, "doc_id long, text string")
    df1 = spark.createDataFrame(b1, "doc_id long, text string")
    df2 = spark.createDataFrame(b2, "doc_id long, text string")

    idx = str(tmp_path / "widx")
    materialize_window_index(dfc, idx)
    cov = substring_coverage(dfc)                  # initial load: no dups
    assert cov.count() == 0
    d1 = substring_dedup_incremental(spark, idx, df1)
    append_to_window_index(df1, idx)
    got1 = {(r.doc_id, r.tpos) for r in d1.collect()}
    # doc 0 positions 0..9 retro-poisoned; doc 10 positions 2..11 covered
    assert {(0, i) for i in range(10)} <= got1
    assert {(10, i) for i in range(2, 12)} <= got1
    assert not any(d == 11 for d, _ in got1)       # unique batch doc untouched
    d2 = substring_dedup_incremental(spark, idx, df2)
    append_to_window_index(df2, idx)
    got2 = {(r.doc_id, r.tpos) for r in d2.collect()}
    assert {(11, i) for i in range(2, 12)} <= got2  # retro across BATCHES
    assert {(20, i) for i in range(10)} <= got2

    # accumulated set == one-shot coverage of the final corpus
    final = dfc.unionByName(df1).unionByName(df2)
    oneshot = {(r.doc_id, r.tpos) for r in substring_coverage(final).collect()}
    assert got1 | got2 == oneshot


def test_substring_fingerprint_mode_matches_exact(spark, tmp_path):
    """VERDICT r10 #1: the 96-bit fingerprint window key must reproduce
    the exact-string mode bit-for-bit — one-shot coverage, full rewrite,
    AND the incremental probe against a fingerprint index (retro-poisoning
    included). The fingerprint never builds the window string, so this is
    the same answer from 12-byte keys."""
    from arrow_parquet_logs_spark.operators.text import (
        exact_substring_dedup,
        materialize_window_index,
        substring_coverage,
        substring_dedup_incremental,
        substring_dedup_stats,
    )

    span = "one two three four five six seven eight nine ten"
    rows = [
        (0, f"{span} unique tail zero"),
        (1, f"head text first {span} ending"),
        (2, f"{span} middle words {span}"),
        (3, "completely distinct document body here"),
        (4, None),   # NULL text: dropped by BOTH the full and the stats path
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cov_ex = {(r.doc_id, r.tpos) for r in substring_coverage(df).collect()}
    cov_fp = {
        (r.doc_id, r.tpos)
        for r in substring_coverage(df, fingerprint=True).collect()
    }
    assert cov_ex == cov_fp and cov_ex
    full_ex = sorted(map(tuple, exact_substring_dedup(df).collect()))
    full_fp = sorted(map(tuple, exact_substring_dedup(df, fingerprint=True).collect()))
    assert full_ex == full_fp

    # stats path: counts == full path, 0 (not NULL) for untouched docs
    st = {r.doc_id: (r.n_tokens, r.n_removed)
          for r in substring_dedup_stats(df).collect()}
    full_counts = {x[0]: (x[1], x[2]) for x in full_ex}
    assert st == full_counts
    assert st[3][1] == 0

    # incremental probe against a FINGERPRINT index == exact-index answer
    old = df.where("doc_id < 2")
    new = df.where("doc_id >= 2")
    idx_fp = str(tmp_path / "widx_fp")
    idx_ex = str(tmp_path / "widx_ex")
    materialize_window_index(old, idx_fp, fingerprint=True)
    materialize_window_index(old, idx_ex)
    inc_fp = {(r.doc_id, r.tpos) for r in
              substring_dedup_incremental(spark, idx_fp, new, fingerprint=True).collect()}
    inc_ex = {(r.doc_id, r.tpos) for r in
              substring_dedup_incremental(spark, idx_ex, new).collect()}
    assert inc_fp == inc_ex and inc_fp


def test_token_budget_select_matches_naive_window_incl_null_scores(spark):
    """token_budget_select must equal the naive global-window selection it
    replaces — including NULL quality scores, which sort LAST (desc NULLS
    LAST) and are selected iff budget remains; the score joins are
    null-safe, so the NULL group is neither silently dropped nor
    privileged. Swept over budgets covering: cut inside a non-null tie
    group, cut exactly at the NULL boundary, cut inside the NULL group,
    and budget exceeding the corpus."""
    from pyspark.sql import Window as W

    from arrow_parquet_logs_spark.operators.text import token_budget_select

    rows = [
        (0, 10, 0.9), (1, 10, 0.9), (2, 10, 0.5), (3, 10, 0.5),
        (4, 10, None), (5, 10, None), (6, 10, 0.1),
    ]
    q = spark.createDataFrame(
        rows, "doc_id long, n_tokens int, quality_score double"
    )
    nw = W.orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    ).rowsBetween(W.unboundedPreceding, 0)
    for budget in (15, 25, 50, 55, 65, 1000):
        naive = {
            r.doc_id
            for r in q.withColumn("cum", F.sum("n_tokens").over(nw))
            .where(F.col("cum") <= budget)
            .collect()
        }
        got = {r.doc_id for r in token_budget_select(q, budget).collect()}
        assert got == naive, (budget, got, naive)


def test_window_index_bucket_spec_survives_sessions_and_rebuilds(spark, tmp_path):
    """The bucketed window index's catalog entry is session-scoped, so the
    spec marker must carry it: (a) a reader with no catalog table restores
    the BUCKETED table from the marker (not the plain-scan fallback); (b) an
    appender with no catalog table re-buckets into the recorded spec instead
    of corrupting the layout with plain files; (c) a plain overwrite of a
    formerly-bucketed path drops the stale catalog entry (else every later
    probe dies with INVALID_BUCKET_FILE); (d) a plain APPEND onto a bucketed
    index refuses loudly."""
    import pytest as _pytest

    from arrow_parquet_logs_spark.operators.text import (
        _window_index_df,
        _window_index_table,
        append_to_window_index,
        materialize_window_index,
        substring_dedup_incremental,
    )

    span = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(i, f"{span} filler {i}") for i in range(20)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, f"incoming {span} tail")], "doc_id long, text string"
    )
    idx = str(tmp_path / "widx")
    name = _window_index_table(idx)

    # (a) fresh-session read restores the bucketed table from the marker:
    # the catalog entry reappears with the recorded bucket count, and the
    # probe join reads it bucketed (bare scans may legitimately disable
    # bucketed reading via autoBucketedScan, so pin the JOIN plan)
    materialize_window_index(corpus, idx, bucket_by=4)
    spark.sql(f"DROP TABLE IF EXISTS {name}")          # simulate a new session
    _window_index_df(spark, idx)
    assert spark.catalog.tableExists(name)
    assert next(
        r.data_type for r in spark.sql(f"DESCRIBE EXTENDED {name}").collect()
        if r.col_name == "Num Buckets"
    ) == "4"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = substring_dedup_incremental(
            spark, idx, batch, checkpoint=False
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan

    # (b) fresh-session append re-buckets into the recorded spec
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    append_to_window_index(batch, idx)
    got = {(r.doc_id, r.tpos) for r in
           substring_dedup_incremental(
               spark, idx, spark.createDataFrame(
                   [(200, f"probe {span} end")], "doc_id long, text string")
           ).collect()}
    assert {(200, i) for i in range(1, 11)} <= got     # probe still works
    assert any(d == 100 for d, _ in got)               # appended rows visible

    # (d) plain append onto the bucketed index refuses loudly
    with _pytest.raises(ValueError, match="bucketed"):
        materialize_window_index(batch, idx, mode="append")

    # (c) plain overwrite drops the stale catalog entry and marker
    materialize_window_index(corpus, idx)              # bucket_by=None
    assert not spark.catalog.tableExists(name)
    d2 = substring_dedup_incremental(spark, idx, batch)
    assert d2.count() > 0                              # no INVALID_BUCKET_FILE

    # fingerprint (struct-key) bucketed index: the marker DDL carries
    # struct<h1:bigint,h2:int> — restore + cross-session append must
    # round-trip it and agree with the exact-string index's answer
    fidx = str(tmp_path / "widx_fp_bkt")
    fname = _window_index_table(fidx)
    materialize_window_index(corpus, fidx, bucket_by=4, fingerprint=True)
    spark.sql(f"DROP TABLE IF EXISTS {fname}")
    append_to_window_index(batch, fidx, fingerprint=True)
    probe = spark.createDataFrame(
        [(200, f"probe {span} end")], "doc_id long, text string"
    )
    got_fp = {(r.doc_id, r.tpos) for r in
              substring_dedup_incremental(spark, fidx, probe,
                                          fingerprint=True).collect()}
    assert got_fp == got


def test_benchmark_decontaminate_is_reference_membership_not_multiplicity(spark):
    """Decontamination criterion: a training span is scrubbed iff it occurs
    in the BENCHMARK — a span duplicated across training docs but absent
    from the benchmark survives everywhere (self-dedup would kill it), and
    a span occurring ONCE in training and once in the benchmark is scrubbed
    (self-dedup over training alone would keep it). Fingerprint and
    non-broadcast modes must agree bit-for-bit."""
    from arrow_parquet_logs_spark.operators.text import benchmark_decontaminate

    leak = "one two three four five six seven eight nine ten"      # in bench
    traindup = "aa bb cc dd ee ff gg hh ii jj"                     # train-only dup
    bench = spark.createDataFrame(
        [(f"eval question stem {leak} answer choices",)], "text string"
    )
    rows = [
        (0, f"{leak} unique tail zero"),            # contaminated once
        (1, f"{traindup} body one"),                # train-train dup: SURVIVES
        (2, f"{traindup} body two"),
        (3, "completely distinct document body here"),
        (4, f"prefix words {leak} {traindup}"),     # mixed: only leak cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r for r in benchmark_decontaminate(df, bench, min_len=10).collect()
    }
    assert out[0].clean_text == "unique tail zero" and out[0].n_removed == 10
    assert out[1].clean_text == f"{traindup} body one" and out[1].n_removed == 0
    assert out[2].clean_text == f"{traindup} body two"
    assert out[3].n_removed == 0
    assert out[4].clean_text == f"prefix words {traindup}"
    assert out[4].n_removed == 10 and out[4].n_tokens == 22

    base = sorted(map(tuple, out.values()))
    for kw in (
        {"fingerprint": True},
        {"broadcast_bench": False},
        {"broadcast_bench": False, "bloom_prefilter": True},
        {"broadcast_bench": False, "bloom_prefilter": True, "fingerprint": True},
    ):
        alt = sorted(
            map(tuple, benchmark_decontaminate(df, bench, min_len=10, **kw).collect())
        )
        assert alt == base, kw
