"""Text-analysis operators over document corpora — pure Catalyst expressions.

Everything here compiles to JVM-side expressions (split / transform / filter
/ regexp — whole-stage codegen); no Python runs per row, honoring the
reference's keep-Python-out-of-the-hot-loop thesis (reference README.md:3-7)
at Spark scale. The building blocks:

- ``tokens`` / ``shingles``: whitespace tokenization and word n-gram
  shingling (arrays, no explode until an operator needs rows),
- ``token_counts``: exploded (id, token, count) frame — the shared input for
  TF/word-frequency, SimHash, and quality scoring,
- quality features + score: length/stopword/alpha ratios,
- ``lang_profiles``: tiny marker-token table for n-gram/stopword language ID
  (broadcast-joined; the 100 TB path is the same plan — the profile table is
  constant-size).

Each builder has a DuckDB-dialect SQL twin in ``queries.textq`` so results
are oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from arrow_parquet_logs_spark.functions.numeric import qfloor

#: stopword set used by quality scoring + language ID (kept deliberately
#: tiny and embedded in both engines' expressions).
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

#: (lang, marker-token) profile rows for the n-gram-heuristic language ID.
LANG_PROFILES = [
    ("en", "the"), ("en", "and"), ("en", "of"),
    ("de", "der"), ("de", "und"), ("de", "nicht"),
    ("es", "de"), ("es", "la"), ("es", "que"),
    ("fr", "le"), ("fr", "et"), ("fr", "les"),
    ("it", "di"), ("it", "che"), ("it", "la"),
    ("pt", "de"), ("pt", "que"), ("pt", "um"),
]


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles; short docs fall back to one whole-doc shingle.

    Built as a chain of ``zip_with``s over shifted slices, NOT a
    per-position lambda slicing ``tok``: arguments to a higher-order
    function evaluate once per row, but expressions inside a lambda BODY
    re-evaluate per element — with a raw ``tokens()`` expression as ``tok``
    and ~one window per token, the old form re-split the whole document
    per position, O(tokens²) per doc (measured 9.4× on the sf1 corpus —
    SCALING.md round 10). The zip_with lambdas touch only their lambda
    variables; trailing windows missing a component concat to NULL and are
    filtered, leaving exactly the len−n+1 in-order windows."""
    win = tok
    for j in range(1, n):
        shifted = F.slice(tok, j + 1, F.greatest(F.size(tok) - j, F.lit(0)))
        win = F.zip_with(win, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    windows = F.filter(win, lambda x: x.isNotNull())
    return F.when(F.size(tok) >= n, windows).otherwise(F.array(F.concat_ws(" ", tok)))


def distinct_shingles(text_col: Column | str, n: int = 3) -> Column:
    return F.array_distinct(shingles(tokens(text_col), n))


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token, cnt) — one shuffle on (id, token); partial agg map-side."""
    return (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quality_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic quality score in [0,1] from cheap surface features.

    score = 0.3·min(n_tokens/100, 1) + 0.4·stopword_ratio + 0.3·alpha_ratio
    (all double arithmetic in a fixed evaluation order so any engine —
    or any Spark partitioning — reproduces identical bits).
    """
    tok = tokens(text_col)
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = F.size(tok)
    alpha_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    digit_chars = F.length(F.regexp_replace(text, "[^0-9]", ""))
    stop_hits = F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / n_tokens
    alpha_ratio = alpha_chars.cast("double") / n_chars
    score = (
        F.lit(0.3) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * stop_ratio
        + F.lit(0.3) * alpha_ratio
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("int").alias("n_chars_m"),
        n_tokens.cast("int").alias("n_tokens"),
        alpha_chars.cast("int").alias("alpha_chars"),
        digit_chars.cast("int").alias("digit_chars"),
        stop_ratio.alias("stopword_ratio"),
        qfloor(score).alias("quality_score"),
    )


def lang_id(df: DataFrame, spark, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID: score = distinct marker tokens present,
    argmax with (score desc, lang asc) tie-break, 'und' when no marker hits.

    The profile table is constant-size → broadcast join; the doc side only
    explodes *distinct* tokens, so cost is O(total distinct tokens)."""
    from pyspark.sql import Window as W

    profiles = spark.createDataFrame(LANG_PROFILES, "lang string, marker string")
    toks = df.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("token"))
    scores = (
        toks.join(F.broadcast(profiles), F.col("token") == F.col("marker"))
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("lang"))
    best = scores.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return df.select(id_col).join(best.select(id_col, "lang", "score"), id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("lang"), F.lit("und")).alias("pred_lang"),
        F.coalesce(F.col("score"), F.lit(0)).cast("int").alias("marker_hits"),
    )


def sentence_chunks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 10
) -> DataFrame:
    """(id, pos, chunk): consecutive ``n``-token blocks — the "sentence" unit
    for span-level dedup. The shipped corpus has no sentence punctuation, so
    fixed token blocks stand in; a real pipeline would split on sentence
    boundaries and the downstream operators are unchanged. Row-local array
    expressions, no shuffle; output rows ∝ tokens/n. The token array is
    materialized as a column first — lambda-body expressions re-evaluate
    per element, so an inline ``tokens()`` would re-split the document per
    block (the O(tokens²) class; SCALING.md round 10)."""
    base = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    tok = F.col("_t")
    blocks = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(tok) - 1) / n).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(tok, i * n + F.lit(1), n)),
    )
    return base.select(F.col(id_col), F.posexplode(blocks).alias("pos", "chunk"))


def _window_frame(
    base: DataFrame, id_col: str, min_len: int, fingerprint: bool = False
) -> DataFrame:
    """(id, p, wkey): every ``min_len``-token window at stride 1 from a
    frame carrying a MATERIALIZED token-array column ``_t`` (lambda-body
    expressions re-evaluate per element — an inline ``tokens()`` here
    would re-split the document per position, the O(tokens²) class;
    SCALING.md round 10). Docs shorter than ``min_len`` contribute no
    windows.

    ``fingerprint=True`` replaces the exact window STRING with a 96-bit
    Rabin-Karp-style key — ``struct(xxhash64(window_tokens),
    hash(window_tokens))``, hashed straight off the token-array slice, no
    string ever built — the 100 TB variant (VERDICT r10 #1): at target
    scale the window key is most of the index/shuffle bytes, and a ~10-
    token text key shrinks to 12 bytes. Collision math: equal fingerprints
    from UNEQUAL windows need a simultaneous 64-bit xxhash64 AND 32-bit
    Murmur3 collision; with W distinct corpus windows the expected number
    of false window merges is ≈ W²/2^97 — at W = 10^12 (a 100 TB corpus)
    that is ~6×10^-6 expected occurrences, and one false merge suppresses
    one ``min_len``-token span, it does not cascade. The exact-string form
    stays the oracle-gated default; both forms are hash-equality-pinned
    against each other (tests + the ``docs_exact_substring_dedup_fp``
    registry row)."""
    t = F.col("_t")
    starts = F.when(
        F.size(t) >= min_len,
        F.sequence(F.lit(0), F.size(t) - F.lit(min_len)),
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda p: F.struct(
                    p.alias("p"), F.slice(t, p + F.lit(1), min_len).alias("w")
                ),
            )
        ).alias("_w"),
    )
    key = (
        F.struct(F.xxhash64("_w.w").alias("h1"), F.hash("_w.w").alias("h2"))
        if fingerprint
        else F.concat_ws(" ", "_w.w")
    )
    return wins.select(F.col(id_col), F.col("_w.p").alias("p"), key.alias("wkey"))


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
) -> DataFrame:
    """Token-level exact-substring dedup in the Lee et al. 2022 shape
    ("Deduplicating Training Data Makes Language Models Better", public):
    any token lying inside a substring of ≥ ``min_len`` tokens that occurs
    ≥ 2 times corpus-wide — counting multiplicity, INCLUDING a repeat
    within one document — is removed from EVERY occurrence. This differs
    from `span_dedup` (C4 keep-first at fixed block alignment) in both
    ways that change what survives: duplicated spans are suppressed
    everywhere (the published ExactSubstr default — no occurrence is
    privileged), and stride-1 windows catch duplicates at ARBITRARY
    alignment, not just block boundaries.

    Exactness at window granularity: a token is removed iff some
    duplicated ``min_len``-token window covers it, which holds iff the
    token sits inside a duplicated substring of length ≥ ``min_len`` —
    the window decomposition is equivalent to the paper's suffix-array
    criterion at this threshold, with no approximation.

    Scale shape: windows are one row-local explode (rows ≈ corpus
    tokens); the duplicate test is one map-side-combinable count on the
    window key joined back on the same key (the aggregate→join shape —
    no global sort, the suffix array's job done by a hash shuffle);
    coverage positions explode only from DUPLICATED windows (∝ duplicated
    tokens, not corpus tokens) and reach the token frame through one
    (id, pos)-keyed join; reassembly is the per-doc sort `span_dedup`
    already pays. Everything is linear in corpus tokens + duplicate mass.

    ``fingerprint=True`` swaps the exact window-string key for the 96-bit
    hashed key (see `_window_frame` — identical output up to ~2^-97-per-
    window-pair collisions, half the shuffle bytes at 100 TB).

    Returns (id, n_tokens, n_removed, clean_text)."""
    return reassemble_minus_coverage(
        df,
        substring_coverage(df, id_col, text_col, min_len, fingerprint),
        id_col,
        text_col,
    )


def substring_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
) -> DataFrame:
    """The one-shot suppressed-position SET of `exact_substring_dedup`:
    distinct ``(id, tpos)`` for every token covered by a corpus-duplicated
    ``min_len``-token window. Split out so the CDC composition
    (`substring_dedup_incremental`) can pin its accumulated deltas against
    exactly this set."""
    base = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    wins = _window_frame(base, id_col, min_len, fingerprint)
    # exact window-string equality by default — at test scale the
    # explode/join rows dominate, not key bytes, so the published exact
    # semantics costs nothing (A/B: 5.8 vs 5.1 s sf0.1). ``fingerprint``
    # flips to the 96-bit hashed key (VERDICT r10 #1) — the 100 TB mode:
    # same plan, window-key shuffle bytes cut to 12/key (collision math
    # in `_window_frame`).
    dup_keys = wins.groupBy("wkey").agg(F.count(F.lit(1)).alias("_n")).where(
        F.col("_n") >= 2
    )
    return (
        wins.join(dup_keys.select("wkey"), "wkey")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(min_len - 1))).alias(
                "tpos"
            ),
        )
        .distinct()
    )


def reassemble_minus_coverage(
    df: DataFrame,
    covered: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rebuild every document's text from the tokens NOT in a suppressed-position
    set — the read side shared by `exact_substring_dedup` and the CDC
    composition. Returns (id, n_tokens, n_removed, clean_text)."""
    base = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    toks = base.select(F.col(id_col), F.posexplode(F.col("_t")).alias("tpos", "token"))
    flagged = toks.join(
        covered.withColumn("_cut", F.lit(True)), [id_col, "tpos"], "left"
    )
    kept_struct = F.when(F.col("_cut").isNull(), F.struct("tpos", "token"))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.sum(F.col("_cut").isNotNull().cast("int")).cast("int").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["token"]
            ),
            " ",
        ).alias("clean_text"),
    )


def substring_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
) -> DataFrame:
    """Coverage-only output of `exact_substring_dedup` — ``(id, n_tokens,
    n_removed)`` with NO reassembled text (VERDICT r10 #2). Most consumers
    of the operator — admission filtering, duplicate-mass stats, dedup-debt
    accounting — need the removal counts, not ``clean_text``; reassembly
    (posexplode every token + per-doc collect/sort) dominates the corpus
    rewrite, so skipping it is a first-class cheap path, not a projection
    Catalyst could prune (the rebuild join is ON the token frame).

    Plan: the same windows → duplicate-key aggregate → position explode as
    the full operator, then ONE per-doc count of the distinct covered
    positions joined onto a doc-level token-count scan — the token frame is
    never posexploded and no text is collected. n_removed is 0 (not NULL)
    for untouched docs. NULL-text docs are dropped, exactly as the full
    path drops them (posexplode of a NULL array emits no rows) — without
    the filter this row set would diverge from `exact_substring_dedup` on
    such docs, breaking the coverage-only contract."""
    cov = substring_coverage(df, id_col, text_col, min_len, fingerprint)
    removed = cov.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_removed")
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.size(tokens(text_col)).alias("n_tokens"))
        .join(removed, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).cast("int").alias("n_removed"),
        )
    )


def contamination_coverage(
    df: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
    broadcast_bench: bool = True,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Cross-corpus contaminated-position SET: distinct ``(id, tpos)`` for
    every training-corpus token covered by a ``min_len``-token window that
    ALSO occurs anywhere in ``bench`` (the benchmark / eval set). This is
    the published train/test decontamination criterion (GPT-3 appendix C
    n-gram overlap scrub; Lee et al. 2022 apply ExactSubstr across splits)
    — the asymmetric sibling of `substring_coverage`: instead of a
    corpus-wide multiplicity-≥2 count (which must SHUFFLE every window to
    an aggregate), membership in the benchmark key set decides suppression.

    Scale shape — the asymmetry is the whole point: eval sets are MBs
    while the corpus is the 100 TB side, so the benchmark's distinct
    window keys (≤ bench tokens, further shrunk to 12 bytes/key by
    ``fingerprint=True``) are broadcast, and the corpus windows meet them
    in a broadcast LEFT SEMI hash join mapped straight over the corpus
    scan — the corpus side reaches the join with NO Exchange, and the only
    corpus-sized shuffle in a stats consumer is the final per-doc count.
    ``broadcast_bench=False`` degrades to a plain shuffled semi-join for
    an oversized reference set (same rows, two Exchanges); pair it with
    ``bloom_prefilter=True`` to put a fixed-size Bloom bitmap (the
    `bloom_bitmap` two-phase move `docs_bloom_decontamination` pins at
    shingle level) in front of the exact join — the corpus-side shuffle
    then carries only BF-positive windows (true hits + the sized-FP
    fraction) instead of every corpus window, and phase-2 exactness means
    the output is unchanged (equality-pinned). A bucketed window index
    (`materialize_window_index`) is the other home for a corpus-sized
    reference side."""
    base = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    wins = _window_frame(base, id_col, min_len, fingerprint)
    bkeys = (
        _window_frame(
            bench.select(F.lit(0).alias("_bid"), tokens(bench_text_col).alias("_t")),
            "_bid",
            min_len,
            fingerprint,
        )
        .select("wkey")
        .distinct()
    )
    if bloom_prefilter:
        # Bloom hashes are string-keyed; fingerprint (struct) keys probe
        # through a canonical "h1:h2" rendering — the exact join below
        # still runs on the real wkey, so the rendering only has to be
        # deterministic, not collision-free. The distinct key frame is
        # persisted and SHARED between the bitmap build and the phase-2
        # exact join: without the persist the reference corpus is windowed
        # and distinct-shuffled twice, which at test scale cost more than
        # the prefilter saved (measured; SCALING.md "Bloom decontamination
        # mode: measured, with its crossover")
        bkeys = bkeys.persist()
        if fingerprint:
            def _bk(c):
                return F.concat_ws(":", c.getField("h1"), c.getField("h2"))
        else:
            def _bk(c):
                return c
        bk = bkeys.select(_bk(F.col("wkey")).alias("_bk"))
        m_bits = bloom_size_for(bk, "_bk")
        # hasher="fast": the prefilter is output-invisible (the exact join
        # below kills false positives), so the probe side — every corpus
        # window — gets codegen xxhash64 instead of one md5 per probe
        bloom = bloom_bitmap(bk, "_bk", m_bits=m_bits, hasher="fast")
        wins = bloom_might_contain(
            wins.withColumn("_bk", _bk(F.col("wkey"))), bloom, "_bk",
            m_bits=m_bits, hasher="fast",
        ).drop("_bk")
    if broadcast_bench:
        bkeys = F.broadcast(bkeys)
    return (
        wins.join(bkeys, "wkey", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(min_len - 1))).alias(
                "tpos"
            ),
        )
        .distinct()
    )


def benchmark_decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
    broadcast_bench: bool = True,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Scrub benchmark contamination out of a training corpus: every token
    of ``df`` lying inside a ``min_len``-token window that occurs anywhere
    in ``bench`` is removed, and each document's text is reassembled from
    the survivors — ``(id, n_tokens, n_removed, clean_text)``, the same
    contract as `exact_substring_dedup`. Unlike self-dedup, a span
    duplicated WITHIN the training corpus but absent from the benchmark is
    untouched (unit-pinned): the criterion is overlap with the reference
    set, nothing else. Reuses `reassemble_minus_coverage`, so coverage
    semantics, ordering, and the rebuild join are shared with the rest of
    the family."""
    return reassemble_minus_coverage(
        df,
        contamination_coverage(
            df, bench, id_col, text_col, bench_text_col, min_len, fingerprint,
            broadcast_bench, bloom_prefilter,
        ),
        id_col,
        text_col,
    )


def _window_index_table(path: str) -> str:
    """Session-catalog table name for a bucketed window index at ``path``
    (the catalog is what carries bucketing metadata — a plain
    ``read.parquet`` of the same files still works, just unbucketed)."""
    import hashlib
    import os

    return "wkidx_" + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]


def _index_spec_path(path: str) -> str:
    import os

    return os.path.join(path, "_WKIDX_SPEC.json")


def _index_spec(path: str) -> dict | None:
    """Durable bucket-spec marker for a window index: the session catalog
    carries bucketing metadata only for the session that wrote it, so a
    bucketed build records ``{bucket_by, ddl}`` in an underscore-prefixed
    JSON file at the index root (Spark's file index skips ``_*`` files,
    like ``_SUCCESS``). Any later session — reader or appender — restores
    the external catalog table from it instead of degrading to a plain
    scan or, worse, appending non-bucket-encoded files into a bucketed
    layout."""
    import json

    try:
        with open(_index_spec_path(path), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _restore_index_table(spark, path: str) -> bool:
    """Re-register the external bucketed catalog table for ``path`` from its
    spec marker (no-op without a marker). Returns True when the catalog
    table exists afterwards."""
    import os

    name = _window_index_table(path)
    if spark.catalog.tableExists(name):
        return True
    spec = _index_spec(path)
    if not spec:
        return False
    spark.sql(
        f"CREATE TABLE {name} ({spec['ddl']}) USING parquet "
        f"CLUSTERED BY (wkey) SORTED BY (wkey) INTO {spec['bucket_by']} BUCKETS "
        f"LOCATION '{os.path.abspath(path)}'"
    )
    return True


def _window_index_df(spark, path: str) -> DataFrame:
    """Read a window index, preferring the bucketed catalog table; a fresh
    session restores the table from the index's spec marker (so bucketed
    probe plans survive session boundaries), and only a marker-less plain
    index falls back to an unbucketed parquet scan."""
    if _restore_index_table(spark, path):
        return spark.table(_window_index_table(path))
    return spark.read.parquet(path)


def materialize_window_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    mode: str = "overwrite",
    fingerprint: bool = False,
    bucket_by: int | None = None,
) -> None:
    """Persist a corpus's positional window index — one ``(id, p, wkey)``
    row per stride-1 ``min_len``-token window — the structure that makes
    exact-substring dedup INCREMENTAL (the `materialize_minhash_index`
    contract, applied to the Lee et al. 2022 operator). ~1 row/token: the
    same order of magnitude a suffix array costs, which is what this index
    replaces.

    ``bucket_by=N`` writes the index BUCKETED (+sorted) on ``wkey`` as an
    external parquet table (VERDICT r10 #3 — the IVF-PQ cell-layout move):
    the per-batch probe join then reads the index side with NO Exchange —
    only the batch (small) side shuffles, to the index's bucket count —
    which at 100 TB is the difference between shuffling a corpus-sized
    index every commit and never. ``fingerprint=True`` stores the 96-bit
    hashed key instead of the window string (see `_window_frame`), shrinking
    the index itself."""
    import json
    import os
    import shutil

    base = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    wf = _window_frame(base, id_col, min_len, fingerprint)
    spark = df.sparkSession
    name = _window_index_table(path)
    if bucket_by is None:
        if mode == "overwrite":
            # a prior BUCKETED build at this path leaves a catalog entry
            # (and a spec marker) whose bucket metadata would no longer
            # match the plain files — drop both or every later probe dies
            # with INVALID_BUCKET_FILE
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(path, ignore_errors=True)
        elif _index_spec(path) is not None:
            raise ValueError(
                f"window index at {path} is bucketed; a plain append would "
                "corrupt its layout — use append_to_window_index (which "
                "re-buckets into the recorded spec)"
            )
        wf.write.mode(mode).parquet(path)
        return
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
    (
        wf.write.mode(mode)
        .format("parquet")
        .bucketBy(bucket_by, "wkey")
        .sortBy("wkey")
        .option("path", path)
        .saveAsTable(name)
    )
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in wf.schema.fields)
    tmp = _index_spec_path(path) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"bucket_by": bucket_by, "ddl": ddl}, fh)
    os.replace(tmp, _index_spec_path(path))


def append_to_window_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
) -> None:
    """Add an admitted batch's windows to an existing index (parquet
    append), keeping index ≡ corpus at every version. A bucketed index
    keeps its bucket spec — even from a FRESH session: the spec marker
    restores the catalog table first, then the append re-buckets the
    batch's windows into the same layout (Spark rejects a mismatched spec
    loudly); without the restore a fresh session would append plain files
    into a bucketed directory and poison every later probe. ``fingerprint``
    must match the index's key form — mixing forms would silently never
    match, so the probe join's key TYPE (struct vs string) makes a mix an
    analysis error, not a wrong answer."""
    spark = df.sparkSession
    name = _window_index_table(path)
    if _restore_index_table(spark, path):
        n_buckets = next(
            int(r.data_type)
            for r in spark.sql(f"DESCRIBE EXTENDED {name}").collect()
            if r.col_name == "Num Buckets"
        )
        base = df.select(F.col(id_col), tokens(text_col).alias("_t"))
        (
            _window_frame(base, id_col, min_len, fingerprint)
            .write.mode("append")
            .format("parquet")
            .bucketBy(n_buckets, "wkey")
            .sortBy("wkey")
            .option("path", path)
            .saveAsTable(name)
        )
        return
    materialize_window_index(
        df, path, id_col, text_col, min_len, mode="append", fingerprint=fingerprint
    )


def substring_dedup_incremental(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    fingerprint: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """Suppressed-position ADDITIONS from one incoming batch against an
    indexed corpus — exact-substring dedup as an ingest-time operator.

    The suppress-ALL-occurrences semantics has a consequence batch dedup
    never faces: an incoming duplicate RETROACTIVELY poisons text that was
    already admitted (the stored first occurrence must now be suppressed
    too — dedup debt). One batch-windows ⋈ index equi-join on the window
    key therefore emits BOTH directions at once: the batch occurrences of
    any stored window, and the stored occurrences of any batch window;
    batch-internal duplicates come from a count-≥2 self-check on the fresh
    windows. Output is the coverage DELTA as distinct ``(id, tpos)`` token
    positions — a SET, so replays and multi-window overlaps are idempotent
    under union+distinct, and the accumulated set across commits equals
    the one-shot `exact_substring_dedup` coverage of the final corpus
    (pinned by `docs_substring_dedup_cdc`'s oracle).

    Per-batch cost: shingle/window the batch only (batch-sized); one
    equi-join against the stored index — co-located on the index side when
    the index was written ``bucket_by`` (only the batch windows shuffle, to
    the index's bucket count; plan-pinned in tests/test_scale_plans.py);
    position explodes ∝ matched windows — never a corpus re-window. Ids
    must be disjoint between batch and corpus (ingest invariant, as
    `minhash_pairs_incremental`). ``fingerprint`` must match the index's
    key form (the struct-vs-string key type turns a mix into an analysis
    error). ``checkpoint=False`` skips the persists and the eager
    localCheckpoint and returns the raw declarative plan — the testing
    hook plan pins assert on (ADVICE r10), not for production ingest loops
    (the checkpoint is what releases per-batch caches)."""
    base = new_docs.select(F.col(id_col), tokens(text_col).alias("_t"))
    bw = _window_frame(base, id_col, min_len, fingerprint)
    if checkpoint:
        bw = bw.persist()
    idx = (
        _window_index_df(spark, path)
        .withColumnRenamed(id_col, "_c_id")
        .withColumnRenamed("p", "_c_p")
    )
    hit = bw.join(idx, "wkey")
    if checkpoint:
        hit = hit.persist()

    def cover(frame: DataFrame, id_c: str, p_c: str) -> DataFrame:
        return frame.select(
            F.col(id_c).alias(id_col),
            F.explode(
                F.sequence(F.col(p_c), F.col(p_c) + F.lit(min_len - 1))
            ).alias("tpos"),
        )

    batch_cross = cover(hit, id_col, "p")
    retro = cover(hit, "_c_id", "_c_p")
    within_keys = bw.groupBy("wkey").agg(F.count(F.lit(1)).alias("_n")).where(
        F.col("_n") >= 2
    )
    batch_within = cover(bw.join(within_keys.select("wkey"), "wkey"), id_col, "p")
    out = batch_cross.unionByName(retro).unionByName(batch_within).distinct()
    if not checkpoint:
        return out
    out = out.localCheckpoint(eager=True)  # release per-batch caches (ingest loop)
    bw.unpersist()
    hit.unpersist()
    return out


def token_budget_select(
    q: DataFrame, budget: int, id_col: str = "doc_id"
) -> DataFrame:
    """Token-budgeted selection: keep the highest-quality rows of ``q``
    (``id_col``, ``n_tokens``, ``quality_score``) whose inclusive running
    token total (quality desc, id tie-break) fits ``budget`` — the "best
    data under a compute budget" step, shared by
    `queries.textq.docs_token_budget_selection` and the cluster-level
    composition `docs_cluster_budget_selection`.

    Scale shape — deliberately NOT a single global window (a one-partition
    cumsum over the corpus is the classic driver-shaped bottleneck).
    Quality scores are floored to 1e-6, so they are DISCRETE:

    1. aggregate token sums per distinct score (map-side combinable; at
       most 1e6 rows regardless of corpus size),
    2. one window over the per-score aggregates finds the cut: scores
       whose buckets fit entirely, plus at most one PARTIAL score,
    3. only the partial score's documents — the tie group — get a
       doc-level cumsum, keyed to fill the remaining budget.

    The global sort a naive plan performs never happens over documents;
    the only per-document shuffles are the score aggregation and the
    candidate-sized tie window. Output is selection-identical to the
    naive window by construction — including NULL scores: the score joins
    are null-SAFE, so a NULL-score group sorts last (desc NULLS LAST, same
    as the window form) and is selected iff budget remains, instead of
    being silently dropped by an equi-join that never matches NULL."""
    from pyspark.sql import Window as W

    by_score = q.groupBy("quality_score").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w = W.orderBy(F.col("quality_score").desc()).rowsBetween(W.unboundedPreceding, -1)
    sc = by_score.withColumn(
        "cum_before", F.coalesce(F.sum("bucket_tokens").over(w), F.lit(0))
    )
    full = sc.where(F.col("cum_before") + F.col("bucket_tokens") <= budget)
    partial = sc.where(
        (F.col("cum_before") < budget)
        & (F.col("cum_before") + F.col("bucket_tokens") > budget)
    )
    kept_full = q.join(
        F.broadcast(full.select(F.col("quality_score").alias("_qs"))),
        F.col("quality_score").eqNullSafe(F.col("_qs")),
        "left_semi",
    )
    tie = q.join(
        F.broadcast(
            partial.select(F.col("quality_score").alias("_qs"), "cum_before")
        ),
        F.col("quality_score").eqNullSafe(F.col("_qs")),
    ).drop("_qs")
    tw = W.partitionBy("quality_score").orderBy(id_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    kept_tie = (
        tie.withColumn("tie_cum", F.sum("n_tokens").over(tw))
        .where(F.col("cum_before") + F.col("tie_cum") <= budget)
        .select(id_col, "n_tokens", "quality_score")
    )
    return kept_full.select(id_col, "n_tokens", "quality_score").unionByName(kept_tie)


def span_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 10
) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. 2020 public recipe:
    "we removed any duplicate three-sentence spans", here at one-block
    granularity): every n-token block keeps only its globally-first
    occurrence (min (doc_id, pos)); later occurrences anywhere in the corpus
    are cut, and each document's text is reassembled from its surviving
    blocks in order.

    Scale shape: ONE shuffle on the block text for the first-occurrence
    window (block groups are tiny — dup cardinality — so the in-partition
    sort is cheap; an agg+join-back alternative would shuffle twice), then
    one shuffle on id to reassemble. Linear in corpus size, no quadratic
    stage, text never shuffled twice."""
    from pyspark.sql.window import Window as W

    ch = sentence_chunks(df, id_col, text_col, n)
    w = W.partitionBy("chunk").orderBy(F.col(id_col), F.col("pos"))
    flagged = ch.withColumn("is_dup", F.row_number().over(w) > 1)
    kept_struct = F.when(~F.col("is_dup"), F.struct("pos", "chunk"))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum(F.col("is_dup").cast("int")).cast("int").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
            ),
            " ",
        ).alias("clean_text"),
    )


def boilerplate_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_docs: int = 50,
) -> DataFrame:
    """RefinedWeb-style boilerplate removal: n-token blocks that appear in
    ≥ ``min_docs`` distinct documents (nav bars, license footers, cookie
    banners) are cut from EVERY document — unlike :func:`span_dedup`, no
    first occurrence survives.

    Scale shape: document frequency per block via map-side-combinable
    aggregate; the resulting hot set is small by construction (a block must
    recur across ≥ min_docs docs to qualify), so it broadcasts and the
    removal is a broadcast join — the same aggregate→broadcast shape the
    n-gram df-cap uses. One shuffle for the DF agg, one to reassemble."""
    ch = sentence_chunks(df, id_col, text_col, n)
    hot = (
        ch.groupBy("chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("chunk", F.lit(True).alias("is_hot"))
    )
    flagged = ch.join(F.broadcast(hot), "chunk", "left")
    kept_struct = F.when(F.col("is_hot").isNull(), F.struct("pos", "chunk"))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum(F.col("is_hot").isNotNull().cast("int")).cast("int").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
            ),
            " ",
        ).alias("clean_text"),
    )


#: URL pattern in the Java-regex ∩ RE2 common dialect (non-capturing group
#: only, so "group 0 = whole match" in both engines).
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9./_%-]*)?"


def url_extract(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, url, domain) — one row per URL occurrence. Pure codegen regexp
    scan + explode; rows ∝ URL density. The domain column feeds the
    source-mix / domain-blocklist stages of a crawl pipeline."""
    return df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)).alias("url"),
    ).withColumn("domain", F.regexp_extract("url", r"^https?://([^/]+)", 1))


#: PII patterns in the Java-regex ∩ RE2 common dialect (no lookaround, no
#: backrefs) so the DuckDB oracle applies the literally identical patterns.
#: Ordered: replacement is sequential and order-sensitive in principle
#: (these three are mutually non-overlapping in practice).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}(\.\d{1,3}){3}\b", "[IP]"),
]


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII detection + redaction — the scrubbing pass every shared training
    corpus runs before anything else sees the text.

    Pure Catalyst ``regexp_extract_all``/``regexp_replace`` (codegen'd Java
    regex over each row once, no shuffle, no Python): per-document match
    counts for each pattern class plus the sequentially-redacted text.
    Returns (id, n_<class>... , clean_text). At 100 TB this is a linear
    scan stage that fuses into whatever projection follows it."""
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    return df.select(F.col(id_col), *counts, clean.alias("clean_text"))


# ---- distributed Bloom filter (decontamination at non-broadcast scale) -----

#: floor / broadcast-safety cap for auto-sized Bloom bitmaps. The cap is
#: 2²⁷ bits = 16 MB — comfortably under Spark's broadcast limits and the
#: 64 MB session autoBroadcastJoinThreshold.
BLOOM_MIN_BITS = 1 << 20
BLOOM_MAX_BITS = 1 << 27


def bloom_size_for(keys: DataFrame, key_col: str, k_hashes: int = 3,
                   target_fp: float = 0.01) -> int:
    """Pick ``m_bits`` for a Bloom filter over ``keys`` so the classical
    false-positive bound (1-e^{-kn/m})^k stays ≤ ``target_fp``.

    A fixed default (2²⁰) silently degrades: at n = 10⁶ distinct keys with
    k = 3 the FP rate is ~42%, and the "tiny" two-phase verify join stops
    being tiny. This sizes m from a cheap ``approx_count_distinct`` of the
    key set (one map-side-combinable agg, ±5% — absorbed by the 2×
    power-of-two rounding), solves kn/m from the bound, rounds up to a
    power of two (so hash/word layouts stay cache- and oracle-friendly),
    floors at 2²⁰ (128 KB — never worse than the old default) and caps at
    2²⁷ (16 MB, broadcast-safe; beyond that the caller should shard the
    filter or raise k). The choice is deterministic for a given dataset,
    so an oracle replaying with the same m reproduces every probe bit.

    Callers pass the returned value to BOTH :func:`bloom_bitmap` and
    :func:`bloom_might_contain` — the bitmap does not carry its geometry."""
    import math

    n = keys.select(F.col(key_col)).where(F.col(key_col).isNotNull()).agg(
        F.approx_count_distinct(key_col).alias("n")
    ).collect()[0]["n"]  # bounded: 1 row
    if n <= 0:
        return BLOOM_MIN_BITS
    # (1 - e^{-x})^k <= p  =>  x <= -ln(1 - p^{1/k}); m = k*n/x
    x = -math.log(1.0 - target_fp ** (1.0 / k_hashes))
    m = int(k_hashes * n / x)
    m_bits = BLOOM_MIN_BITS
    while m_bits < m and m_bits < BLOOM_MAX_BITS:
        m_bits <<= 1
    return m_bits


def _bloom_pos(c, i: int, m_bits: int, hasher: str):
    """Bit position of hash ``i`` for key column ``c``: ``portable`` is the
    repo-wide md5 family (oracle-replayable in SQL, ~one md5 per probe —
    expensive on a corpus-sized probe side); ``fast`` is seeded xxhash64
    (whole-stage codegen, ~100× cheaper) for callers whose Bloom layer is
    OUTPUT-INVISIBLE (a prefilter backed by an exact verify join), where
    replayability buys nothing and the probe side is the 100 TB side."""
    from arrow_parquet_logs_spark.functions.hashing import hash64

    if hasher == "fast":
        return F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits))
    return F.pmod(hash64(c, seed=f"bf{i}"), F.lit(m_bits))


def bloom_bitmap(keys: DataFrame, key_col: str, m_bits: int = 1 << 20,
                 k_hashes: int = 3, hasher: str = "portable") -> DataFrame:
    """Build a Bloom filter over the distinct values of ``key_col`` as a
    BITMAP TABLE: one row per 64-bit word, ``(word int, bits long)``.

    Scale story: the exact-broadcast decontamination path
    (`docs_benchmark_contamination`) ships the benchmark's distinct shingle
    ROWS to every executor — fine for a benchmark suite, impossible when
    the blocklist is itself corpus-sized. A Bloom filter ships BITS:
    ``m_bits`` is fixed up front (2²⁰ bits = 16 K words ≈ 128 KB regardless
    of key count), membership is k portable-hash probes, and the whole
    build is one explode + one map-side-combinable ``bit_or`` aggregation.
    Hashes are the repo-wide portable md5 family (`functions.hashing
    .hash64` with seeds ``bf0..bf{k-1}``), so an oracle can replay every
    probe bit-for-bit in SQL.

    False positives: ~(1-e^{-kn/m})^k (classical bound) — callers that
    need EXACT output re-verify BF-positives against the real key set
    (two-phase: the verify join only sees the tiny surviving fraction).
    False negatives: none, by construction. ``hasher="fast"`` swaps the
    portable md5 hashes for seeded xxhash64 (see `_bloom_pos`) — pass the
    SAME value to `bloom_might_contain`."""
    pos = F.explode(
        F.array(*[
            _bloom_pos(F.col(key_col), i, m_bits, hasher) for i in range(k_hashes)
        ])
    ).alias("pos")
    return (
        keys.select(F.col(key_col)).where(F.col(key_col).isNotNull()).distinct()
        .select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, int(pmod(pos, 64)))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_might_contain(probe: DataFrame, bloom: DataFrame, key_col: str,
                        m_bits: int = 1 << 20, k_hashes: int = 3,
                        hasher: str = "portable") -> DataFrame:
    """Filter ``probe`` to the rows whose ``key_col`` MIGHT be in the Bloom
    filter built by ``bloom_bitmap`` (same ``m_bits``/``k_hashes``/``hasher``).

    Plan shape: k chained LEFT broadcast joins of the bitmap (the
    broadcast is the BITMAP, never the key set), one per hash seed, each
    testing its bit — an absent word row is an automatic miss. The probe
    side is never shuffled, exploded, or re-grouped, so row multiplicity
    is preserved exactly: a probe with duplicate rows keeps every
    duplicate that passes (the previous explode/collapse formulation
    silently deduplicated identical probe rows)."""
    cols = probe.columns
    out = probe
    hit_cols = []
    for i in range(k_hashes):
        pos_c, word_c, bits_c, hit_c = f"_pos{i}", f"_word{i}", f"_bits{i}", f"_hit{i}"
        bi = bloom.select(F.col("word").alias(word_c), F.col("bits").alias(bits_c))
        out = (
            out.withColumn(pos_c, _bloom_pos(F.col(key_col), i, m_bits, hasher))
            .withColumn(word_c, (F.col(pos_c) / 64).cast("int"))
            .join(F.broadcast(bi), word_c, "left")
            .withColumn(
                hit_c,
                F.coalesce(
                    F.col(bits_c).bitwiseAND(
                        F.expr(f"shiftleft(1L, int(pmod({pos_c}, 64)))")
                    )
                    != 0,
                    F.lit(False),
                ),
            )
        )
        hit_cols.append(hit_c)
    all_hit = hit_cols[0]
    cond = F.col(all_hit)
    for h in hit_cols[1:]:
        cond = cond & F.col(h)
    return out.where(cond).select(*cols)


# ---- training-set shard export (the output end of the pipeline) ------------

def export_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int = 16,
) -> DataFrame:
    """Write the final training set as ``shard=`` partitioned parquet plus
    an order-independent integrity manifest, and return the manifest.

    The output end of a 100 TB pipeline has its own failure modes: partial
    writes, non-deterministic shard membership across re-runs, silent row
    loss between export and training. This pins all three:

    - **content-stable sharding** — shard = portable-hash(id) mod N, so a
      re-run (any partitioning, any cluster size) produces byte-equal
      shard membership; one cluster-on-shard shuffle before the write
      gives one file per shard (same fix as the IVF cell layout);
    - **order-independent manifest** — per shard: row count and
      ``bit_xor`` of a per-row fingerprint ``hash64(id || ':' || md5(text))``.
      XOR commutes, so the hash is partition- and order-invariant and an
      oracle can recompute it from the source table; a dropped, duplicated
      or bit-flipped row flips the shard hash;
    - **manifest attests the BYTES ON DISK** — after the write, the
      fingerprints are aggregated from ``spark.read.parquet(path)``, not
      from a second evaluation of the input plan. A partial write, a
      write-visibility bug, or a non-deterministic input therefore
      produces a manifest that disagrees with an oracle recomputation
      from the source table — exactly the divergence the manifest exists
      to catch. Cost is identical (one scan either way) and the read-back
      scan is of freshly-written, already-clustered files;
    - **atomic manifest publish** — ``_MANIFEST.json`` is written to a
      temp name and renamed in last, so a reader never sees data files
      without a (complete) manifest; the manifest doubles as the
      export-complete marker.

    Returns (shard, n_rows, content_hash) read back FROM DISK — callers
    verifying an old export get the persisted truth, not a recomputation."""
    import json
    import os

    from arrow_parquet_logs_spark.functions.hashing import hash64

    spark = df.sparkSession
    out = df.select(
        F.col(id_col), F.col(text_col),
        F.pmod(hash64(F.concat(F.lit("shard:"), F.col(id_col).cast("string"))), F.lit(shards)).alias("shard"),
    )
    out.repartition("shard").write.mode("overwrite").partitionBy("shard").parquet(path)
    written = spark.read.parquet(path)  # manifest source: the persisted files
    fp = hash64(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.md5(F.col(text_col))))
    manifest = (
        written.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(fp).alias("content_hash"),
        )
        .orderBy("shard")
        .collect()  # bounded: one row per shard
    )
    tmp = os.path.join(path, "_MANIFEST.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(
            [{"shard": r["shard"], "n_rows": r["n_rows"], "content_hash": r["content_hash"]}
             for r in manifest],
            fh,
        )
    os.replace(tmp, os.path.join(path, "_MANIFEST.json"))
    rows = json.load(open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8"))
    return spark.createDataFrame(
        [(r["shard"], r["n_rows"], r["content_hash"]) for r in rows],
        "shard int, n_rows long, content_hash long",
    )


def verify_training_shards(
    spark, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Audit an existing shard export: recompute the per-shard fingerprints
    from the parquet files ON DISK and compare against ``_MANIFEST.json``.

    This is the training-side half of the integrity contract — run it just
    before consuming an export (or after a suspicious copy/transfer) to
    catch dropped files, truncated shards, duplicated rows, or bit-level
    text corruption. Cost: one scan of the export, one broadcast join of
    the (≤ shards)-row manifest. Returns one row per shard seen on disk or
    in the manifest: (shard, n_rows, content_hash, manifest_n_rows,
    manifest_content_hash, ok) — ``ok`` false on any disagreement,
    including shards present on only one side."""
    import json
    import os

    from arrow_parquet_logs_spark.functions.hashing import hash64

    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest_rows = json.load(fh)
    manifest = spark.createDataFrame(
        [(r["shard"], r["n_rows"], r["content_hash"]) for r in manifest_rows],
        "shard int, manifest_n_rows long, manifest_content_hash long",
    )
    fp = hash64(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.md5(F.col(text_col))))
    disk = (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.bit_xor(fp).alias("content_hash"))
    )
    joined = disk.join(manifest, "shard", "full_outer")  # manifest side ≤ shards rows
    ok = (
        F.col("n_rows").isNotNull()
        & F.col("manifest_n_rows").isNotNull()
        & (F.col("n_rows") == F.col("manifest_n_rows"))
        & (F.col("content_hash") == F.col("manifest_content_hash"))
    )
    return joined.select(
        "shard", "n_rows", "content_hash", "manifest_n_rows", "manifest_content_hash",
        ok.alias("ok"),
    ).orderBy("shard")


def normalize_text(df: DataFrame, text_col: str = "text", form: str = "NFC") -> DataFrame:
    """Unicode-normalize ``text_col`` in place via ``mapInArrow`` +
    stdlib ``unicodedata.normalize`` — Arrow batch transfer, one
    C-implemented normalize call per string (CPython's unicodedata is a C
    extension over the official UCD). Spark SQL has no normalization
    expression to stay JVM-side on, and this environment's pyarrow build
    has a non-composing ``utf8_normalize`` kernel (NFC of e+U+0301 comes
    back decomposed — probed, not assumed), so the honest fast path is the
    stdlib. Schema and column order are unchanged; NULLs pass through.

    Web-scale corpora mix precomposed and decomposed encodings of the same
    visible text (mojibake repair, OCR, legacy CMSes) — exact/MinHash dedup
    and token statistics all fingerprint *bytes*, so normalization is the
    canonical first stage of a training-data pipeline. The 100 TB shape is
    a narrow map: no shuffle, no state, Arrow-batched throughput.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    if text_col not in df.columns:
        raise ValueError(f"column {text_col!r} not in frame")
    if dict(df.dtypes)[text_col] != "string":
        raise ValueError(f"column {text_col!r} must be string")
    idx = df.columns.index(text_col)

    def norm(batches):
        import unicodedata

        import pyarrow as pa

        for rb in batches:
            cols = list(rb.columns)
            col = cols[idx]
            cols[idx] = pa.array(
                [None if s is None else unicodedata.normalize(form, s)
                 for s in col.to_pylist()],
                type=col.type,
            )
            yield pa.RecordBatch.from_arrays(cols, schema=rb.schema)

    return df.mapInArrow(norm, df.schema)


#: symbol delimiter + end-of-word marker for BPE training — non-printing
#: sentinels that cannot occur in whitespace-tokenized corpus words, so
#: substring merge patterns can never false-match across symbol boundaries.
BPE_SEP = "\x1f"
BPE_EOW = "\x1e"


def bpe_encode_expr(word: Column) -> Column:
    """``word`` → its initial BPE symbol string: every character a symbol,
    plus the end-of-word marker, all SEP-delimited (``\\x1fh\\x1fi\\x1f\\x1e\\x1f``
    for "hi"). Pure Catalyst (sequence/transform/substr)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substr(word, i, F.lit(1)),
    )
    return F.concat(
        F.lit(BPE_SEP),
        F.array_join(F.concat(chars, F.array(F.lit(BPE_EOW))), BPE_SEP),
        F.lit(BPE_SEP),
    )


def bpe_train(words: DataFrame, n_merges: int, word_col: str = "word",
              freq_col: str = "f") -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` byte-pair-encoding merges from a (word, frequency)
    table — classic Sennrich BPE: pair statistics count every adjacent
    symbol pair (overlapping included) weighted by word frequency; the
    best pair (count desc, then lexicographic left/right for a
    deterministic tie-break) merges leftmost-non-overlapping in every
    word; repeat. Returns [(left, right, pair_count), ...] in merge order.

    One documented variant vs the classic greedy scan: the merge pattern
    includes BOTH flanking symbol delimiters, so consecutive occurrences
    of the same pair share a delimiter and a run like ``a a a a`` merges
    alternate occurrences per round (``aa a a``), converging over later
    rounds rather than in one pass. Pair *statistics* are classic
    (every adjacent occurrence counted, overlap included); only the
    within-run replacement order differs, identically in both engines —
    the oracle replays the same replace(), so the semantics are pinned,
    not accidental.

    Scale shape: the corpus collapses to DISTINCT words with counts
    before any pair work — pair statistics then scale with *vocabulary*
    size, not corpus size (the standard trick that makes BPE training
    feasible at all; a 100 TB corpus has a few tens of millions of
    distinct words). Each round is one explode + one aggregation; the
    only driver traffic is the single argmax row per round. Encoding
    state is a narrow projection chain (string replace), never a join.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    enc = words.select(
        F.col(freq_col).cast("long").alias("f"),
        bpe_encode_expr(F.col(word_col)).alias("s"),
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        syms = F.split(F.col("s"), BPE_SEP)  # ['', s1, ..., sk, '']
        pairs = enc.select(
            "f",
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size(syms) - 2),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("l"),
                        F.element_at(syms, i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((l, r, cnt))
        enc = enc.select(
            "f",
            F.replace(
                F.col("s"),
                F.lit(BPE_SEP + l + BPE_SEP + r + BPE_SEP),
                F.lit(BPE_SEP + l + r + BPE_SEP),
            ).alias("s"),
        )
    return merges
