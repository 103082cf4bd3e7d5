"""The spread gates must count bin-packed SPLITS, not raw files.

ADVICE r6: Spark packs small files into scan partitions (maxPartitionBytes /
openCostInBytes), so a corpus of many tiny files passes a raw file-count
gate, skips the repartition, and the Python shingler grinds at low
parallelism — the exact defect the spread gate was added to fix. These
tests write a many-tiny-files corpus whose padded bin-pack estimate
collapses to a few splits and assert ``spread_for_python`` still
repartitions it, and that a frame already carrying enough splits is left
alone (no pure-loss text shuffle).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from arrow_parquet_logs_spark.operators._parallel import (
    provably_small_scan,
    scan_facts,
    spread_for_python,
)


@pytest.fixture(scope="module")
def tiny_files(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tiny") / "docs.parquet")
    # ~64 tiny files: raw file count beats any local parallelism target,
    # but padded bin-packing collapses them to ~ceil(64*4MB/128MB) = 2 splits
    (
        spark.range(256)
        .select(F.col("id").alias("doc_id"), F.lit("text body").alias("text"))
        .repartition(64)
        .write.mode("overwrite")
        .parquet(out)
    )
    df = spark.read.parquet(out)
    assert len(df.inputFiles()) >= 40  # many more files than any local target
    return df


def test_estimated_splits_sees_through_bin_packing(tiny_files):
    est = scan_facts(tiny_files).splits
    assert est < 8, f"64 tiny files must estimate to a few packed splits, got {est}"


def test_spread_repartitions_bin_packed_tiny_files(spark, tiny_files):
    # the former dedup.spread case, now run through the one remaining gate
    spread = spread_for_python(tiny_files.select("doc_id", "text"))
    plan = spread._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan, (
        "spread_for_python must repartition a bin-packed tiny-file corpus"
    )
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_for_python_repartitions_bin_packed_tiny_files(spark, tiny_files):
    target = spark.sparkContext.defaultParallelism
    spread = spread_for_python(tiny_files)
    plan = spread._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan, (
        "spread_for_python must repartition a bin-packed tiny-file corpus"
    )
    assert spread.rdd.getNumPartitions() == target


def test_estimated_splits_unquotes_percent_encoded_paths(spark, tmp_path):
    """ADVICE r7: inputFiles() returns percent-encoded URIs; a path with a
    space must still stat (estimate collapses), not silently fall back to
    the raw file count and reopen the bin-packing blind spot."""
    out = str(tmp_path / "dir with space" / "docs.parquet")
    (
        spark.range(64)
        .select(F.col("id").alias("doc_id"))
        .repartition(16)
        .write.mode("overwrite")
        .parquet(out)
    )
    df = spark.read.parquet(out)
    assert any("%20" in f or " " in f for f in df.inputFiles())
    est = scan_facts(df).splits
    assert est < 8, f"16 tiny files in an encoded path must bin-pack, got {est}"


def test_spread_noop_on_wide_scan(spark, tiny_files):
    # a frame whose ESTIMATE already exceeds the session parallelism is
    # left untouched: force the estimate up via a tiny maxPartitionBytes
    prev_m = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_o = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "16384")
    try:
        df = spark.read.parquet(tiny_files.inputFiles()[0].rsplit("/", 1)[0])
        est = scan_facts(df).splits
        assert est >= spark.sparkContext.defaultParallelism
        assert spread_for_python(df) is df, "wide scan must not re-shuffle"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_m)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_o)


def test_row_group_cap_extrapolates_past_512_files(spark, tmp_path):
    """VERDICT r8 #3: >512 local files must NOT silently drop the
    row-group cap. 600 single-row-group files with a tiny
    maxPartitionBytes make the byte estimate huge; the sampled-footer
    extrapolation must pull it back to ~600 (one row-bearing task per
    row group)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "many"
    d.mkdir()
    tbl = pa.table({"doc_id": list(range(500)), "text": ["x" * 100] * 500})
    for i in range(600):
        pq.write_table(tbl, str(d / f"f{i:04d}.parquet"))  # one row group each
    df = spark.read.parquet(str(d))
    assert len(df.inputFiles()) == 600
    prev_m = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_o = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        est = scan_facts(df).splits
        # byte arithmetic alone says total/2KB (thousands); the sampled
        # footer cap must bring the estimate to the true task bound
        assert est == 600, f"expected the 600-row-group cap, got {est}"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_m)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_o)


def test_row_group_cap_robust_to_compacted_outlier(spark, tmp_path):
    """ADVICE r10: on a >512-file corpus that is mostly single-row-group
    files, ONE sampled compacted multi-group file must not inflate the
    extrapolated cap until it never binds (max-based extrapolation would
    return 8×n_files here and the byte-estimate over-split would come
    back). p90 of the sampled counts discards the outlier: the cap stays
    at the true ~600 row-bearing tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "mostly_single"
    d.mkdir()
    tbl = pa.table({"doc_id": list(range(500)), "text": ["x" * 100] * 500})
    # f0000 sorts first so the evenly-spaced sample (index 0) always hits it
    pq.write_table(tbl, str(d / "f0000.parquet"), row_group_size=64)  # 8 groups
    for i in range(1, 600):
        pq.write_table(tbl, str(d / f"f{i:04d}.parquet"))  # one row group each
    df = spark.read.parquet(str(d))
    prev_m = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_o = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        est = scan_facts(df).splits
        assert est == 600, f"outlier must not disable the cap, got {est}"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_m)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_o)


def test_footer_reads_are_memoized(spark, tiny_files, monkeypatch):
    """ADVICE r8: repeated gates on the same corpus must pay the footer
    reads once per (path, mtime, size), not once per call — the row bound
    included (it used to re-open every footer on each lookup)."""
    from arrow_parquet_logs_spark.operators import _parallel as P

    P._read_footer.cache_clear()
    import pyarrow.parquet as pq

    opens = []
    orig = pq.ParquetFile

    def _spy(path, *a, **k):
        opens.append(path)
        return orig(path, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", _spy)
    first_facts = scan_facts(tiny_files)
    first = len(opens)
    assert first == len(tiny_files.inputFiles()), "one footer open per file"
    assert scan_facts(tiny_files).splits == first_facts.splits
    assert len(opens) == first, "second estimate must be served from the cache"
    assert scan_facts(tiny_files).rows == first_facts.rows == 256
    assert len(opens) == first, "second row-bound lookup must open no footer"


def test_one_file_walk_per_gate_call(spark, tiny_files, monkeypatch):
    """Each gate answers from ONE inputFiles() walk (provably_small_scan
    used to list the files twice: once for splits, once for bytes)."""
    calls = []
    orig = type(tiny_files).inputFiles

    def _spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(type(tiny_files), "inputFiles", _spy)
    spread_for_python(tiny_files)
    assert len(calls) == 1, f"spread_for_python walked the files {len(calls)}×"
    calls.clear()
    provably_small_scan(tiny_files)
    assert len(calls) == 1, f"provably_small_scan walked the files {len(calls)}×"


def test_row_bound_only_for_scan_shaped_plans(spark, tmp_path):
    """ADVICE r12: footer totals bound a frame's rows only when no plan
    node can multiply them. An explode ×3 over a small file must get no
    bound (the footers say 100, the frame holds 300), while the bare and
    the projected/filtered scans keep their exact footer total."""
    out = str(tmp_path / "small.parquet")
    spark.range(100).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(out)
    df = spark.read.parquet(out)
    assert scan_facts(df).rows == 100
    assert scan_facts(df.filter("doc_id > 10").select("doc_id")).rows == 100
    exploded = df.select("doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
    assert exploded.count() == 300
    facts = scan_facts(exploded)
    assert not facts.scan_only and facts.rows is None, facts


def test_row_bound_equals_count_on_embeddings(spark, sf_dir):
    """The dedup floor gate reads the bound from a bare load_table frame;
    it must stay answered (exactly the count) so that path skips its count
    job."""
    from arrow_parquet_logs_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    facts = scan_facts(emb)
    assert facts.scan_only and facts.rows == emb.count()


def test_provably_small_scan_byte_bound(spark, tmp_path, tiny_files, monkeypatch):
    """ADVICE r8 (skyline): few-split is NOT small when the bytes are big —
    a 1–2 row-group giant file must stay on the distributed plan."""
    from arrow_parquet_logs_spark.operators import _parallel as P

    out = str(tmp_path / "one.parquet")
    spark.range(512).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(out)
    df = spark.read.parquet(out)
    assert provably_small_scan(df), "a genuinely tiny single-file scan is small"
    with monkeypatch.context() as m:
        m.setattr(P, "SMALL_SCAN_MAX_BYTES", 64)
        assert not provably_small_scan(df), (
            "the byte bound must veto a few-split frame whose bytes exceed it"
        )
    # many-split frames are never 'provably small'
    monkeypatch.setattr(P, "SMALL_SCAN_MAX_SPLITS", 0)
    assert not provably_small_scan(tiny_files)
