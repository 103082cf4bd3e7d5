"""Z-order layout: Morton-code correctness and multi-dimensional
min/max-statistics pruning (the 100 TB data-skipping story)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from arrow_parquet_logs_spark.operators.layout import (
    Z_COL,
    morton_code,
    scale_to_bits,
    with_morton_code,
    zorder_by,
)
from arrow_parquet_logs_spark.sources.tables import load_table


def _py_morton(vals: list[int], bits: int) -> int:
    out = 0
    n = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((v >> i) & 1) << (i * n + j)
    return out


def test_morton_code_matches_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.code
        for r in df.select(
            "x", "y", morton_code(["x", "y"], 16).alias("code")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _py_morton([x, y], 16), (x, y)


def test_morton_code_references_each_projected_grid_once(spark):
    df = spark.createDataFrame([("INFO", 1.0), ("WARN", 2.0), ("ERROR", 0.5)], "level string, t double")
    grids = [
        scale_to_bits("t", 0.0, 2.0, 16),
        scale_to_bits("crc32(level)", 0.0, float(2**32 - 1), 16),
    ]
    out, added = with_morton_code(df, grids, 16)
    assert added == [f"{Z_COL}_0", f"{Z_COL}_1", Z_COL]
    # one hash per row, not one per code bit
    assert out._jdf.queryExecution().optimizedPlan().toString().count("crc32(") == 1
    for r in out.collect():
        assert r[Z_COL] == _py_morton([r[added[0]], r[added[1]]], 16)


def test_zorder_by_names_columns_literally_in_stats_and_scale(spark):
    """A dotted name is one top-level column in both the stats pass and the
    code; a struct path resolves in neither (it fails at the stats pass)."""
    import pytest
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame(
        [(float(i), float((i * 7) % 10), (float(i),)) for i in range(10)],
        "`a.b` double, y double, s struct<x: double>",
    )
    got = zorder_by(df, ["a.b", "y"], bits=4, target_files=1).collect()
    assert sorted(r["a.b"] for r in got) == [float(i) for i in range(10)]
    codes = [_py_morton([min(int(r["a.b"] / 9.0 * 16), 15), min(int(r.y / 9.0 * 16), 15)], 4) for r in got]
    assert codes == sorted(codes)
    with pytest.raises(AnalysisException):
        zorder_by(df, ["s.x", "y"], bits=4, target_files=1)


def test_scale_to_bits_clamps_and_covers(spark):
    df = spark.range(1).select(
        scale_to_bits("-5.0D", 0.0, 10.0, 8).alias("below"),
        scale_to_bits("0.0D", 0.0, 10.0, 8).alias("lo"),
        scale_to_bits("10.0D", 0.0, 10.0, 8).alias("hi"),
        scale_to_bits("99.0D", 0.0, 10.0, 8).alias("above"),
        scale_to_bits("5.0D", 5.0, 5.0, 8).alias("degenerate"),
    )
    r = df.collect()[0]
    assert r.below == 0 and r.lo == 0
    assert r.hi == 255 and r.above == 255
    assert r.degenerate == 0


def _file_ranges(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        schema_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(schema_idx[col]).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((float(lo), float(hi)))
    return out


def _files_pruned(ranges: list[tuple[float, float]], q_lo: float, q_hi: float) -> int:
    """Files a [q_lo, q_hi] predicate can SKIP via min/max stats."""
    return sum(1 for lo, hi in ranges if hi < q_lo or lo > q_hi)


def test_zorder_prunes_on_every_clustered_dimension(spark, sf_dir, tmp_path):
    """A user_id-sorted layout prunes nothing on `value`; the Z-ordered
    layout keeps BOTH columns' per-file envelopes narrow, so a selective
    predicate on either dimension skips a meaningful share of files."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_files = 16

    single = str(tmp_path / "single")
    (ev.repartitionByRange(n_files, "user_id").sortWithinPartitions("user_id")
       .write.parquet(single))
    zord = str(tmp_path / "zord")
    zorder_by(ev, ["user_id", "value"], bits=12, target_files=n_files).write.parquet(zord)

    # identical row sets
    assert spark.read.parquet(zord).count() == ev.count()

    stats = spark.read.parquet(zord).agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    u_mid = (stats[0] + stats[1]) / 2
    u_w = (stats[1] - stats[0]) / 10
    v_mid = (stats[2] + stats[3]) / 2
    v_w = (stats[3] - stats[2]) / 10

    # value predicate: single-column layout prunes ~nothing, zorder must skip
    single_v = _files_pruned(_file_ranges(single, "value"), v_mid - v_w, v_mid + v_w)
    zord_v = _files_pruned(_file_ranges(zord, "value"), v_mid - v_w, v_mid + v_w)
    assert single_v <= 1, f"value-sorted baseline unexpectedly prunes {single_v}"
    assert zord_v >= n_files // 4, f"zorder skips only {zord_v}/{n_files} on value"

    # user_id predicate: zorder still prunes (less than a perfect sort, but real)
    zord_u = _files_pruned(_file_ranges(zord, "user_id"), u_mid - u_w, u_mid + u_w)
    assert zord_u >= n_files // 4, f"zorder skips only {zord_u}/{n_files} on user_id"
