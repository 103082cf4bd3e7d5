"""Multi-dimensional data layout: Z-order (Morton) clustering.

At 100 TB, scans win or lose on how many parquet row groups a predicate can
skip via min/max statistics. A sort on one column gives perfect skipping on
that column and none on any other; interleaving the bits of several columns
(the Morton / Z-order curve — the same layout OPTIMIZE ZORDER BY gives in
lakehouse engines) keeps every clustered column's values locally narrow, so
multi-dimensional predicates prune on all of them at once.

The curve code is pure codegen bit arithmetic (shifts + masks, no UDF); the
rewrite is one range-partitioned sort — exactly the shape of a periodic
OPTIMIZE job over an archive partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# the Morton code column :func:`with_morton_code` adds; its grid temporaries
# are ``Z_COL_<j>``
Z_COL = "__z"


def _ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def scale_to_bits(expr: str, lo: float, hi: float, bits: int) -> Column:
    """Affinely map the SQL expression ``expr`` (a quoted column name, or
    e.g. ``crc32(level)``) from [lo, hi] onto the integer grid [0, 2^bits).

    lo/hi come from a one-row stats pass (parquet footers make it metadata-
    cheap); values outside clamp to the grid edges so stale bounds degrade
    locality, never correctness. One ``F.expr`` call: the JVM parses the
    arithmetic once instead of Python building it op by op over Py4J.
    """
    lo_s, hi_s = (f"CAST('{float(v)!r}' AS DOUBLE)" for v in (lo, hi))
    span = f"CASE WHEN {hi_s} > {lo_s} THEN {hi_s} - {lo_s} ELSE 1.0D END"
    frac = f"(CAST({expr} AS DOUBLE) - {lo_s}) / ({span})"
    clamped = f"least(greatest({frac}, 0.0D), 1.0D)"
    return F.expr(
        f"least(CAST(floor({clamped} * {float(1 << bits)!r}D) AS BIGINT), {(1 << bits) - 1})"
    )


def morton_code(cols: list[str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each named (already grid-scaled,
    integral) column: column j contributes its bit i at output position
    ``i * n_cols + j``. 64-bit output, so ``bits * len(cols) <= 63``.

    One flat expression of per-bit ``shiftleft(shiftright(c, i) & 1, i*n+j)``
    terms, built in a single ``F.expr`` call: each input is an attribute
    reference, so a grid value projected once (see :func:`with_morton_code`)
    is computed once per row rather than once per bit, and building the code
    costs one JVM call instead of several per bit. Pure shift/mask
    arithmetic — whole-stage codegen, no Python."""
    n = len(cols)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"bits*cols = {n * bits} must fit a signed 64-bit code")
    refs = [f"CAST({_ident(c)} AS BIGINT)" for c in cols]
    return F.expr(
        " | ".join(
            f"shiftleft(shiftright({r}, {i}) & 1, {i * n + j})"
            for j, r in enumerate(refs)
            for i in range(bits)
        )
    )


def with_morton_code(df: DataFrame, grids: list[Column], bits: int = 16) -> tuple[DataFrame, list[str]]:
    """``df`` plus the Morton code of ``grids`` (grid-scaled columns, e.g.
    :func:`scale_to_bits`) as column :data:`Z_COL`.

    Each grid value is first projected into a temporary column so the code
    references it by name. Returns the frame and the added columns (the
    temporaries and :data:`Z_COL`), for the caller to drop after sorting."""
    tmp = [f"{Z_COL}_{j}" for j in range(len(grids))]
    out = df.withColumns(dict(zip(tmp, grids))).withColumn(Z_COL, morton_code(tmp, bits))
    return out, [*tmp, Z_COL]


def zorder_by(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    target_files: int | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite ``df`` in Z-order along ``cols`` (numeric top-level columns,
    each name taken literally: ``"a.b"`` is a column named ``a.b``, not a
    struct field).

    One tiny stats pass finds per-column bounds, then a single
    range-partition + in-partition sort on the interleaved code produces
    files whose min/max envelopes are tight on EVERY clustered column.
    ``target_files`` sizes the output (defaults to the session's shuffle
    partitioning); at scale run per archive partition as the compaction
    step, like LogStore.compact does for time.

    ``partition_cols`` lead the range partitioning and the in-partition
    sort: when the caller will ``write.partitionBy`` those columns, this
    aligns tasks with partition-directory boundaries so each task writes
    into ~one directory (without it, every task can straddle every
    directory and file counts multiply by the partition count).
    """
    # the stats and the scale expressions name each column by the same
    # quoted identifier, so both resolve it the same way
    stats = df.agg(
        *[F.min(F.col(_ident(c)).cast("double")).alias(f"lo_{c}") for c in cols],
        *[F.max(F.col(_ident(c)).cast("double")).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    if any(stats[f"lo_{c}"] is None for c in cols):
        # empty input (or an all-NULL column): nothing to cluster — return
        # as-is instead of crashing on float(None) in the scale expressions
        return df
    scaled = [
        scale_to_bits(_ident(c), stats[f"lo_{c}"], stats[f"hi_{c}"], bits) for c in cols
    ]
    out, added = with_morton_code(df, scaled, bits)
    pcols = list(partition_cols or [])
    if target_files:
        out = out.repartitionByRange(target_files, *pcols, Z_COL)
    else:
        out = out.repartitionByRange(*pcols, Z_COL)
    return out.sortWithinPartitions(*pcols, Z_COL).drop(*added)
