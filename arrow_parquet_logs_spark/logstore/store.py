"""Two-tier partitioned Parquet log store — the reference's core, Spark-first.

Reference semantics preserved (SURVEY.md §1.3):

- fixed 5-column schema, strict validation with per-row error detail
  (reference writer.py:39-93),
- ISO-8601 ingest incl. ``Z``, stored as µs UTC (reference writer.py:63-67),
- inclusive time-range bounds on both ends (reference reader.py:469-472),
- read-your-writes: queries union the hot landing tier with the compacted
  archive tier (reference reader.py:580-613),
- per-(container, session) organization → Hive-style partition directories,
  so partition pruning replaces the reference's SQLite file catalog
  (reference metadata.py:44-53).

Deliberately fixed (SURVEY.md §1.3 [BUG — fix] items):

- *exactly-once compaction*: the reference re-loads small archives into live
  buffers without retiring them, duplicating rows (reference writer.py:181-219
  + never-called metadata.py:68-75). Here compaction writes a new immutable
  archive **version** with a manifest naming the landing files it consumed,
  then atomically swaps a CURRENT pointer (``os.replace``). Readers resolve
  CURRENT and *exclude consumed landing files*, so a crash at any point —
  before the swap, after the swap but before landing cleanup — never yields
  duplicates or losses.
- real composite keys: ``(container, session)`` are two partition columns,
  not a collision-prone ``f"{c}_{s}"`` string (reference main.py:168).
- unknown filter ops raise (see ``filters.py``).

Scale notes: the landing tier is many small parquet files (micro-batch
appends); compaction bounds file counts. At 100 TB the same layout holds —
partition pruning on (container, session[, dt]) keeps scans proportional to
the query, and the manifest/pointer protocol is what table formats (Delta,
Iceberg) formalize; we use it file-per-session here to stay dependency-free.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import uuid
from datetime import datetime, timezone
from functools import reduce
from typing import Any, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from arrow_parquet_logs_spark.logstore.filters import compile_filters
from arrow_parquet_logs_spark.logstore.locks import file_lock
from arrow_parquet_logs_spark.schema import LOG_SCHEMA
from arrow_parquet_logs_spark.session import ensure_runtime_confs

_REQUIRED = ("timestamp", "level", "message")
#: read_df's ORDER BY and read_logs' driver-side sort (both ascending)
_READ_ORDER = ("timestamp", "container", "session")


class LogValidationError(ValueError):
    """Strict-schema ingest failure, with per-row detail (writer.py:81-93 parity)."""


def _parse_ts(value: Any, idx: int) -> datetime:
    if isinstance(value, datetime):
        dt = value
    elif isinstance(value, str):
        try:
            dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        except ValueError as e:
            raise LogValidationError(f"row {idx}: bad timestamp {value!r}: {e}") from None
    else:
        raise LogValidationError(f"row {idx}: timestamp must be ISO-8601 string, got {type(value).__name__}")
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def validate_rows(rows: Sequence[Any], container: str, session: str) -> list[tuple]:
    """JSON rows → typed tuples in LOG_SCHEMA order; loud per-row errors."""
    out = []
    for i, row in enumerate(rows):
        if not isinstance(row, dict):
            raise LogValidationError(f"row {i}: expected object, got {type(row).__name__}")
        missing = [f for f in _REQUIRED if f not in row]
        if missing:
            raise LogValidationError(f"row {i}: missing fields {missing}")
        level, message = row["level"], row["message"]
        if not isinstance(level, str) or not isinstance(message, str):
            raise LogValidationError(f"row {i}: level/message must be strings")
        out.append((_parse_ts(row["timestamp"], i), level, message, container, session))
    return out


class LogStore:
    """Append-oriented log table: hot landing tier ∪ versioned archive tier."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = ensure_runtime_confs(spark)
        self.root = root
        os.makedirs(self._landing_root(), exist_ok=True)
        os.makedirs(self._archive_root(), exist_ok=True)

    # ---- layout -----------------------------------------------------------
    def _landing_root(self) -> str:
        return os.path.join(self.root, "landing")

    def _archive_root(self) -> str:
        return os.path.join(self.root, "archive")

    def _part_dir(self, tier_root: str, container: str, session: str) -> str:
        # every filesystem path derives from here — the safety floor means a
        # hostile name ('../../etc') can never escape the layout through ANY
        # entry point, while names the streaming sink URL-escaped onto disk
        # (which the strict user-input charset would refuse) stay readable
        self._check_path_component("container", container)
        self._check_path_component("session", session)
        return os.path.join(tier_root, f"container={container}", f"session={session}")

    def _sessions(self) -> list[tuple[str, str]]:
        seen = set()
        for tier in (self._landing_root(), self._archive_root()):
            for cdir in sorted(os.listdir(tier)) if os.path.isdir(tier) else []:
                if not cdir.startswith("container="):
                    continue
                for sdir in sorted(os.listdir(os.path.join(tier, cdir))):
                    if sdir.startswith("session="):
                        seen.add((cdir.split("=", 1)[1], sdir.split("=", 1)[1]))
        return sorted(seen)

    # ---- catalog (reference main.py:97-219 container/session endpoints) ---
    _NAME_OK = re.compile(r"[A-Za-z0-9_.-]+")

    def _check_name(self, kind: str, name: str) -> str:
        """Strict charset for USER-SUPPLIED names at the public entry points
        (create_session / write_logs / read_df / import_arrow_buffers):
        names become Hive partition directory components, so reject anything
        that could escape the layout or collide with the `key=value` syntax
        (the reference accepts raw path params, main.py:150, and would
        happily write through a `../`). fullmatch, not match — `$` would
        accept a trailing newline."""
        if (
            not isinstance(name, str)
            or not self._NAME_OK.fullmatch(name)
            or set(name) == {"."}
        ):
            raise ValueError(
                f"invalid {kind} name {name!r}: must match [A-Za-z0-9_.-]+"
            )
        return name

    @staticmethod
    def _check_path_component(kind: str, name: str) -> str:
        """Safety floor for DISK-ENUMERATED names at the path choke point.

        The streaming sink (partitionBy) URL-escapes characters the strict
        charset forbids (':' → '%3A'), so names read back from _sessions()
        can legally contain '%'; rejecting them would brick every
        catalog-wide read over a store that ingested one such row. Here we
        only refuse what can actually escape the layout: separators, NUL,
        and dot-only components."""
        if (
            not isinstance(name, str)
            or not name
            or "/" in name
            or "\\" in name
            or "\x00" in name
            or set(name) == {"."}
        ):
            raise ValueError(f"invalid {kind} path component {name!r}")
        return name

    def create_session(self, container: str, session: str) -> dict:
        """Catalog parity with POST /api/containers/<id>/sessions
        (reference main.py:148-186): registers the (container, session)
        partition by creating its landing directory. Idempotent — the
        reference 409s on duplicates, but a directory layout has no
        separate registry to disagree with."""
        self._check_name("container", container)
        self._check_name("session", session)
        path = self._part_dir(self._landing_root(), container, session)
        existed = os.path.isdir(path)
        os.makedirs(path, exist_ok=True)
        return {"container": container, "session": session, "created": not existed}

    def list_containers(self) -> list[str]:
        """GET /api/containers parity (reference main.py:129-146)."""
        return sorted({c for c, _ in self._sessions()})

    def list_sessions(self, container: str) -> list[str]:
        """GET /api/containers/<id>/sessions parity (main.py:187-219)."""
        return sorted(s for c, s in self._sessions() if c == container)

    # ---- archive version manifest (exactly-once commit protocol) ----------
    def _current_manifest(self, container: str, session: str) -> dict:
        adir = self._part_dir(self._archive_root(), container, session)
        cur = os.path.join(adir, "CURRENT")
        if not os.path.exists(cur):
            return {"version": 0, "files": [], "consumed_landing": []}
        with open(cur) as fh:
            vname = fh.read().strip()
        with open(os.path.join(adir, vname, "MANIFEST.json")) as fh:
            return json.load(fh)

    def archive_versions(self, container: str, session: str) -> list[int]:
        """Committed archive versions still on disk (newest last)."""
        adir = self._part_dir(self._archive_root(), container, session)
        if not os.path.isdir(adir):
            return []
        out = []
        for d in os.listdir(adir):
            if d.startswith("v") and os.path.exists(os.path.join(adir, d, "MANIFEST.json")):
                out.append(int(d[1:]))
        return sorted(out)

    def read_archive_version(self, container: str, session: str, version: int) -> DataFrame:
        """Time-travel read of a committed archive version.

        Old versions are immutable directories that stay on disk after a
        newer CURRENT is committed — the same property Delta/Iceberg expose
        as time travel, for free from the versioned-swap protocol. (A
        retention job may delete old versions; this reads whatever remains.)
        """
        adir = self._part_dir(self._archive_root(), container, session)
        mpath = os.path.join(adir, f"v{version}", "MANIFEST.json")
        if not os.path.exists(mpath):
            raise ValueError(
                f"no archive version {version} for ({container}, {session}); "
                f"available: {self.archive_versions(container, session)}"
            )
        with open(mpath) as fh:
            man = json.load(fh)
        files = [os.path.join(adir, f"v{version}", f) for f in man["files"]]
        if not files:
            return self.spark.createDataFrame([], LOG_SCHEMA)
        return self._read_session_files(container, session, files)

    def _commit_version(self, container: str, session: str, manifest: dict) -> None:
        adir = self._part_dir(self._archive_root(), container, session)
        vdir = os.path.join(adir, f"v{manifest['version']}")
        mtmp = os.path.join(vdir, f".MANIFEST.{uuid.uuid4().hex}")
        with open(mtmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(mtmp, os.path.join(vdir, "MANIFEST.json"))
        tmp = os.path.join(adir, f".CURRENT.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(f"v{manifest['version']}")
        os.replace(tmp, os.path.join(adir, "CURRENT"))  # the atomic commit point

    # ---- write path (reference §3.1) --------------------------------------
    def _append_landing_table(self, container: str, session: str, table, prefix: str) -> None:
        """Atomically land an Arrow table as one parquet file (write tmp →
        rename, like reference writer.py:321-323), with the reference's
        writer knobs: snappy, dictionary encoding, statistics, µs timestamps
        (reference writer.py:310-319)."""
        import pyarrow.parquet as pq

        ldir = self._part_dir(self._landing_root(), container, session)
        os.makedirs(ldir, exist_ok=True)
        tmp = os.path.join(ldir, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(
            table,
            tmp,
            compression="snappy",
            use_dictionary=True,
            write_statistics=True,
            coerce_timestamps="us",
        )
        os.replace(tmp, os.path.join(ldir, f"{prefix}-{uuid.uuid4().hex}.parquet"))

    def write_logs(self, container: str, session: str, rows: Sequence[Any]) -> int:
        """Validated micro-batch append into the landing tier.

        Equivalent of POST /api/logs/<container>/<session> (reference
        main.py:302-337): JSON rows → strict schema → columnar append, one
        parquet file per call (the reference appends one IPC batch per call).
        The hot path is pure Arrow→Parquet — no Spark job, honoring the
        reference's thin-API thesis (README.md:3-7); Spark enters on the
        read/compaction side, where distribution actually matters.
        """
        self._check_name("container", container)
        self._check_name("session", session)
        import pyarrow as pa

        if not rows:
            raise LogValidationError("empty batch")
        tuples = validate_rows(rows, container, session)
        cols = list(zip(*tuples))
        table = pa.table(
            {
                "timestamp": pa.array(cols[0], type=pa.timestamp("us", tz="UTC")),
                "level": pa.array(cols[1], type=pa.string()),
                "message": pa.array(cols[2], type=pa.string()),
                "container": pa.array(cols[3], type=pa.string()),
                "session": pa.array(cols[4], type=pa.string()),
            }
        )
        self._append_landing_table(container, session, table, "batch")
        return len(tuples)

    def import_arrow_buffers(self, container: str, session: str, paths: Sequence[str]) -> int:
        """Migrate reference-format ``.arrow`` buffer files into the landing
        tier — pure Arrow, one parquet file per buffer (the buffers are
        ≤10 MB by the reference's rotation contract, main.py:28). Rows gain
        constant container/session columns if absent (the reference
        denormalizes them at ingest, writer.py:72-74); timestamps are cast
        to µs UTC."""
        self._check_name("container", container)
        self._check_name("session", session)
        import pyarrow as pa
        import pyarrow.ipc as ipc

        n = 0
        for p in paths:
            with pa.memory_map(p) as src:
                table = ipc.open_stream(src).read_all()
            cols = {name: table.column(name) for name in table.column_names}
            cols["timestamp"] = cols["timestamp"].cast(pa.timestamp("us", tz="UTC"))
            for name, val in (("container", container), ("session", session)):
                if name not in cols:
                    cols[name] = pa.array([val] * table.num_rows, type=pa.string())
            out = pa.table({k: cols[k] for k in ("timestamp", "level", "message", "container", "session")})
            self._append_landing_table(container, session, out, "import")
            n += out.num_rows
        return n

    # ---- read path (reference §3.2) ---------------------------------------
    _DT_RE = re.compile(r"(?:^|/)dt=(\d{4}-\d{2}-\d{2})/")

    @classmethod
    def _file_dt(cls, relpath: str) -> str | None:
        """Calendar date of a ``dt=``-subpartitioned archive file, None for
        flat (pre-subpartition) layouts."""
        m = cls._DT_RE.search(relpath.replace(os.sep, "/"))
        return m.group(1) if m else None

    def _tier_files(
        self,
        container: str,
        session: str,
        start_date: str | None = None,
        end_date: str | None = None,
    ) -> tuple[list[str], list[str]]:
        """(archive files, live landing files) honoring the CURRENT manifest.

        ``start_date``/``end_date`` (inclusive ISO dates) prune ``dt=``
        subpartitioned archive files at the FILE-LIST level — the explicit-
        file-list store's form of partition pruning: a time-range scan never
        opens (or even footers) files for other dates. Files without a
        ``dt=`` component (old layout, landing tier) are always kept."""
        man = self._current_manifest(container, session)
        adir = self._part_dir(self._archive_root(), container, session)
        names = man["files"]
        if start_date is not None or end_date is not None:
            names = [
                f
                for f in names
                if (d := self._file_dt(f)) is None
                or ((start_date is None or d >= start_date) and (end_date is None or d <= end_date))
            ]
        archive = [os.path.join(adir, f"v{man['version']}", f) for f in names]
        ldir = self._part_dir(self._landing_root(), container, session)
        consumed = set(man["consumed_landing"])
        landing = []
        if os.path.isdir(ldir):
            landing = [
                os.path.join(ldir, f)
                for f in sorted(os.listdir(ldir))
                if f.endswith(".parquet") and f not in consumed
            ]
        return archive, landing

    def read_df(
        self,
        container: str | None = None,
        session: str | None = None,
        filters: Iterable[Sequence[Any]] = (),
        start_ts: Any = None,
        end_ts: Any = None,
        ordered: bool = True,
    ) -> DataFrame:
        """Two-tier union read with pushdown filters.

        ``start_ts``/``end_ts`` are **inclusive** on both ends (reference
        reader.py:469-472). Unlike the reference — which returns archive-file
        order then buffer order (reference reader.py:495-510) — the public
        default is ``ORDER BY timestamp`` (cheap in Spark); pass
        ``ordered=False`` for the shuffle-free path.

        Files landed by the streaming sink store container/session only in
        the partition *directory* (partitionBy strips them from file data),
        so a leaf-file read with an explicit schema returns NULLs for them;
        :meth:`_read_session_files` re-fills the constants per session group.
        """
        dfs = [
            self._read_session_files(c, s, files)
            for c, s, files in self._scan_files(container, session, start_ts, end_ts)
        ]
        df = reduce(lambda x, y: x.unionByName(y), dfs) if dfs else self.spark.createDataFrame([], LOG_SCHEMA)
        pred = compile_filters(filters)
        # the bounds as _scan_files' dt= pruning and ingest read them (a naive
        # value is UTC): handing Spark a naive datetime would convert it in
        # the process time zone and filter on a different instant than the
        # pruning did
        if start_ts is not None:
            pred = pred & (F.col("timestamp") >= F.lit(_parse_ts(start_ts, 0)))
        if end_ts is not None:
            pred = pred & (F.col("timestamp") <= F.lit(_parse_ts(end_ts, 0)))
        df = df.where(pred)
        if ordered:
            df = df.orderBy(*_READ_ORDER)
        return df

    def _scan_files(self, container, session, start_ts=None, end_ts=None) -> list[tuple[str, str, list[str]]]:
        """``(container, session, files)`` for every session group a read
        scans — the one file resolution :meth:`read_df` and :meth:`count`
        share (name checks, CURRENT-manifest exclusion, ``dt=`` pruning)."""
        for kind, name in (("container", container), ("session", session)):
            if name is not None:  # only None means "all"; '' etc. are invalid
                self._check_name(kind, name)
        groups = [(container, session)] if container is not None and session is not None else self._sessions()
        # dt-subpartition pruning: resolve the inclusive timestamp bounds to
        # calendar dates once, so compacted archives shed whole files before
        # any footer is opened (inclusive bounds → inclusive dates)
        lo_d = _parse_ts(start_ts, 0).date().isoformat() if start_ts is not None else None
        hi_d = _parse_ts(end_ts, 0).date().isoformat() if end_ts is not None else None
        tiers = [
            (c, s, self._tier_files(c, s, start_date=lo_d, end_date=hi_d))
            for c, s in groups
            if container in (None, c) and session in (None, s)
        ]
        return [(c, s, a + l) for c, s, (a, l) in tiers if a or l]

    def _read_session_files(self, container: str, session: str, files: Sequence[str]) -> DataFrame:
        """Read one session's files, restoring the constant container/session
        columns for files whose writer stripped them into partition dirs
        (streaming sink; reference denormalizes the same way, writer.py:72-74)."""
        df = self.spark.read.schema(LOG_SCHEMA).parquet(*files)
        return df.withColumns(
            {
                "container": F.coalesce(F.col("container"), F.lit(container)),
                "session": F.coalesce(F.col("session"), F.lit(session)),
            }
        )

    def read_logs(self, **kwargs) -> list[dict]:
        # One Spark job: the unordered rows come back through Arrow and are
        # sorted on the driver, which holds them all anyway — read_df's
        # ORDER BY would add a sampling job and a shuffle. NULLS FIRST as in
        # Spark. Timestamps come back tz-aware and are normalized to the
        # naive local-time datetimes ``Row.asDict`` produces.
        ordered = kwargs.pop("ordered", True)
        tbl = self.read_df(ordered=False, **kwargs).toArrow()
        if ordered:
            tbl = tbl.sort_by([(k, "ascending") for k in _READ_ORDER], null_placement="at_start")
        out = tbl.to_pylist()
        for d in out:
            ts = d["timestamp"]
            if ts is not None and ts.tzinfo is not None:
                d["timestamp"] = ts.astimezone().replace(tzinfo=None)
        return out

    def read_response(self, container: str, session: str, **kwargs) -> dict:
        """The reference's GET /api/logs response envelope (main.py:280-290):
        ``{logs, total_rows, files_scanned, filter}`` — with the empty-store
        short-circuit of main.py:256-263."""
        archive, landing = self._tier_files(container, session)
        flt = {
            "start_ts": str(kwargs.get("start_ts")) if kwargs.get("start_ts") else None,
            "end_ts": str(kwargs.get("end_ts")) if kwargs.get("end_ts") else None,
        }
        if not archive and not landing:
            return {"logs": [], "total_rows": 0, "files_scanned": 0, "filter": flt}
        logs = self.read_logs(container=container, session=session, **kwargs)
        return {
            "logs": logs,
            "total_rows": len(logs),
            "files_scanned": len(archive) + len(landing),
            "filter": flt,
        }

    def count(self, **kwargs) -> int:
        """Rows ``read_df(**kwargs)`` returns. Without ``filters`` or time
        bounds: the Parquet footer row counts of the files a read would scan,
        no Spark job. A predicate needs a scan, so it runs one."""
        kwargs.setdefault("ordered", False)
        if kwargs.get("filters") or kwargs.get("start_ts") is not None or kwargs.get("end_ts") is not None:
            return self.read_df(**kwargs).count()
        # bind: a misspelled argument raises as it would in read_df
        args = inspect.signature(LogStore.read_df).bind(self, **kwargs).arguments
        groups = self._scan_files(args.get("container"), args.get("session"))
        return sum(n for _, _, files in groups for n, _, _, _ in self._footers(files))

    def stream(self, batch_size: int = 1000, **kwargs) -> Iterator[list[dict]]:
        """Bounded-memory driver-side iteration (reference reader.py:148-179)."""
        batch: list[dict] = []
        for row in self.read_df(**kwargs).toLocalIterator():
            batch.append(row.asDict())
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    def summary(self, container: str, session: str) -> dict:
        """files/rows/bytes per tier (reference reader.py:560-577) — from
        filesystem + parquet footers, no data scan."""
        out = {}
        for tier, files in zip(("archive", "landing"), self._tier_files(container, session)):
            feet = self._footers(files)
            rows, size = sum(f[0] for f in feet), sum(f[1] for f in feet)
            out[tier] = {"files_scanned": len(files), "total_rows": rows, "total_size_bytes": size}
        out["total_rows"] = out["archive"]["total_rows"] + out["landing"]["total_rows"]
        out["files_scanned"] = out["archive"]["files_scanned"] + out["landing"]["files_scanned"]
        return out

    # ---- compaction (reference §2.9 T5, done exactly-once) ----------------
    def expire(self, container: str, session: str, before_ts: Any) -> dict:
        """Retention: drop all rows with timestamp < ``before_ts`` (the
        retention policy every production log store runs; the reference has
        none — data only grows). Implemented as a filtered compaction: a new
        immutable archive version containing only surviving rows commits
        atomically, so readers never see a half-expired state and older
        versions remain time-travelable until removed out-of-band (the
        Delta/Iceberg expire-then-vacuum split)."""
        cutoff = _parse_ts(before_ts, 0)
        return self.compact(container, session, retain_from=cutoff)

    def vacuum(self, container: str, session: str, keep_versions: int = 2) -> dict:
        """Delete archive versions older than the ``keep_versions`` window
        **anchored at CURRENT** (the vacuum half of the expire/vacuum split):
        expired rows stop being recoverable and the version directories stop
        accumulating. Anchoring at CURRENT (not the directory listing) means
        the version CURRENT names is never deleted even if a crashed
        compaction left an uncommitted ``v<N+1>`` on disk — a listing-based
        window would slide past CURRENT and leave it dangling. Runs under the
        per-session compaction lock so it can't race a live compaction's
        version swap. Requesting fewer than 1 kept version is an error
        rather than a foot-gun."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self._check_name("container", container)
        self._check_name("session", session)
        adir = self._part_dir(self._archive_root(), container, session)
        if not os.path.isdir(adir):
            return {"removed_versions": [], "kept": []}
        with self._session_lock(adir, container, session):
            current = self._current_manifest(container, session)["version"]
            versions = self.archive_versions(container, session)
            doomed = [v for v in versions if v <= current - keep_versions]
            import shutil as _shutil

            removed = []
            for v in doomed:
                vdir = os.path.join(adir, f"v{v}")
                _shutil.rmtree(vdir, ignore_errors=True)
                if not os.path.exists(vdir):
                    removed.append(v)
            return {
                "removed_versions": removed,
                "kept": [v for v in versions if v not in removed],
            }

    def maintain(
        self,
        keep_versions: int = 2,
        target_files: int = 1,
        retain_before: Any = None,
    ) -> dict:
        """One maintenance sweep over every (container, session): optional
        retention expiry + compaction, then vacuum of out-of-window version
        dirs — the periodic OPTIMIZE job a production store schedules. Each
        session is an independent unit of work (its own lock, its own
        atomic commit), so a cluster deployment fans sessions out as tasks;
        a failure in one session doesn't block the rest (collected in
        ``errors``). Returns per-session outcomes."""
        out: dict[str, Any] = {"sessions": {}, "errors": {}}
        for c, s in self._sessions():
            key = f"{c}/{s}"
            try:
                if retain_before is not None:
                    r = self.expire(c, s, retain_before)
                else:
                    r = self.compact(c, s, target_files=target_files)
                v = self.vacuum(c, s, keep_versions=keep_versions)
                out["sessions"][key] = {"compact": r, "vacuum": v}
            except Exception as e:  # keep sweeping; report at the end
                out["errors"][key] = str(e)
        return out

    def compact(
        self,
        container: str,
        session: str,
        target_files: int = 1,
        retain_from: Any = None,
    ) -> dict:
        """Merge archive + landing into a new archive version, atomically.

        Crash-safe: all work happens in a fresh ``v<N+1>`` directory; the
        store's state changes only at the ``os.replace`` of CURRENT. Landing
        files consumed by the new version are deleted best-effort afterwards —
        if deletion is interrupted, readers still exclude them via the
        manifest, so rows are never double-counted (fixes the reference's
        reload-without-retire duplication, writer.py:181-219).
        """
        adir = self._part_dir(self._archive_root(), container, session)
        os.makedirs(adir, exist_ok=True)
        if retain_from is not None:  # one instant, however it was spelled
            retain_from = _parse_ts(retain_from, 0)
        with self._session_lock(adir, container, session):
            return self._compact_locked(container, session, target_files, adir, retain_from)

    def _session_lock(self, adir: str, container: str, session: str):
        """Single-mutator-per-session guard (compaction and vacuum): two
        concurrent compactions would race to write the same v<N+1>
        directory, and a vacuum racing a compaction could delete the version
        the in-flight CURRENT swap is about to name. O_EXCL makes the second
        mutator fail loudly instead of corrupting state. A lock left by a
        CRASHED process expires after ``locks.DEFAULT_STALE_AFTER`` instead
        of wedging the session forever — safe because nothing is committed
        until the CURRENT swap."""
        lock = os.path.join(adir, ".compact.lock")
        return file_lock(
            lock,
            f"compaction/vacuum already in progress for ({container}, {session}) — "
            f"remove stale {lock} if the previous process crashed",
        )

    @staticmethod
    def _footers(files: Sequence[str]) -> list[tuple[int, int, datetime | None, datetime | None]]:
        """Per-file ``(num_rows, size, ts_min, ts_max)`` from Parquet footers
        and the filesystem — no data scan, no Spark job. The `timestamp`
        bounds are UTC, or None when some row group lacks statistics."""
        import pyarrow.parquet as pq

        out = []
        for f in files:
            md = pq.read_metadata(f)
            ts = [None, None]
            if "timestamp" in md.schema.names:
                i = md.schema.names.index("timestamp")
                stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
                if stats and all(st is not None and st.has_min_max for st in stats):
                    ts = [min(st.min for st in stats), max(st.max for st in stats)]
                    ts = [t if t.tzinfo else t.replace(tzinfo=timezone.utc) for t in ts]
            out.append((md.num_rows, os.path.getsize(f), *ts))
        return out

    def _compact_locked(
        self,
        container: str,
        session: str,
        target_files: int,
        adir: str,
        retain_from: Any = None,
    ) -> dict:
        man = self._current_manifest(container, session)
        archive, landing = self._tier_files(container, session)
        inputs = archive + landing
        # dt-subpartitioned archives legitimately hold ~one file per date:
        # the "already compact" bound is target_files per task plus one file
        # per date directory a task boundary straddles
        n_dt = len({d for f in man["files"] if (d := self._file_dt(f)) is not None})
        compact_bound = max(target_files, n_dt + target_files - 1)
        if retain_from is None and not landing and len(archive) <= compact_bound:
            return {"version": man["version"], "compacted": False}
        if not inputs:
            return {"version": man["version"], "compacted": False}
        # footer `timestamp` stats of the files holding rows feed both the
        # retention no-op check and the Z-order scale bounds, so compaction
        # never pays a stats job; None when some file lacks them
        feet = [f for f in self._footers(inputs) if f[0]]
        has_stats = feet and all(f[2] is not None for f in feet)
        bounds = (min(f[2] for f in feet), max(f[3] for f in feet)) if has_stats else None
        if retain_from is not None and bounds is not None and bounds[0] >= retain_from:
            # nothing is older than the cutoff — a periodic retention job
            # must not rewrite the whole archive into an identical new
            # version every tick. Footer stats answer this without a scan.
            if not landing and len(archive) <= compact_bound:
                return {"version": man["version"], "compacted": False}
            retain_from = None  # plain compaction; the filter would be a no-op
        new_version = man["version"] + 1
        vdir = os.path.join(adir, f"v{new_version}")
        # _read_session_files: streamed landing files carry container/session
        # only in the partition path — re-fill before the rewrite or the
        # archive would bake NULL keys in permanently
        df = self._read_session_files(container, session, inputs)
        if retain_from is not None:
            # inclusive survival bound: rows at exactly the cutoff survive
            # (consistent with the store's inclusive range-read semantics)
            df = df.where(F.col("timestamp") >= F.lit(retain_from))
        # layout: dt= calendar subpartitions (time-range reads drop whole
        # files at the list level — see _tier_files) + Z-order on
        # (timestamp, level) within each date so parquet min/max stats stay
        # tight on BOTH dimensions: intra-day time scans AND level filters
        # skip row groups. Unlike the generic operators.layout.zorder_by,
        # the scale bounds come from parquet FOOTERS (timestamp, already in
        # hand from the retention check) and the full 32-bit range
        # (crc32(level) — clustering only needs distinct codes to separate,
        # not tight bounds), so compaction pays no stats job.
        from arrow_parquet_logs_spark.operators.layout import Z_COL, scale_to_bits, with_morton_code

        out = df.withColumn("dt", F.to_date("timestamp"))
        if bounds is not None:
            ts_lo, ts_hi = bounds[0].timestamp(), bounds[1].timestamp()
        else:  # footer stats unavailable — one tiny agg job as fallback
            row = out.agg(
                F.min(F.col("timestamp").cast("double")),
                F.max(F.col("timestamp").cast("double")),
            ).collect()[0]
            ts_lo, ts_hi = row[0] or 0.0, row[1] or 1.0
        out, added = with_morton_code(
            out,
            [
                scale_to_bits("timestamp", ts_lo, ts_hi, 16),
                scale_to_bits("crc32(level)", 0.0, float(2**32 - 1), 16),
            ],
            16,
        )
        if target_files == 1:
            # the sort and the write run in one task either way; coalesce
            # runs the scan (parquet decode, crc32, grid projection) in that
            # task too, where repartition(1) scans split-parallel but adds a
            # shuffle map stage: a second job and a shuffle write + read of
            # every row. The two tie on large one-session backlogs (measured
            # in SCALING.md); on the small sessions of steady ingest
            # coalesce saves the job
            out = out.coalesce(1)
        else:
            out = out.repartitionByRange(target_files, "dt", Z_COL)
        out = out.sortWithinPartitions("dt", Z_COL).drop(*added)
        out.write.mode("overwrite").partitionBy("dt").parquet(vdir)
        files = sorted(
            os.path.relpath(os.path.join(root, f), vdir).replace(os.sep, "/")
            for root, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        )
        # Grace-period retirement: delete only files consumed by the
        # PREVIOUS version (they've been manifest-excluded for a full cycle,
        # so a reader that resolved its file list against manifest N just
        # before this commit can still finish scanning this round's landing
        # files — they survive until version N+2). Interrupted deletions are
        # retried on every later compaction. The consumed set is CUMULATIVE:
        # a name never leaves the manifest, even after its file is deleted —
        # a deleted batch file that REAPPEARS (an ingest client retrying a
        # stale PUT after a partition, a restore-from-backup, an
        # eventually-consistent listing ghost) must stay excluded forever or
        # its rows double-count; this is the replay half of the exactly-once
        # contract (the reference's restart-duplication bug, writer.py:
        # 181-219, is one instance). Growth bound: one ~45-byte name per
        # ingest batch between compactions — KBs/day at production cadence;
        # a catalog service would checkpoint-trim names older than the
        # ingest tier's maximum replay horizon.
        ldir = self._part_dir(self._landing_root(), container, session)
        for name in man["consumed_landing"]:
            try:
                os.remove(os.path.join(ldir, name))
            except (FileNotFoundError, OSError):
                pass  # already gone, or retried (and still excluded) later
        manifest = {
            "version": new_version,
            "files": files,
            "consumed_landing": sorted(
                set(man["consumed_landing"]) | {os.path.basename(f) for f in landing}
            ),
        }
        self._commit_version(container, session, manifest)
        return {"version": new_version, "compacted": True, "files": len(files), "input_files": len(inputs)}
