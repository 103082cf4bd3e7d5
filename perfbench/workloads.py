"""The three seeded closed-loop workloads and the correctness model of each.

A workload owns its inputs and its oracle. The run (``run.py``) binds it to a
session, warms it up, lets it drive one client through whole rounds (a
compaction cycle, or a pass over the queries), and then asks it to verify
what it saw. Every check runs outside the timed
operations; a wrong result marks its operation failed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

from perfbench.box import fresh_dir
from perfbench.ops import CHECK_GROUP, SETUP_GROUP, Op, Recorder

ANALYTICS_QUERIES = (
    "logs_ts_range_scan",
    "events_json_extract",
    "events_sessionization",
    "events_kmv_type_overlap",
    "geo_supplier_radius_join",
    "part_skyline_price_size",
    "tpch_q1",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_volume",
    "tpch_q6_revenue_forecast",
    "window_top3_orders_per_customer",
)
LLM_QUERIES = (
    "ann_cosine_topk_pandas",
    "ann_ivfpq_search",
    "dedup_embedding_cosine_fast",
    "dedup_minhash_lsh_fast",
    "dedup_ngram_jaccard_fast",
    "dedup_semantic_keep",
    "docs_quality_score",
    "docs_token_freq",
    "docs_token_lift",
    "embeddings_pq_adc",
    "pipeline_training_set",
)


def _identity_batches(batches):
    yield from batches


def warm_engine(spark) -> None:
    """JVM warm-up: one job through the engine's scan, codegen and collect."""
    spark.sparkContext.setJobGroup(SETUP_GROUP, "warm-up", False)
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def warm_python_workers(spark) -> None:
    """Start the Python-worker pool (one worker per core)."""
    spark.range(64).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        _identity_batches, "id long"
    ).count()


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


# ---------------------------------------------------------------- LogStore

LEVELS = ("DEBUG", "INFO", "NOTICE", "WARNING", "ERROR", "CRITICAL")
LEVEL_WEIGHTS = (15, 45, 10, 18, 10, 2)
WORDS = (
    "request served cache miss hit upstream timeout retry worker queue shard "
    "replica leader follower commit abort flush segment index compaction "
    "manifest snapshot tenant session user token expired refreshed client "
    "server latency spike disk full memory pressure gc pause thread pool "
    "socket closed opened handshake tls cert rotated config reload health "
    "probe ok failed degraded recovered scheduled job batch rows bytes"
).split()
PAIRS = (("edge", "s1"), ("edge", "s2"), ("core", "s1"), ("core", "s2"))
READ_SPAN_US = 10 * 60 * 1_000_000  # a read covers the session's last 10 minutes
READ_FILTER = ("level", "==", "ERROR")
EPOCH = datetime(1970, 1, 1)
US = timedelta(microseconds=1)


def iso_z(ts_us: int) -> str:
    return (EPOCH + ts_us * US).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def row_line(ts_us: int, level: str, message: str) -> str:
    return f"{ts_us}\x1f{level}\x1f{message}"


class LogModel:
    """What the store acknowledged, per (container, session), in time order."""

    def __init__(self):
        self.rows: dict[tuple[str, str], list[tuple[int, str, str]]] = {p: [] for p in PAIRS}
        self.json_bytes = 0

    def ack(self, pair, rows, json_bytes: int) -> None:
        self.rows[pair].extend(rows)
        self.json_bytes += json_bytes

    @property
    def total(self) -> int:
        return sum(len(r) for r in self.rows.values())

    def container_rows(self, container: str) -> int:
        return sum(len(r) for (c, _), r in self.rows.items() if c == container)

    def expected_read(self, pair, lo: int, hi: int, level: str) -> tuple[int, str]:
        # inclusive on both ends, like the store's range read
        hit = [row_line(*r) for r in self.rows[pair] if lo <= r[0] <= hi and r[1] == level]
        return len(hit), _digest(sorted(hit))


class LogGenerator:
    """Seeded log lines: strictly increasing µs timestamps per session
    (about 60 ms apart, so one 1,000-row batch spans about a minute), 6
    levels, messages of 4-20 words."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        # start 0-4 h before a midnight, so compaction's dt= partitions vary
        base = datetime(2024, 3, 1, 20, 0) + timedelta(seconds=self.rng.randrange(4 * 3600))
        start = (base - EPOCH) // US
        self.clock = {p: start for p in PAIRS}

    def batch(self, pair, n: int):
        rng = self.rng
        ts = self.clock[pair]
        rows, model = [], []
        for level in rng.choices(LEVELS, LEVEL_WEIGHTS, k=n):
            ts += rng.randint(40_000, 80_000)
            message = " ".join(rng.choices(WORDS, k=rng.randint(4, 20)))
            rows.append({"timestamp": iso_z(ts), "level": level, "message": message})
            model.append((ts, level, message))
        self.clock[pair] = ts
        return rows, model, len(json.dumps(rows).encode())


def _ts_us(value) -> int:
    # read_logs returns naive datetimes in the process zone, which is UTC here
    if value.tzinfo is not None:
        value = value.astimezone(timezone.utc).replace(tzinfo=None)
    return (value - EPOCH) // US


class LogstoreMixed:
    """Micro-batch writes with range reads, counts and compactions between.

    Write ``i`` sends 1,000 rows to pair ``i % 4`` (one landing file per
    call). After every 4th write one ``read_logs`` covers the last 10 minutes
    of a random session with a level filter; after every 20th a
    container-wide ``count``; after every 100th a ``compact`` of each session.
    """

    name = "logstore_mixed"
    queries: tuple[str, ...] = ()
    batch_rows = 1000
    read_every = 4  # writes between reads
    count_every = 20  # writes between container-wide counts
    compact_every = 100  # writes between compactions of every session
    min_rounds = 1  # compaction cycles per window

    def __init__(self, box, seed: int, store_cls=None):
        from arrow_parquet_logs_spark.logstore import LogStore

        self.store_cls = store_cls or LogStore
        self.box = box
        self.seed = seed
        self.root = os.path.join(box.work, "store")
        self.store = None
        self.checks: list[tuple[str, bool, str]] = []

    def prepare(self) -> float:
        self.reset()
        return 0.0

    def reset(self) -> None:
        """An empty store and the seed's first log lines again, so the next
        window repeats the same operations on the same state. Takes effect
        at the next ``bind``."""
        fresh_dir(self.root)
        self.gen = LogGenerator(self.seed)
        self.rng = random.Random(self.seed ^ 0x5EED)
        self.model = LogModel()
        self.writes = 0

    def bind(self, spark, probe=None) -> None:
        self.spark = spark
        self.store = self.store_cls(spark, self.root)
        self.probe = probe
        if probe is not None:
            self.store.read_df = probe.wrap(self.store.read_df, "store.read_df.s")

    def prime(self) -> None:
        """One write/read/count/compact cycle on a scratch store, so every
        store operation has run once before the window."""
        spark = self.spark
        spark.sparkContext.setJobGroup(SETUP_GROUP, "prime", False)
        root = fresh_dir(os.path.join(self.box.work, "warm-store"))
        store = self.store_cls(spark, root)
        gen = LogGenerator(self.seed + 1)
        for _ in range(2):
            rows, model, _ = gen.batch(PAIRS[0], self.batch_rows)
            store.write_logs(*PAIRS[0], rows)
        store.read_logs(
            container=PAIRS[0][0], session=PAIRS[0][1], filters=[READ_FILTER],
            start_ts=iso_z(model[0][0]), end_ts=iso_z(model[-1][0]),
        )
        store.count(container=PAIRS[0][0])
        store.compact(*PAIRS[0])
        store.count(container=PAIRS[0][0])
        shutil.rmtree(root, ignore_errors=True)

    # -- the closed loop ----------------------------------------------------
    def run_round(self, rec: Recorder) -> None:
        """One compaction cycle: ``compact_every`` writes with their reads
        and counts, then a compaction of every session."""
        for _ in range(self.compact_every):
            self.writes += 1
            self._write(rec, PAIRS[(self.writes - 1) % len(PAIRS)])
            if self.writes % self.read_every == 0:
                self._read(rec)
            if self.writes % self.count_every == 0:
                self._count(rec, PAIRS[(self.writes // self.count_every) % len(PAIRS)][0])
        for pair in PAIRS:
            self._compact(rec, pair)

    def _write(self, rec: Recorder, pair) -> None:
        rows, model, nbytes = self.gen.batch(pair, self.batch_rows)
        before = self._live_bytes(pair, "landing") if self.probe is not None else 0
        with rec.op("write", "write_logs") as op:
            n = self.store.write_logs(*pair, rows)
        if op.ok and n != len(rows):
            op.fail(f"acknowledged {n} of {len(rows)} rows")
        if op.ok:
            self.model.ack(pair, model, nbytes)
            op.attrs["rows"] = n
            op.attrs["input_bytes"] = nbytes
            if self.probe is not None:
                op.attrs["bytes"] = self._live_bytes(pair, "landing") - before

    def _read(self, rec: Recorder) -> None:
        pair = self.rng.choice([p for p in PAIRS if self.model.rows[p]])
        hi = self.model.rows[pair][-1][0]
        lo = hi - READ_SPAN_US
        with rec.op("read", "read_logs") as op:
            got = self.store.read_logs(
                container=pair[0], session=pair[1], filters=[READ_FILTER],
                start_ts=iso_z(lo), end_ts=iso_z(hi),
            )
        if not op.ok:
            return
        want_n, want_h = self.model.expected_read(pair, lo, hi, READ_FILTER[2])
        lines = sorted(row_line(_ts_us(r["timestamp"]), r["level"], r["message"]) for r in got)
        if len(lines) != want_n or _digest(lines) != want_h:
            op.fail(f"read {len(lines)} rows, model has {want_n} (or contents differ)")
        op.attrs["rows"] = len(lines)
        if self.probe is not None:
            s = self.store.summary(*pair)
            op.attrs["files"] = s["files_scanned"]

    def _count(self, rec: Recorder, container: str) -> None:
        with rec.op("count", "count") as op:
            n = self.store.count(container=container)
        if op.ok and n != self.model.container_rows(container):
            op.fail(f"count {n}, model has {self.model.container_rows(container)}")

    def _compact(self, rec: Recorder, pair) -> None:
        with rec.op("compact", "compact") as op:
            res = self.store.compact(*pair)
        if op.ok:
            op.attrs["input_files"] = res.get("input_files", 0)
            if self.probe is not None:
                op.attrs["bytes"] = self._live_bytes(pair, "archive")

    def _live_bytes(self, pair, tier: str) -> int:
        return self.store.summary(*pair)[tier]["total_size_bytes"]

    # -- after the window ---------------------------------------------------
    def verify(self) -> None:
        """Exactly-once: after a final compaction, a fresh store on the same
        root counts exactly the acknowledged rows, none of them twice."""
        from pyspark.sql import functions as F

        # live bytes as the window left the store, before the final compaction
        self.live_bytes = sum(self._live_bytes(p, "archive") + self._live_bytes(p, "landing") for p in PAIRS)
        self.spark.sparkContext.setJobGroup(CHECK_GROUP, "exactly-once check", False)
        try:
            for pair in PAIRS:
                self.store.compact(*pair)
            fresh = self.store_cls(self.spark, self.root)
            n = fresh.count()
            cols = ["timestamp", "level", "message", "container", "session"]
            dups = (
                fresh.read_df(ordered=False).groupBy(*cols).count()
                .where(F.col("count") > 1).count()
            )
            ok = n == self.model.total and dups == 0
            detail = f"{n} rows stored, {self.model.total} acknowledged, {dups} duplicated"
        except Exception as e:  # the check itself failing is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        self.checks.append(("exactly_once", ok, detail))


# ------------------------------------------------------------ query mixes

def generate_data(box, sf: float, seed: int) -> tuple[str, float]:
    """``tools/gen_scale_data.py`` output for (sf, seed), generated once and
    reused. Runs in a child process so its memory stays out of the
    benchmark's peak RSS. Returns (directory, seconds spent generating)."""
    out = os.path.join(box.work, "data", f"sf{sf}-seed{seed}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out, 0.0
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    t = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(box.root, "tools", "gen_scale_data.py"),
         "--sf", str(sf), "--out", tmp, "--seed", str(seed)],
        check=True, stdout=subprocess.DEVNULL, timeout=600,
    )
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, time.perf_counter() - t


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a result, in the parity harness's
    canonical form (columns by name, cells stringified, rows sorted)."""
    from tests.parity import canonical_rows

    return _digest([repr(sorted(pdf.columns))] + [repr(r) for r in canonical_rows(pdf)])


class QueryMix:
    """Registry rows run in seeded passes; each pass permutes the order."""

    min_rounds = 2  # passes per window: each row's median rests on two runs

    def __init__(self, box, seed: int, name: str, queries: tuple[str, ...], sf: float):
        from arrow_parquet_logs_spark.queries import all_oracles, all_queries

        self.box = box
        self.seed = seed
        self.name = name
        self.queries = queries
        self.sf = sf
        self.fns = {n: all_queries()[n] for n in queries}
        self.oracles = {n: all_oracles()[n] for n in queries}
        self.rng = random.Random(seed)
        self.results: dict[str, list[tuple[Op, str]]] = {n: [] for n in queries}
        self.pass_walls: list[float] = []
        self.checks: list[tuple[str, bool, str]] = []

    def prepare(self) -> float:
        self.data_dir, gen_s = generate_data(self.box, self.sf, self.seed)
        return gen_s

    def bind(self, spark, probe=None) -> None:
        self.spark = spark

    def reset(self) -> None:
        pass  # the data is read-only; every pass sees the same state

    def run_query(self, name: str, op: Op | None = None):
        df = self.fns[name](self.spark, self.data_dir)
        if op is not None:
            op.mark_plan()
        return df.toPandas()

    def prime(self) -> None:
        """One untimed pass over the workload's data, so the JVM's generated
        code is compiled and every Python worker has loaded the operators
        before the window. The Python-worker pool starts first."""
        self.spark.sparkContext.setJobGroup(SETUP_GROUP, "prime", False)
        warm_python_workers(self.spark)
        for name in self.queries:
            self.run_query(name)

    def run_round(self, rec: Recorder) -> None:
        """One pass over every query, in an order the seed permutes."""
        order = list(self.queries)
        self.rng.shuffle(order)
        wall = 0.0
        for name in order:
            with rec.op("query", name) as op:
                pdf = self.run_query(name, op)
            wall += op.wall
            if op.ok:
                op.attrs["rows"] = len(pdf)
                self.results[name].append((op, frame_digest(pdf)))
        self.pass_walls.append(wall)

    def verify(self) -> None:
        """Hash-match every result against the DuckDB oracle on the same files."""
        from tests.parity import duck_connect

        con = duck_connect(self.data_dir)
        try:
            for name in self.queries:
                try:
                    want = frame_digest(con.sql(self.oracles[name]).df())
                except Exception as e:
                    self.checks.append((f"oracle {name}", False, f"{type(e).__name__}: {e}"))
                    continue
                for op, got in self.results[name]:
                    if got != want:
                        op.fail("result differs from the DuckDB oracle")
        finally:
            con.close()


LLM_SF = 0.02
#: the benchmark's workloads (BENCHMARK.json), then extra ones for manual runs
WORKLOADS = ("logstore_mixed", f"llm_pipeline_sf{LLM_SF}", "analytics_sf0.1")


def make_workload(name: str, box, seed: int):
    if name == "logstore_mixed":
        return LogstoreMixed(box, seed)
    if name == f"llm_pipeline_sf{LLM_SF}":
        return QueryMix(box, seed, name, LLM_QUERIES, sf=LLM_SF)
    if name == "analytics_sf0.1":
        return QueryMix(box, seed, name, ANALYTICS_QUERIES, sf=0.1)
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")
