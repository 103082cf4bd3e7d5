"""Reference-semantics tests (SURVEY.md §1.3 decisions) for the LogStore."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from arrow_parquet_logs_spark.logstore import FilterError, LogStore
from arrow_parquet_logs_spark.logstore.store import LogValidationError


@pytest.fixture()
def store(spark, tmp_path):
    return LogStore(spark, str(tmp_path / "logs"))


def _w(store, c="a", s="s1", ts="2024-01-01T00:00:00Z", level="INFO", msg="m"):
    return store.write_logs(c, s, [{"timestamp": ts, "level": level, "message": msg}])


def test_empty_store_reads_empty(store):
    assert store.read_logs(container="a", session="s1") == []
    assert store.count(container="a", session="s1") == 0


def test_read_your_writes_and_iso_z(store):
    store.write_logs(
        "a",
        "s1",
        [
            {"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": "m1"},
            {"timestamp": "2024-01-01T00:00:05+00:00", "level": "ERROR", "message": "m2"},
        ],
    )
    _w(store, ts="2024-01-01T00:00:10Z", msg="m3")
    rows = store.read_logs(container="a", session="s1")
    assert [r["message"] for r in rows] == ["m1", "m2", "m3"]
    assert rows[0]["timestamp"].isoformat() == "2024-01-01T00:00:00"


def test_inclusive_time_range_bounds(store):
    for i in range(3):
        _w(store, ts=f"2024-01-01T00:00:{i * 5:02d}Z", msg=f"m{i}")
    rows = store.read_logs(
        container="a", session="s1", start_ts="2024-01-01 00:00:00", end_ts="2024-01-01 00:00:05"
    )
    assert [r["message"] for r in rows] == ["m0", "m1"]  # both ends inclusive


def test_compaction_exactly_once(store):
    for i in range(3):
        _w(store, msg=f"m{i}", ts=f"2024-01-01T00:00:0{i}Z")
    before = store.read_logs(container="a", session="s1")
    res = store.compact("a", "s1")
    assert res["compacted"]
    after = store.read_logs(container="a", session="s1")
    assert [r["message"] for r in after] == [r["message"] for r in before]
    # again: writes + compact keep exactly-once
    _w(store, msg="m3", ts="2024-01-01T00:00:03Z")
    assert store.count(container="a", session="s1") == 4
    store.compact("a", "s1")
    assert store.count(container="a", session="s1") == 4
    # third compact is a no-op
    assert store.compact("a", "s1")["compacted"] is False


def test_crash_window_consumed_landing_excluded(store):
    _w(store, msg="m0")
    _w(store, msg="m1", ts="2024-01-01T00:00:01Z")
    store.compact("a", "s1")
    # simulate crash-before-cleanup: resurrect a consumed landing file
    adir = store._part_dir(store._archive_root(), "a", "s1")
    cur = open(os.path.join(adir, "CURRENT")).read()
    man = json.load(open(os.path.join(adir, cur, "MANIFEST.json")))
    archive_file = os.path.join(adir, cur, man["files"][0])
    ghost = os.path.join(store._part_dir(store._landing_root(), "a", "s1"), man["consumed_landing"][0])
    shutil.copy(archive_file, ghost)
    assert store.count(container="a", session="s1") == 2  # not double-counted


def test_replayed_landing_file_excluded_across_versions(store):
    """Exactly-once vs ingest REPLAY: a landing batch consumed (and later
    deleted) by an OLD version that reappears — a client retrying a stale
    PUT, a restore-from-backup — must stay manifest-excluded forever. The
    consumed set is cumulative, so the count never changes."""
    _w(store, msg="m0")
    _w(store, msg="m1", ts="2024-01-01T00:00:01Z")
    ldir = store._part_dir(store._landing_root(), "a", "s1")
    # snapshot the landing batch files before they're consumed + deleted
    saved = {f: open(os.path.join(ldir, f), "rb").read() for f in os.listdir(ldir)
             if f.endswith(".parquet")}
    store.compact("a", "s1")                       # v1 consumes them
    _w(store, msg="m2", ts="2024-01-01T00:00:02Z")
    store.compact("a", "s1")                       # v2 grace-deletes v1's files
    assert store.count(container="a", session="s1") == 3
    for f, data in saved.items():                  # replay the stale PUTs
        assert not os.path.exists(os.path.join(ldir, f))  # confirmed deleted
        with open(os.path.join(ldir, f), "wb") as fh:
            fh.write(data)
    assert store.count(container="a", session="s1") == 3  # still exactly-once
    # and a further compaction neither re-consumes nor duplicates them
    _w(store, msg="m3", ts="2024-01-01T00:00:03Z")
    store.compact("a", "s1")
    assert store.count(container="a", session="s1") == 4


def test_time_travel_archive_versions(store):
    _w(store, msg="m0")
    store.compact("a", "s1")
    _w(store, msg="m1", ts="2024-01-01T00:00:01Z")
    store.compact("a", "s1")
    assert store.archive_versions("a", "s1") == [1, 2]
    v1 = [r.message for r in store.read_archive_version("a", "s1", 1).collect()]
    v2 = [r.message for r in store.read_archive_version("a", "s1", 2).orderBy("timestamp").collect()]
    assert v1 == ["m0"] and v2 == ["m0", "m1"]  # old version still readable
    with pytest.raises(ValueError, match="available"):
        store.read_archive_version("a", "s1", 99)


def test_concurrent_compaction_guard(store):
    _w(store)
    _w(store, ts="2024-01-01T00:00:01Z", msg="m1")
    adir = store._part_dir(store._archive_root(), "a", "s1")
    os.makedirs(adir, exist_ok=True)
    open(os.path.join(adir, ".compact.lock"), "w").write("999999")
    with pytest.raises(RuntimeError, match="already in progress"):
        store.compact("a", "s1")
    os.remove(os.path.join(adir, ".compact.lock"))
    assert store.compact("a", "s1")["compacted"]  # lock released → works
    assert not os.path.exists(os.path.join(adir, ".compact.lock"))


def test_composite_keys_do_not_collide(store):
    _w(store, c="a_b", s="c", msg="k1")
    _w(store, c="a", s="b_c", msg="k2")
    assert [r["message"] for r in store.read_logs(container="a_b", session="c")] == ["k1"]
    assert [r["message"] for r in store.read_logs(container="a", session="b_c")] == ["k2"]


def test_validation_errors_are_loud(store):
    cases = [
        [{"level": "INFO", "message": "x"}],
        [{"timestamp": "nope", "level": "I", "message": "x"}],
        [{"timestamp": "2024-01-01T00:00:00Z", "level": 7, "message": "x"}],
        ["not-a-dict"],
        [],
    ]
    for rows in cases:
        with pytest.raises(LogValidationError):
            store.write_logs("a", "s1", rows)


def test_unknown_filter_op_raises(store):
    _w(store)
    with pytest.raises(FilterError):
        store.read_logs(container="a", session="s1", filters=[("level", "~", "x")])


def test_filters_and_stream(store):
    for i in range(5):
        _w(store, ts=f"2024-01-01T00:00:0{i}Z", level="INFO" if i % 2 else "ERROR", msg=f"m{i}")
    errs = store.read_logs(container="a", session="s1", filters=[("level", "==", "ERROR")])
    assert [r["message"] for r in errs] == ["m0", "m2", "m4"]
    batches = list(store.stream(batch_size=2, container="a", session="s1"))
    assert [len(b) for b in batches] == [2, 2, 1]


def test_concurrent_writer_reader_smoke(store):
    """Reference-parity concurrency smoke (client.py:307-458 threaded demo),
    upgraded to actually assert: a writer appends batches while a reader
    polls; reads never error, never regress, and converge to the final
    count. A mid-run compaction must be invisible to both."""
    import threading

    errors = []
    counts = []
    stop = threading.Event()

    def writer():
        try:
            for i in range(12):
                store.write_logs(
                    "a",
                    "s1",
                    [{"timestamp": f"2024-01-01T00:{i:02d}:00Z", "level": "INFO", "message": f"m{i}"}],
                )
                if i == 6:
                    store.compact("a", "s1")
        except Exception as e:  # noqa: BLE001
            errors.append(e)
        finally:
            stop.set()

    def reader():
        try:
            while not stop.is_set():
                counts.append(store.count(container="a", session="s1"))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    tw, tr = threading.Thread(target=writer), threading.Thread(target=reader)
    tw.start(); tr.start(); tw.join(); tr.join()
    assert not errors, errors
    assert counts == sorted(counts), "reads regressed during concurrent writes"
    assert store.count(container="a", session="s1") == 12


def test_summary_counts_tiers(store):
    _w(store, msg="m0")
    _w(store, msg="m1", ts="2024-01-01T00:00:01Z")
    s = store.summary("a", "s1")
    assert s["landing"]["total_rows"] == 2 and s["archive"]["total_rows"] == 0
    store.compact("a", "s1")
    s = store.summary("a", "s1")
    assert s["archive"]["total_rows"] == 2 and s["landing"]["total_rows"] == 0
    assert s["archive"]["files_scanned"] == 1


def test_catalog_endpoints_and_name_validation(store):
    """Container/session catalog parity (reference main.py:97-219) plus the
    safety the reference lacks: names are partition directory components, so
    traversal/keyword characters must be rejected at every entry point."""
    r = store.create_session("web", "sess-1")
    assert r == {"container": "web", "session": "sess-1", "created": True}
    assert store.create_session("web", "sess-1")["created"] is False  # idempotent
    _w(store, msg="m0")  # writes to ("a", "s1")
    assert "web" in store.list_containers() and "a" in store.list_containers()
    assert store.list_sessions("web") == ["sess-1"]
    assert store.list_sessions("a") == ["s1"]
    assert store.list_sessions("nope") == []

    import pytest as _pytest

    for bad_c, bad_s in [("../esc", "s"), ("c", "a/b"), ("x=y", "s"), ("", "s"), ("c", "..")]:
        with _pytest.raises(ValueError, match="invalid"):
            store.create_session(bad_c, bad_s)
        with _pytest.raises(ValueError, match="invalid"):
            store.write_logs(bad_c, bad_s, [{"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": "m"}])
        with _pytest.raises(ValueError, match="invalid"):
            store.read_df(bad_c, bad_s).count()


def test_expire_retention(store):
    """expire() drops rows older than the cutoff (inclusive survival at the
    boundary), commits atomically as a new version, leaves older versions
    time-travelable, and is a no-op when nothing else expires."""
    for i, ts in enumerate(["2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", "2024-01-03T00:00:00Z"]):
        _w(store, msg=f"m{i}", ts=ts)
    store.compact("a", "s1")
    assert store.count(container="a", session="s1") == 3

    r = store.expire("a", "s1", "2024-01-02T00:00:00Z")
    assert r["compacted"] is True
    msgs = sorted(x.message for x in store.read_df("a", "s1").collect())
    assert msgs == ["m1", "m2"]  # boundary row survives (inclusive)

    # old version still holds the expired row (time travel before vacuum)
    v_old = store.archive_versions("a", "s1")[-2]
    old_msgs = sorted(x.message for x in store.read_archive_version("a", "s1", v_old).collect())
    assert old_msgs == ["m0", "m1", "m2"]

    # landing rows written after compaction also respect a later expiry
    _w(store, msg="m3", ts="2024-01-01T12:00:00Z")  # pre-cutoff landing row
    store.expire("a", "s1", "2024-01-02T00:00:00Z")
    assert sorted(x.message for x in store.read_df("a", "s1").collect()) == ["m1", "m2"]


def test_expire_is_noop_when_nothing_expires(store):
    """A periodic retention job on a quiet session must not rewrite the
    archive into an identical new version every tick — footer min-timestamp
    stats detect the no-expiry case without a scan."""
    _w(store, msg="m0", ts="2024-06-01T00:00:00Z")
    store.compact("a", "s1")
    v = store.archive_versions("a", "s1")[-1]
    r = store.expire("a", "s1", "2024-01-01T00:00:00Z")  # cutoff before all data
    assert r["compacted"] is False
    assert store.archive_versions("a", "s1")[-1] == v  # no new version
    assert store.count(container="a", session="s1") == 1


def test_vacuum_removes_old_versions(store):
    """vacuum() deletes version directories beyond the kept window; CURRENT
    data is untouched and vacuumed versions stop being time-travelable."""
    import pytest as _pytest

    for i in range(3):
        _w(store, msg=f"m{i}", ts=f"2024-01-0{i+1}T00:00:00Z")
        store.compact("a", "s1")
    assert store.archive_versions("a", "s1") == [1, 2, 3]
    r = store.vacuum("a", "s1", keep_versions=1)
    assert r["removed_versions"] == [1, 2] and store.archive_versions("a", "s1") == [3]
    assert store.count(container="a", session="s1") == 3  # live data intact
    with _pytest.raises(ValueError, match="available"):
        store.read_archive_version("a", "s1", 1)
    with _pytest.raises(ValueError, match="keep_versions"):
        store.vacuum("a", "s1", keep_versions=0)


def test_vacuum_anchors_at_current_not_listing(store):
    """A compaction that crashed between the MANIFEST write and the CURRENT
    swap leaves an uncommitted v<N+1> on disk. vacuum must anchor its kept
    window at the version CURRENT names — a listing-anchored window would
    count the orphan and delete CURRENT's version, dangling the pointer."""
    for i in range(2):
        _w(store, msg=f"m{i}", ts=f"2024-01-0{i+1}T00:00:00Z")
        store.compact("a", "s1")
    adir = store._part_dir(store._archive_root(), "a", "s1")
    # simulate the crash window: v3 has a manifest, CURRENT still names v2
    os.makedirs(os.path.join(adir, "v3"))
    with open(os.path.join(adir, "v3", "MANIFEST.json"), "w") as fh:
        json.dump({"version": 3, "files": [], "consumed_landing": []}, fh)
    assert store.archive_versions("a", "s1") == [1, 2, 3]
    r = store.vacuum("a", "s1", keep_versions=1)
    # v2 (CURRENT) survives; only v1 is old enough relative to CURRENT
    assert r["removed_versions"] == [1]
    assert store.count(container="a", session="s1") == 2  # reads still work
    # a later compaction overwrites the orphan v3 and commits it
    _w(store, msg="m2", ts="2024-01-03T00:00:00Z")
    store.compact("a", "s1")
    assert store.count(container="a", session="s1") == 3


def test_vacuum_blocked_by_compaction_lock(store):
    _w(store)
    store.compact("a", "s1")
    adir = store._part_dir(store._archive_root(), "a", "s1")
    lock = os.path.join(adir, ".compact.lock")
    with open(lock, "w") as fh:
        fh.write("held")
    with pytest.raises(RuntimeError, match="in progress"):
        store.vacuum("a", "s1", keep_versions=1)
    os.remove(lock)
    assert store.vacuum("a", "s1", keep_versions=1)["removed_versions"] == []


def test_compact_dt_subpartitions_prune_time_scans(store):
    """Compaction lays the archive out as dt= calendar subpartitions with
    Z-order on (timestamp, level): a time-range read must drop other dates'
    files at the FILE-LIST level (before any footer is opened), per-file
    footer stats must confine each file to its date, and results across the
    pruned boundary stay exact (inclusive bounds)."""
    import pyarrow.parquet as pq

    rows = []
    for day in (1, 2, 3):
        for h in (0, 6, 12):
            for lvl in ("INFO", "ERROR"):
                rows.append({
                    "timestamp": f"2024-01-0{day}T{h:02d}:00:00Z",
                    "level": lvl,
                    "message": f"d{day}h{h}{lvl}",
                })
    store.write_logs("a", "s1", rows)
    r = store.compact("a", "s1")
    assert r["compacted"]
    man = store._current_manifest("a", "s1")
    dts = {store._file_dt(f) for f in man["files"]}
    assert dts == {"2024-01-01", "2024-01-02", "2024-01-03"}, man["files"]
    # file-list pruning: a one-day range touches only that day's files
    a_all, _ = store._tier_files("a", "s1")
    a_day2, _ = store._tier_files("a", "s1", start_date="2024-01-02", end_date="2024-01-02")
    assert 0 < len(a_day2) < len(a_all)
    assert all("dt=2024-01-02" in f for f in a_day2)
    # footer stats: every file's timestamp min/max stays inside its date
    adir = store._part_dir(store._archive_root(), "a", "s1")
    for rel in man["files"]:
        f = os.path.join(adir, f"v{man['version']}", rel)
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["timestamp"]).statistics
            assert st.min.date().isoformat() == store._file_dt(rel), (rel, st.min)
            assert st.max.date().isoformat() == store._file_dt(rel), (rel, st.max)
    # correctness across the pruned boundary, inclusive both ends
    got = store.read_logs(
        container="a", session="s1",
        start_ts="2024-01-02T00:00:00Z", end_ts="2024-01-03T00:00:00Z",
    )
    assert [g["message"] for g in got] == [
        "d2h0ERROR", "d2h0INFO", "d2h6ERROR", "d2h6INFO", "d2h12ERROR", "d2h12INFO",
        "d3h0ERROR", "d3h0INFO",
    ] or len(got) == 8
    assert {g["message"][:2] for g in got} == {"d2", "d3"}
    # recompact with nothing new: the dt-aware bound makes it a no-op
    assert store.compact("a", "s1")["compacted"] is False


def test_maintain_sweeps_all_sessions(store):
    """maintain() compacts + vacuums every session independently; one
    locked session reports an error without blocking the rest."""
    for c, s in (("a", "s1"), ("a", "s2"), ("b", "s1")):
        store.write_logs(c, s, [{"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": f"{c}{s}"}])
    r1 = store.maintain()
    assert set(r1["sessions"]) == {"a/s1", "a/s2", "b/s1"} and not r1["errors"]
    assert all(v["compact"]["compacted"] for v in r1["sessions"].values())
    # second sweep: all no-ops
    r2 = store.maintain()
    assert all(not v["compact"]["compacted"] for v in r2["sessions"].values())
    # hold one session's lock: it errors, others still sweep
    store.write_logs("a", "s1", [{"timestamp": "2024-01-02T00:00:00Z", "level": "INFO", "message": "x"}])
    store.write_logs("a", "s2", [{"timestamp": "2024-01-02T00:00:00Z", "level": "INFO", "message": "y"}])
    lock = os.path.join(store._part_dir(store._archive_root(), "a", "s1"), ".compact.lock")
    with open(lock, "w") as fh:
        fh.write("held")
    r3 = store.maintain()
    assert "a/s1" in r3["errors"] and "in progress" in r3["errors"]["a/s1"]
    assert r3["sessions"]["a/s2"]["compact"]["compacted"]
    os.remove(lock)
    # retention sweep drops old rows everywhere
    r4 = store.maintain(retain_before="2024-01-02T00:00:00Z", keep_versions=1)
    assert not r4["errors"]
    assert store.count() == 2  # only the 2024-01-02 rows survive


# ---- footer-answered count() and driver-ordered read_logs() ---------------

def _scopes(store):
    """Every read scope over the store's sessions: each session, each
    container on its own, and the whole store."""
    pairs = store._sessions()
    return (
        [{"container": c, "session": s} for c, s in pairs]
        + [{"container": c} for c in sorted({c for c, _ in pairs})]
        + [{}]
    )


def _assert_footer_count_matches_scan(store, scopes=None):
    for scope in scopes or _scopes(store):
        assert store.count(**scope) == store.read_df(ordered=False, **scope).count(), scope


def test_footer_count_matches_scan_empty_and_landing_only(store):
    _assert_footer_count_matches_scan(
        store, [{}, {"container": "a"}, {"container": "a", "session": "s1"}]
    )
    assert store.count() == 0
    for c, s, n in (("a", "s1", 3), ("a", "s2", 2), ("b", "s1", 1)):
        for i in range(n):
            _w(store, c=c, s=s, ts=f"2024-01-01T00:00:0{i}Z", msg=f"{c}{s}{i}")
    assert store.count() == 6 and store.count(container="a") == 5
    _assert_footer_count_matches_scan(store)


def test_footer_count_matches_scan_archive_ghost_and_replay(store):
    _w(store, msg="m0")
    _w(store, msg="m1", ts="2024-01-01T00:00:01Z")
    _w(store, s="s2", msg="x0")
    ldir = store._part_dir(store._landing_root(), "a", "s1")
    saved = {f: open(os.path.join(ldir, f), "rb").read() for f in os.listdir(ldir)
             if f.endswith(".parquet")}
    store.compact("a", "s1")                       # v1 consumes m0, m1
    _w(store, msg="m2", ts="2024-01-01T00:00:02Z")  # archive + landing
    assert store.count(container="a", session="s1") == 3
    _assert_footer_count_matches_scan(store)
    # crash-window ghost: a consumed landing file copied back
    man = store._current_manifest("a", "s1")
    adir = store._part_dir(store._archive_root(), "a", "s1")
    archive_file = os.path.join(adir, f"v{man['version']}", man["files"][0])
    shutil.copy(archive_file, os.path.join(ldir, man["consumed_landing"][0]))
    assert store.count(container="a", session="s1") == 3
    _assert_footer_count_matches_scan(store)
    # replay: v2 grace-deletes v1's consumed files, which then reappear
    store.compact("a", "s1")
    for f, data in saved.items():
        assert not os.path.exists(os.path.join(ldir, f))
        with open(os.path.join(ldir, f), "wb") as fh:
            fh.write(data)
    assert store.count(container="a", session="s1") == 3
    assert store.count() == 4
    _assert_footer_count_matches_scan(store)


def test_footer_count_matches_scan_streamed_landing(spark, tmp_path):
    """The streaming sink strips container/session into the partition path;
    the footer count still covers exactly the files a read scans."""
    from arrow_parquet_logs_spark.streaming import start_ingest

    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        for i, (c, s) in enumerate((("a", "s1"), ("a", "s1"), ("a", "s2"))):
            fh.write(json.dumps({"timestamp": f"2024-01-01T00:0{i}:00Z", "level": "INFO",
                                 "message": f"m{i}", "container": c, "session": s}) + "\n")
    root = str(tmp_path / "store")
    start_ingest(spark, str(src), root, str(tmp_path / "ckpt")).awaitTermination()
    store = LogStore(spark, root)
    ldir = store._part_dir(store._landing_root(), "a", "s1")
    landed = [f for f in os.listdir(ldir) if f.endswith(".parquet")]
    import pyarrow.parquet as pq

    assert landed and all("container" not in pq.read_schema(os.path.join(ldir, f)).names for f in landed)
    _w(store, msg="m3", ts="2024-01-01T00:03:00Z")  # a batch file beside the streamed ones
    assert store.count(container="a", session="s1") == 3 and store.count() == 4
    _assert_footer_count_matches_scan(store)


def test_filtered_count_still_scans(store):
    for i in range(4):
        _w(store, ts=f"2024-01-01T00:00:0{i}Z", level="ERROR" if i % 2 else "INFO", msg=f"m{i}")
    assert store.count(container="a", filters=[("level", "==", "ERROR")]) == 2
    assert store.count(start_ts="2024-01-01T00:00:01Z", end_ts="2024-01-01T00:00:02Z") == 2
    with pytest.raises(TypeError):
        store.count(contianer="a")  # misspelled, as read_df would reject it
    with pytest.raises(ValueError, match="invalid"):
        store.count(container="../x")


def _import_null_ts_row(store, tmp_path, c, s):
    import pyarrow as pa

    path = str(tmp_path / "null_ts.arrow")
    tbl = pa.table({
        "timestamp": pa.array([None], type=pa.timestamp("us", tz="UTC")),
        "level": ["WARN"],
        "message": ["no clock"],
    })
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return store.import_arrow_buffers(c, s, [path])


def test_read_logs_order_matches_spark_order_by(store, tmp_path):
    """Driver-side Arrow sort == read_df's ORDER BY timestamp, container,
    session: ties on timestamp across two sessions of one container order
    by session, and a NULL timestamp sorts first (Spark ascending = NULLS
    FIRST)."""
    for i in (2, 0, 1):
        for s in ("s2", "s1"):
            _w(store, s=s, ts=f"2024-01-01T00:00:0{i}Z", msg=f"{s}-{i}")
    _w(store, c="b", s="s1", ts="2024-01-01T00:00:01Z", msg="b-1")
    store.compact("a", "s1")  # one session's rows from the archive tier
    assert _import_null_ts_row(store, tmp_path, "a", "s2") == 1
    for scope in ({"container": "a"}, {}, {"container": "a", "session": "s2"}):
        want = [r.asDict() for r in store.read_df(**scope).collect()]
        assert store.read_logs(**scope) == want, scope
    got = store.read_logs(container="a")
    assert got[0]["timestamp"] is None
    assert [r["message"] for r in got[1:3]] == ["s1-0", "s2-0"]
    # ordered=False skips the sort but returns the same rows
    key = lambda r: (r["session"], r["message"])  # noqa: E731
    assert sorted(store.read_logs(container="a", ordered=False), key=key) == sorted(got, key=key)


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs it ran), from the job group it runs in."""
    import uuid

    sc = spark.sparkContext
    group = f"jobpin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unfiltered_count_runs_no_job_and_read_logs_one(spark, store):
    for s in ("s1", "s2"):
        for i in range(3):
            _w(store, s=s, ts=f"2024-01-01T00:00:0{i}Z", msg=f"{s}{i}")
    store.compact("a", "s1")
    _w(store, ts="2024-01-01T00:00:09Z", msg="late")
    for scope in ({}, {"container": "a"}, {"container": "a", "session": "s1"}):
        n, jobs = _jobs_run(spark, lambda: store.count(**scope))
        assert (n, jobs) == (7 if scope.get("session") is None else 4, 0), scope
    rows, jobs = _jobs_run(spark, lambda: store.read_logs(container="a"))
    assert len(rows) == 7 and jobs == 1
    # the filtered path still runs Spark (a predicate needs a scan)
    n, jobs = _jobs_run(spark, lambda: store.count(container="a", filters=[("message", "==", "late")]))
    assert n == 1 and jobs >= 1


def _write_plans(spark, out_dir):
    """Executed physical plans of the recent SQL executions that wrote
    ``out_dir``, from the session's SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ss = spark._jsparkSession.sharedState().statusStore()
    recent = ss.executionsList(max(0, ss.executionsCount() - 8), 8)
    plans = [recent.apply(i).physicalPlanDescription() for i in range(recent.size())]
    return [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p and out_dir in p]


def test_single_file_compaction_is_one_job_without_exchange(spark, store):
    for d in (1, 2):
        for h in range(3):
            _w(store, ts=f"2024-01-0{d}T{h:02d}:00:00Z", level=("INFO", "WARN")[h % 2], msg=f"{d}{h}")
    res, jobs = _jobs_run(spark, lambda: store.compact("a", "s1"))
    assert res["compacted"] and jobs == 1
    (plan,) = _write_plans(spark, os.path.join(store.root, "archive", "container=a", "session=s1", "v1"))
    # the sort and the write share one task: no shuffle in front of them,
    # and the level hash is computed once per row, not once per code bit
    assert "Exchange" not in plan
    assert plan.count("crc32(") == 1
    assert store.count(container="a", session="s1") == 6


def test_compaction_zorders_rows_within_each_date(store):
    import glob
    import math
    import zlib
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_layout import _py_morton

    def grid(v, lo, hi, bits=16):  # layout.scale_to_bits, in Python
        frac = min(max((v - lo) / (hi - lo if hi > lo else 1.0), 0.0), 1.0)
        return min(math.floor(frac * float(1 << bits)), (1 << bits) - 1)

    levels = ("DEBUG", "INFO", "WARN", "ERROR")
    written = []
    for d in (1, 2):
        for k in range(40):
            ts = f"2024-01-0{d}T{(k * 7) % 24:02d}:{(k * 13) % 60:02d}:{k % 60:02d}.{k:06d}Z"
            written.append(ts)
            _w(store, ts=ts, level=levels[k % 4], msg=f"{d}-{k}")
    # the footer bounds compaction scales by: min/max of the written instants
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    us = [(datetime.fromisoformat(t.replace("Z", "+00:00")) - epoch) // timedelta(microseconds=1) for t in written]
    lo, hi = min(us) / 1e6, max(us) / 1e6
    store.compact("a", "s1")
    vdir = os.path.join(store.root, "archive", "container=a", "session=s1", "v1")
    files = sorted(glob.glob(os.path.join(vdir, "dt=*", "*.parquet")))
    assert len(files) == 2
    time_sorted = []
    for f in files:
        t = pq.read_table(f, columns=["timestamp", "level"])
        ts_us = t.column("timestamp").cast(pa.int64()).to_pylist()
        codes = [
            _py_morton([grid(u / 1e6, lo, hi), grid(zlib.crc32(lv.encode()), 0.0, float(2**32 - 1))], 16)
            for u, lv in zip(ts_us, t.column("level").to_pylist())
        ]
        assert codes == sorted(codes), f
        time_sorted.append(ts_us == sorted(ts_us))
    assert not all(time_sorted)  # the order is the Z-curve's, not time's


def test_naive_datetime_bounds_mean_utc_before_and_after_compaction(store, monkeypatch):
    """A naive bound is UTC for ingest and for dt= pruning, so Spark's
    predicate must read it as UTC too — whatever the process time zone."""
    import time
    from datetime import datetime

    for d, h in ((1, 23), (2, 12), (3, 0), (3, 2)):
        _w(store, ts=f"2024-01-0{d}T{h:02d}:00:00Z", msg=f"d{d}h{h}")
    q = {"container": "a", "session": "s1", "start_ts": datetime(2024, 1, 2), "end_ts": datetime(2024, 1, 2, 20)}
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        before = ([r["message"] for r in store.read_logs(**q)], store.count(**q))
        store.compact("a", "s1")
        after = ([r["message"] for r in store.read_logs(**q)], store.count(**q))
        # a naive retention cutoff is the same UTC instant (inclusive)
        store.compact("a", "s1", retain_from=datetime(2024, 1, 2, 12))
        kept = [r["message"] for r in store.read_logs(container="a", session="s1")]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert before == after == (["d2h12"], 1)
    assert kept == ["d2h12", "d3h0", "d3h2"]
