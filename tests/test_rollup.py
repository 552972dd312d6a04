"""Continuous aggregates (storage/rollup.py): an incrementally
maintained per-sensor bucket rollup whose ONE maintenance rule —
recompute affected buckets from the base — must equal direct
aggregation after every crossing the changes feed can deliver:
appends, deletes, retention, resets, and crash/replay.

The oracle in every test is the same: ``RollupStore._aggregate`` over
``lake.values()`` — direct aggregation of the raw table. The rollup is
correct iff it is indistinguishable from that, cheaper."""

import datetime as dt
import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.storage.lake import SensorLake, read_committed, resolve_table
from sensapp_spark.storage.rollup import RollupStore

H = dt.timedelta(hours=1)
T0 = dt.datetime(2024, 1, 5, 10, 15)
T1 = dt.datetime(2024, 2, 7, 3, 40)
OLD = dt.datetime(2023, 11, 2, 6, 5)


def _vals(spark, rows):
    return spark.createDataFrame(
        rows, "sensor_id string, time timestamp, value double"
    )


def _direct(store, stype=SensorType.FLOAT):
    return {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in store._aggregate(store.lake.values(stype))
        .drop("month")
        .collect()
    }


def _rolled(store, stype=SensorType.FLOAT):
    return {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in store.read(stype).collect()
    }


def test_full_build_equals_direct_aggregation(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0, 1.0), ("a", T0 + dt.timedelta(minutes=10), 3.0),
            ("a", T0 + H, 5.0), ("b", T1, 2.0), ("b", OLD, -1.0),
        ]),
    )
    store = RollupStore(lake)
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "rebuild"
    assert _rolled(store) == _direct(store)
    # Bucket math: the two T0-hour samples share one bucket.
    key = ("a", T0.replace(minute=0))
    assert _rolled(store)[key] == (2, 4.0, 1.0, 3.0)


def test_incremental_refresh_recomputes_only_affected_months(
    spark, tmp_path
):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [("a", T0, 1.0), ("b", T1, 2.0)]),
    )
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    path = store._path(SensorType.FLOAT)
    old_data = resolve_table(path)
    jan_inodes = {
        f: os.stat(os.path.join(old_data, "month=2024-01", f)).st_ino
        for f in os.listdir(os.path.join(old_data, "month=2024-01"))
        if f.endswith(".parquet")
    }
    # New rows land in February only.
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [("b", T1 + dt.timedelta(minutes=5), 8.0),
                      ("c", T1, 1.5)]),
    )
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "incremental"
    assert rep["affected_months"] == 1
    assert _rolled(store) == _direct(store)
    # January's partition was NOT rewritten: same inodes (hardlinks).
    new_data = resolve_table(path)
    assert new_data != old_data
    for f, ino in jan_inodes.items():
        assert os.stat(
            os.path.join(new_data, "month=2024-01", f)
        ).st_ino == ino


def test_refresh_is_noop_when_nothing_changed(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 1.0)]))
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    path = store._path(SensorType.FLOAT)
    seq = read_committed(path)[0]
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "noop"
    assert read_committed(path)[0] == seq  # no empty commit


def test_replayed_refresh_is_idempotent(spark, tmp_path):
    """Crash-before-commit replay: re-running the refresh from the
    PREVIOUS cursor (simulated by restoring the old meta) recomputes
    the same buckets to the same values — no double counting."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 1.0)]))
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    cursor_v1 = store.committed_cursor(SensorType.FLOAT)
    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 2.0)]))
    store.refresh(SensorType.FLOAT)
    want = _rolled(store)
    assert want == _direct(store)
    # Rewind the committed cursor to v1's (what a crash between the
    # poll and the commit leaves behind) and refresh again.
    import json

    path = store._path(SensorType.FLOAT)
    data = resolve_table(path)
    meta = json.loads(open(os.path.join(data, "_rollup_meta.json")).read())
    meta["cursor"] = cursor_v1
    open(os.path.join(data, "_rollup_meta.json"), "w").write(
        json.dumps(meta)
    )
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "incremental"
    assert _rolled(store) == want  # identical, not doubled


def test_delete_where_crossing_updates_buckets(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [("a", T0, 1.0), ("a", T0, 5.0), ("b", T1, 2.0)]),
    )
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    lake.delete_where(SensorType.FLOAT, "value > 4", quiesce_wait_s=0.2)
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "incremental"
    got = _rolled(store)
    assert got == _direct(store)
    assert got[("a", T0.replace(minute=0))] == (1, 1.0, 1.0, 1.0)


def test_expire_crossing_drops_rollup_months(spark, tmp_path):
    """Composition with partition-grain retention: the expire's lazy
    month-deletes flow through the feed, the affected months recompute
    against a base that no longer has them, and the rollup's own month
    partitions disappear — no manual re-sync."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [("a", OLD, 1.0), ("a", T0, 2.0), ("b", T1, 3.0)]),
    )
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    data = resolve_table(store._path(SensorType.FLOAT))
    assert os.path.isdir(os.path.join(data, "month=2023-11"))
    lake.expire_before(dt.datetime(2024, 1, 1), SensorType.FLOAT)
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "incremental"
    assert _rolled(store) == _direct(store)
    # The expired month contributes no rollup rows anymore.
    assert not any(
        r.bucket.strftime("%Y-%m") == "2023-11"
        for r in store.read(SensorType.FLOAT).collect()
    )


def test_reset_falls_back_to_full_rebuild(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 1.0)]))
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    vpath = lake._values_path(SensorType.FLOAT)
    old = resolve_table(vpath)
    # An erase (record_cdc=False) then losing the superseded dir makes
    # the crossing unprovable → the feed resets → full rebuild.
    lake.append_values(SensorType.FLOAT, _vals(spark, [("c", T1, 9.0)]))
    lake.erase_sensor("a", quiesce_wait_s=0.2)
    shutil.rmtree(old, ignore_errors=True)
    rep = store.refresh(SensorType.FLOAT)
    assert rep["mode"] == "rebuild"
    assert _rolled(store) == _direct(store)


def test_read_realtime_covers_unrefreshed_tail(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT, _vals(spark, [("a", T0, 1.0), ("b", T1, 2.0)])
    )
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    # Tail: a new bucket AND a stale bucket get more rows — realtime
    # must replace the stale rollup row, not add to it.
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [("a", T0, 10.0), ("c", T1 + H, 7.0)]),
    )
    got = {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in store.read_realtime(SensorType.FLOAT).collect()
    }
    assert got == _direct(store)
    assert got[("a", T0.replace(minute=0))] == (2, 11.0, 1.0, 10.0)
    # The committed rollup itself is unchanged (reads never ack).
    assert _rolled(store)[("a", T0.replace(minute=0))] == (
        1, 1.0, 1.0, 1.0,
    )


def test_read_realtime_before_any_refresh_and_after_reset(
    spark, tmp_path
):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 1.0)]))
    store = RollupStore(lake)
    # No refresh yet: direct aggregation.
    got = {
        (r.sensor_id, r.bucket) for r in
        store.read_realtime(SensorType.FLOAT).collect()
    }
    assert got == {("a", T0.replace(minute=0))}
    # After a reset-shaped gap: still correct (falls back to raw).
    store.refresh(SensorType.FLOAT)
    vpath = lake._values_path(SensorType.FLOAT)
    old = resolve_table(vpath)
    lake.erase_sensor("a", quiesce_wait_s=0.2)
    shutil.rmtree(old, ignore_errors=True)
    assert store.read_realtime(SensorType.FLOAT).count() == 0


def test_time_bounds_and_grain(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0, 1.0), ("a", T0 + H, 2.0), ("a", T0 + 2 * H, 3.0),
        ]),
    )
    store = RollupStore(lake, grain_s=7200)  # 2-hour buckets
    store.refresh(SensorType.FLOAT)
    assert _rolled(store) == _direct(store)
    windowed = store.read(
        SensorType.FLOAT, start=T0.replace(minute=0), end=T0 + H
    ).collect()
    assert len(windowed) == 1  # 10:00 and 11:15 share one 2h bucket


def test_rollup_rejects_non_numeric_tables(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    store = RollupStore(lake)
    with pytest.raises(ValueError):
        store.refresh(SensorType.STRING)


def test_integer_table_rolls_up(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.INTEGER,
        spark.createDataFrame(
            [("i", T0, 4), ("i", T0, 6)],
            "sensor_id string, time timestamp, value long",
        ),
    )
    store = RollupStore(lake)
    store.refresh(SensorType.INTEGER)
    (row,) = store.read(SensorType.INTEGER).collect()
    assert (row.cnt, row.vsum, row.vmin, row.vmax) == (2, 10.0, 4.0, 6.0)


def test_stream_rollup_maintenance_drains_ticks(spark, tmp_path):
    """The streaming scheduler: tick files drive refresh() through
    foreachBatch; a restart with the same checkpoint (and a replayed
    tick) stays correct because refresh is idempotent by itself."""
    from sensapp_spark.streaming.rollup_maintenance import (
        stream_rollup_maintenance,
    )

    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT, _vals(spark, [("a", T0, 1.0), ("b", T1, 2.0)])
    )
    store = RollupStore(lake)
    ticks = tmp_path / "ticks"
    ticks.mkdir()
    (ticks / "t0.txt").write_text("tick\n")
    q = stream_rollup_maintenance(
        spark, store, SensorType.FLOAT,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tick_dir=str(ticks), trigger_available_now=True,
    )
    q.awaitTermination(120)
    assert _rolled(store) == _direct(store)

    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 9.0)]))
    (ticks / "t1.txt").write_text("tick\n")
    q = stream_rollup_maintenance(
        spark, store, SensorType.FLOAT,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tick_dir=str(ticks), trigger_available_now=True,
    )
    q.awaitTermination(120)
    assert _rolled(store) == _direct(store)
    assert _rolled(store)[("a", T0.replace(minute=0))] == (
        2, 10.0, 1.0, 9.0,
    )


def test_realtime_fallback_window_semantics_match_read(spark, tmp_path):
    """Window clipping is on BUCKETS in every path: before any refresh
    (direct-aggregation fallback) a window that starts mid-bucket and
    ends mid-bucket returns the same whole-bucket rows the committed
    read() would — no partial edge buckets from the fallback path."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0, 1.0),                            # 10:15 → bucket 10
            ("a", T0 + dt.timedelta(minutes=30), 2.0), # 10:45 → bucket 10
            ("a", T0 + H, 3.0),                        # 11:15 → bucket 11
            ("a", T0 + 2 * H, 4.0),                    # 12:15 → bucket 12
        ]),
    )
    store = RollupStore(lake)
    w0 = T0 + dt.timedelta(minutes=20)   # mid-bucket-10: excludes it
    w1 = T0 + H                           # inside bucket 11: includes it
    before = {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum)
        for r in store.read_realtime(SensorType.FLOAT, w0, w1).collect()
    }
    # Bucket 10 starts before w0 → out; bucket 11 starts 11:00 <= w1 →
    # in, WHOLE (row at 11:15 counted though > w1 is irrelevant: the
    # bucket is the unit); bucket 12 starts after w1 → out.
    assert before == {("a", T0.replace(minute=0) + H): (1, 3.0)}
    store.refresh(SensorType.FLOAT)
    after = {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum)
        for r in store.read(SensorType.FLOAT, w0, w1).collect()
    }
    assert after == before


def test_read_folded_matches_coarse_store(spark, tmp_path):
    """Folding the 1h rollup to 2h at read time equals a 2h store
    maintained directly — the quartet is mergeable, so no second
    maintained table is needed for dashboard zoom-out."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0, 1.0), ("a", T0 + H, 2.0), ("a", T0 + 2 * H, 4.0),
            ("b", T1, 8.0),
        ]),
    )
    fine = RollupStore(lake, grain_s=3600)
    coarse = RollupStore(lake, grain_s=7200)
    fine.refresh(SensorType.FLOAT)
    coarse.refresh(SensorType.FLOAT)
    folded = {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in fine.read_folded(SensorType.FLOAT, 7200).collect()
    }
    direct = _rolled(coarse)
    assert folded == direct
    # realtime fold covers an unrefreshed tail too.
    lake.append_values(SensorType.FLOAT, _vals(spark, [("a", T0, 9.0)]))
    live = {
        (r.sensor_id, r.bucket): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in fine.read_folded(
            SensorType.FLOAT, 7200, realtime=True
        ).collect()
    }
    assert live == _direct(coarse)
    # Non-multiple fold grains split buckets — refused.
    with pytest.raises(ValueError):
        fine.read_folded(SensorType.FLOAT, 5400).collect()


def test_read_folded_window_clips_on_folded_bucket(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0, 1.0),            # 10:15 → 2h bucket 10:00
            ("a", T0 + 2 * H, 3.0),    # 12:15 → 2h bucket 12:00
        ]),
    )
    fine = RollupStore(lake, grain_s=3600)
    fine.refresh(SensorType.FLOAT)
    got = fine.read_folded(
        SensorType.FLOAT, 7200,
        start=T0.replace(minute=0) + 2 * H,   # 12:00
        end=T0.replace(minute=0) + 2 * H,
    ).collect()
    assert [(r.sensor_id, r.vsum) for r in got] == [("a", 3.0)]


def test_concurrent_refresh_of_disjoint_stores_is_isolated(
    spark, tmp_path
):
    """Round-14 (verdict item 7): two stores maintained over the SAME
    committed lake version refresh CONCURRENTLY — the §2.6 overlap the
    downsample_rate_1h entry runs in production shape — and must
    commit to DISJOINT CAS dirs with no cross-talk. A barrier injected
    at both stores' commit entry forces the racy window to actually
    overlap (not just the submission), and each store's content must
    equal its own direct aggregation afterwards."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from sensapp_spark.storage.qrollup import QuantileRollupStore

    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0, 1.0), ("a", T0 + H, 5.0), ("b", T1, 2.0),
        ]),
    )
    store = RollupStore(lake, grain_s=3600)
    qstore = QuantileRollupStore(lake, grain_s=3600)
    assert store._path(SensorType.FLOAT) != qstore._path(SensorType.FLOAT)
    store.refresh(SensorType.FLOAT)
    qstore.refresh(SensorType.FLOAT)

    # Second batch → both stores see the same delta; inject a 2-party
    # barrier so both threads sit INSIDE their commit window together.
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [
            ("a", T0 + dt.timedelta(minutes=30), 3.0), ("b", OLD, -1.0),
        ]),
    )
    barrier = threading.Barrier(2, timeout=60)

    def _racy_commit(st):
        orig = st._commit

        def patched(*args, **kwargs):
            barrier.wait()
            return orig(*args, **kwargs)

        st._commit = patched

    _racy_commit(store)
    _racy_commit(qstore)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(store.refresh, SensorType.FLOAT)
        f2 = pool.submit(qstore.refresh, SensorType.FLOAT)
        r1, r2 = f1.result(), f2.result()
    assert r1["mode"] == "incremental"
    assert r2["mode"] == "incremental"

    # No cross-talk: each store's committed content equals its own
    # direct aggregation of the base, and each is caught up (the next
    # tick is a pointer-read noop, i.e. the OTHER store's commit did
    # not disturb this store's cursor or CAS chain).
    assert _rolled(store) == _direct(store)
    q_direct = {
        (r.sensor_id, r.bucket): (list(r.qs), list(r.eqs), r.cnt)
        for r in qstore._aggregate(lake.values(SensorType.FLOAT))
        .drop("month").collect()
    }
    q_rolled = {
        (r.sensor_id, r.bucket): (list(r.qs), list(r.eqs), r.cnt)
        for r in qstore.read(SensorType.FLOAT).collect()
    }
    assert q_rolled == q_direct
    assert store.refresh(SensorType.FLOAT)["mode"] == "noop"
    assert qstore.refresh(SensorType.FLOAT)["mode"] == "noop"


def test_time_bounds_ignore_process_timezone(spark, tmp_path):
    """Naive bounds mean UTC whatever the driver process's local zone.
    PySpark converts a naive datetime literal through that zone, so an
    unpinned bound shifts every window by the zone's offset (5 h under
    New York time in January)."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    day = dt.datetime(2024, 1, 10)
    lake.append_values(
        SensorType.FLOAT,
        _vals(spark, [("a", day + h * H, float(h)) for h in range(24)]),
    )
    store = RollupStore(lake)
    store.refresh(SensorType.FLOAT)
    lo, hi = day + 2 * H, day + 6 * H

    def reads():
        # Epoch µs, not collected datetimes: collect itself renders
        # timestamps in the process zone.
        vals = lake.values(SensorType.FLOAT, start=lo, end=hi)
        buckets = store.read(SensorType.FLOAT, lo, hi)
        return (
            sorted(r[0] for r in vals.select(F.unix_micros("time"))
                   .collect()),
            sorted(r[0] for r in buckets.select(F.unix_micros("bucket"))
                   .collect()),
        )

    utc = reads()
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        shifted = reads()
    finally:
        if prev is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prev
        time.tzset()
    assert len(utc[0]) == 5 and len(utc[1]) == 5
    assert shifted == utc
