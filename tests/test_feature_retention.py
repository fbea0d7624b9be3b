"""Feature-store snapshot retention (r14): fold-then-expire keeps PIT
serving exact inside the window and loud outside it."""

import os

import pytest
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.operators.asof import asof_join
from udacity_dend_capstone_immigration_spark.workload.base import table
from udacity_dend_capstone_immigration_spark.workload.timeseries import (
    build_feature_store,
    feature_retention_floor,
    prune_feature_snapshots,
    read_feature_snapshots,
)

SF_DIR = "/root/testdata/sf0.001"


def _pit(spark, snaps_df, sf_dir):
    """The features_pit_served join shape over an explicit snapshot
    frame (store path vs pruned store comparisons)."""
    snaps = snaps_df.select(
        "user_id",
        F.to_date("feature_date").alias("fd"),
        "clicks_cum",
        "views_cum",
        "vsum_cum",
    )
    ev = table(spark, sf_dir, "events")
    labels = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_sub(F.col("ts").cast("date"), 1).alias("asof_day"),
    )
    out = asof_join(
        labels,
        snaps,
        "user_id",
        "user_id",
        "asof_day",
        "fd",
        payload=["clicks_cum", "views_cum", "vsum_cum"],
    )
    return {
        r["event_id"]: (r["clicks_cum"], r["views_cum"], r["vsum_cum"])
        for r in out.collect()
    }


def test_prune_folds_history_and_pit_inside_window_is_exact(spark):
    store = build_feature_store(spark, SF_DIR)
    snap_dir = f"{store}/snapshots"
    days = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(snap_dir)
        if e.startswith("feature_date=")
    )
    assert len(days) > 6
    before = _pit(spark, spark.read.parquet(snap_dir), SF_DIR)
    users_before = {
        r["user_id"]
        for r in spark.read.parquet(snap_dir).select("user_id").distinct().collect()
    }
    assert feature_retention_floor(spark, store) is None

    dropped = prune_feature_snapshots(spark, store, keep_days=5)
    assert dropped == days[:-5]
    floor = days[-5]
    assert feature_retention_floor(spark, store) == floor
    left = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(snap_dir)
        if e.startswith("feature_date=")
    )
    assert left == days[-5:]

    # every user present before survives the fold (carried into floor)
    floor_users = {
        r["user_id"]
        for r in spark.read.parquet(f"{snap_dir}/feature_date={floor}")
        .select("user_id")
        .distinct()
        .collect()
    }
    assert users_before == floor_users

    # PIT probes whose as-of day is at-or-after the floor are
    # BIT-IDENTICAL to the un-pruned store; earlier labels are the
    # unanswerable set the reader refuses
    after = _pit(spark, spark.read.parquet(snap_dir), SF_DIR)
    ev = table(spark, SF_DIR, "events")
    in_window = {
        r["event_id"]
        for r in ev.where(F.col("event_type") == "purchase")
        .where(F.date_sub(F.col("ts").cast("date"), 1) >= F.lit(floor).cast("date"))
        .select("event_id")
        .collect()
    }
    assert in_window  # the window actually covers probes
    for eid in in_window:
        assert after[eid] == before[eid]

    # idempotent re-run: nothing left to drop
    assert prune_feature_snapshots(spark, store, keep_days=5) == []


def test_read_feature_snapshots_refuses_pre_floor_probes(spark):
    store = build_feature_store(spark, SF_DIR)
    snap_dir = f"{store}/snapshots"
    days = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(snap_dir)
        if e.startswith("feature_date=")
    )
    prune_feature_snapshots(spark, store, keep_days=3)
    floor = days[-3]
    # inside (and exactly at) the floor: served
    assert read_feature_snapshots(spark, store, min_asof_day=floor).count() > 0
    # before the floor: loud
    with pytest.raises(ValueError, match="retention floor"):
        read_feature_snapshots(spark, store, min_asof_day=days[0])
    # an unpruned store never raises
    fresh = build_feature_store(spark, SF_DIR)
    assert read_feature_snapshots(spark, fresh, min_asof_day=days[0]).count() > 0


def test_retention_marker_lands_before_history_drops(spark, tmp_path, monkeypatch):
    """r14 review fix: the floor marker must be on disk before any old
    partition directory is removed — the marker-last order had a crash
    window where history was gone but the floor unrecorded, and a
    re-run (seeing <= keep_days partitions) would never write it,
    silently disabling the loud-floor contract."""
    import shutil

    store = build_feature_store(spark, SF_DIR)
    seen = {}
    real_rmtree = shutil.rmtree

    def spying_rmtree(path, *a, **k):
        # live history partitions only — the commit's '_'-prefixed
        # stage is part of the floor rewrite, not a history drop
        if os.path.basename(str(path)).startswith("feature_date="):
            seen.setdefault(
                "marker_at_first_drop",
                feature_retention_floor(spark, store) is not None,
            )
        return real_rmtree(path, *a, **k)

    # the store commit calls shutil.rmtree through the module, so
    # patching the module attribute is what it resolves
    monkeypatch.setattr(shutil, "rmtree", spying_rmtree)
    dropped = prune_feature_snapshots(spark, store, keep_days=4)
    assert dropped
    assert seen["marker_at_first_drop"] is True


def _pruned_state(spark, store):
    """What the store serves: every snapshot row and the floor."""
    rows = sorted(map(tuple, read_feature_snapshots(spark, store).collect()))
    return rows, feature_retention_floor(spark, store)


def test_prune_floor_swap_survives_torn_crash(spark):
    """r15 advice fix: the fold must never overwrite the floor
    partition in place — a crash mid-write would destroy the floor
    day's original rows while older partitions survive, and the re-run
    would fold each floor-day-active user's SECOND-newest state into
    the floor. The prune is one store commit: crashed on its marker
    (the fold staged, nothing swapped), with the floor partition moved
    aside, or with the fold moved in, the next read serves the
    un-pruned or the fully pruned store, and a re-run lands the un-torn
    result bit-for-bit."""
    import shutil

    from tests.fixtures.crash import crash_matrix

    store = build_feature_store(spark, SF_DIR)
    n = crash_matrix(
        store,
        lambda d: prune_feature_snapshots(spark, d, keep_days=4),
        lambda d: _pruned_state(spark, d),
        points=(1, 2, 3),
        rerun=True,
    )
    assert n > 3
    shutil.rmtree(store, ignore_errors=True)


@pytest.mark.slow
def test_prune_survives_a_crash_at_every_step(spark):
    """The prune crashed once before its marker and at every mutation
    after it: the store serves exactly the un-pruned or the pruned
    state, never history gone without its floor recorded."""
    import shutil

    from tests.fixtures.crash import crash_matrix

    store = build_feature_store(spark, SF_DIR)
    crash_matrix(
        store,
        lambda d: prune_feature_snapshots(spark, d, keep_days=4),
        lambda d: _pruned_state(spark, d),
    )
    shutil.rmtree(store, ignore_errors=True)


def test_served_feature_store_memoized(spark):
    """features_pit_served's store comes from the served_*_dir memo
    (r16: the serve twin must not pay the training job per call —
    the train-once/serve-many contract every other store tier keeps).
    Same process + same corpus → the SAME directory, no rebuild; a
    changed corpus fingerprint → a fresh build."""
    from udacity_dend_capstone_immigration_spark.workload import timeseries as ts

    d1 = ts.served_feature_store_dir(spark, SF_DIR)
    assert os.path.isdir(f"{d1}/snapshots")
    # second call is a pure cache hit — pin it by poisoning the builder
    orig = ts.build_feature_store
    ts.build_feature_store = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("memo miss: served store rebuilt for an unchanged corpus")
    )
    try:
        assert ts.served_feature_store_dir(spark, SF_DIR) == d1
    finally:
        ts.build_feature_store = orig
    # a different fingerprint (stale dir gone) forces a rebuild
    key_hits = [k for k in ts._SERVED_FS if k[0] == SF_DIR]
    assert key_hits, "memo key for SF_DIR missing"
    import shutil

    shutil.rmtree(f"{d1}/snapshots")
    d2 = ts.served_feature_store_dir(spark, SF_DIR)
    assert os.path.isdir(f"{d2}/snapshots")
