"""Persisted text-dedup index: build/append/fold lifecycle semantics
(the value-level contract is also driver-gated by the three
dedup_index_*_roundtrip oracle rows; these tests pin the edge cases
the sf0.01 corpus cannot produce and the plan-level no-op contracts)."""

import os

import pytest
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
    append_to_dedup_index,
    build_dedup_index,
    fold_dedup_index,
    read_dedup_doc_sizes,
    read_dedup_fingerprints,
    read_dedup_shingle_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _stream_append(spark, tmp_path, d, rows, name):
    """Land ``rows`` in the store at ``d`` as one streamed micro-batch."""
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        stream_append_to_dedup_index,
    )

    src = tmp_path / name
    src.mkdir()
    _docs(spark, rows).coalesce(1).write.parquet(str(src / "docs"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src / "docs")
    )
    stream_append_to_dedup_index(spark, stream, d, str(tmp_path / f"ck_{name}"))


def _postings(spark, d):
    return {
        (r["g"], r["cid"]) for r in read_dedup_shingle_index(spark, d).collect()
    }


# 4 docs sharing "a b c"; cap=3 keeps it (df=3 for 'a b c' in CORPUS
# docs 1..3), doc 4 appended pushes it to 4 -> cap crossing.
CORPUS = [
    (1, "a b c x1 y1"),
    (2, "a b c x2 y2"),
    (3, "a b c x3 y3"),
]
BATCH = [(4, "a b c x4 y4")]


@pytest.fixture()
def store(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, CORPUS), d, cap=3)
    return d


def test_build_postings_fingerprints_sizes(spark, store):
    posts = _postings(spark, store)
    # every doc has 3 distinct shingles ('a b c', 'b c xN', 'c xN yN')
    assert ("a b c", 1) in posts and ("a b c", 3) in posts
    assert len(posts) == 9
    sizes = {r["doc_id"]: r["n"] for r in read_dedup_doc_sizes(spark, store).collect()}
    assert sizes == {1: 3, 2: 3, 3: 3}
    fps = [r["fp"] for r in read_dedup_fingerprints(spark, store).collect()]
    assert len(fps) == len(set(fps)) == 3


def test_append_cap_crossing_tombstones_then_fold(spark, store):
    append_to_dedup_index(spark, _docs(spark, BATCH), store)
    assert os.path.isdir(f"{store}/dropped_shingles")
    posts = _postings(spark, store)
    # 'a b c' crossed the cap: ALL its rows (main + batch) are dead
    assert not any(g == "a b c" for g, _ in posts)
    # doc 4's other shingles landed
    assert ("b c x4", 4) in posts and ("c x4 y4", 4) in posts
    # == a from-scratch rebuild on the union (the roundtrip contract)
    rebuilt = str(store) + "_rebuild"
    build_dedup_index(spark, _docs(spark, CORPUS + BATCH), rebuilt, cap=3)
    assert posts == _postings(spark, rebuilt)
    # fold applies physically: tombstone table gone, raw scan == read
    fold_dedup_index(spark, store)
    assert not os.path.isdir(f"{store}/dropped_shingles")
    raw = {
        (r["g"], r["cid"])
        for r in spark.read.parquet(f"{store}/shingle_index").collect()
    }
    assert raw == posts


def _served_state(spark, d):
    """Every relation the store serves: postings, fingerprints, doc
    sizes and the summed shingle stats (rows kept as lists, so a
    doubled row shows)."""
    from udacity_dend_capstone_immigration_spark.sources.store import read_with_delta

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    stats = (
        read_with_delta(spark, d, "shingle_df", ["g", "df"])
        .groupBy("g")
        .agg(F.sum("df").alias("df"))
        .where("df != 0")
    )
    return (
        rows(read_dedup_shingle_index(spark, d)),
        rows(read_dedup_fingerprints(spark, d)),
        rows(read_dedup_doc_sizes(spark, d)),
        rows(stats),
    )


def test_fold_crash_between_swap_renames_keeps_relation(spark, store):
    """Regression: the fold swapped each relation in with two renames
    (live away, staged in), and nothing restored the moved-away copy,
    so a crash between them left the relation missing. Crashed at each
    of its first mutations, the fold must leave every served relation
    whole, before and after a re-run."""
    from tests.fixtures.crash import crash_matrix

    append_to_dedup_index(spark, _docs(spark, BATCH), store)
    crash_matrix(
        store,
        lambda d: fold_dedup_index(spark, d),
        lambda d: _served_state(spark, d),
        points=(1, 2, 3),
        rerun=True,
    )


def test_append_batch_only_overcap_shingle_never_indexed(spark, store):
    # a shingle over the cap purely WITHIN one batch (df_m=0, df_b>cap)
    batch = [(10 + i, f"q r s t{i} u{i}") for i in range(5)]  # 'q r s' df_b=5
    append_to_dedup_index(spark, _docs(spark, batch), store)
    posts = _postings(spark, store)
    assert not any(g == "q r s" for g, _ in posts)
    # and it must NOT create a tombstone (main had no rows to retract)
    if os.path.isdir(f"{store}/dropped_shingles"):
        dead = {r["g"] for r in spark.read.parquet(f"{store}/dropped_shingles").collect()}
        assert "q r s" not in dead


def test_second_append_after_crossing_stays_dead(spark, store):
    append_to_dedup_index(spark, _docs(spark, BATCH), store)
    append_to_dedup_index(spark, _docs(spark, [(5, "a b c x5 y5")]), store)
    posts = _postings(spark, store)
    assert not any(g == "a b c" for g, _ in posts)
    dead_rows = [
        r["g"] for r in spark.read.parquet(f"{store}/dropped_shingles").collect()
    ]
    # exactly ONE tombstone row ever written: the second append sees
    # df_m already over the cap and must not re-tombstone
    assert dead_rows.count("a b c") == 1


def test_tombstone_antijoin_is_plan_noop_when_absent(spark, store):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        read_dedup_shingle_index(spark, store).explain("formatted")
    assert "Join" not in buf.getvalue()  # bare scan until a delete lands


def test_stream_dedup_status_serves_from_store(spark):
    """The re-pointed serving query's batch plan reads the persisted
    store and never tokenizes the corpus: the only documents.parquet
    work left is the arriving batch (status base + batch set sizes)."""
    import contextlib
    import io

    from udacity_dend_capstone_immigration_spark.workload import QUERIES

    df = QUERIES["documents_stream_dedup_status"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the postings/fingerprint sides live inside the (already-drained)
    # streaming plans; the batch finish shows the store's doc_sizes
    # scan where the full-corpus tokenize+groupBy used to be
    assert "doc_sizes" in plan
    assert "collect_list" not in plan  # no inline index build anywhere
    scans = plan.count("documents.parquet")
    assert scans <= 2, f"{scans} documents scans in the serve plan"


def test_stream_append_two_waves_cross_wave_crossing_and_fold(spark, tmp_path):
    """Wave 2's cap decision must see wave 1's DELTA stats (not just
    main): 'a b c' has df 2 in main, +1 in wave 1 (cap=3: still kept),
    +1 in wave 2 -> crossing decided against main+delta, tombstoned in
    the wave-2 delta. Fold absorbs both waves; the raw store then
    equals a from-scratch rebuild on everything."""
    base = [(1, "a b c x1 y1"), (2, "a b c x2 y2")]
    w1 = [(3, "a b c x3 y3")]
    w2 = [(4, "a b c x4 y4")]
    d = str(tmp_path / "sidx")
    build_dedup_index(spark, _docs(spark, base), d, cap=3)

    _stream_append(spark, tmp_path, d, w1, "w1")
    assert os.path.isdir(f"{d}/shingle_index_delta")
    posts_after_w1 = _postings(spark, d)
    assert ("a b c", 3) in posts_after_w1  # df 3 == cap: kept
    _stream_append(spark, tmp_path, d, w2, "w2")
    posts = _postings(spark, d)
    assert not any(g == "a b c" for g, _ in posts)  # crossed at df 4
    assert os.path.isdir(f"{d}/dropped_shingles_delta")
    # serving view == full rebuild on the union
    rebuilt = str(tmp_path / "rebuilt")
    build_dedup_index(spark, _docs(spark, base + w1 + w2), rebuilt, cap=3)
    assert posts == _postings(spark, rebuilt)
    # fold absorbs the deltas and applies the streamed tombstones
    fold_dedup_index(spark, d)
    for rel in ("shingle_index", "shingle_df", "fingerprints", "doc_sizes"):
        assert not os.path.isdir(f"{d}/{rel}_delta")
    assert not os.path.isdir(f"{d}/dropped_shingles_delta")
    assert not os.path.isdir(f"{d}/dropped_shingles")
    raw = {
        (r["g"], r["cid"])
        for r in spark.read.parquet(f"{d}/shingle_index").collect()
    }
    assert raw == posts
    # sizes and fingerprints folded in for every doc
    sizes = {r["doc_id"] for r in read_dedup_doc_sizes(spark, d).collect()}
    assert sizes == {1, 2, 3, 4}


def _raw_fingerprints(spark, d):
    return {
        (r["fp"], r["cid"])
        for r in spark.read.parquet(f"{d}/fingerprints").collect()
    }


def test_stream_append_fold_keeps_fingerprint_cids(spark, tmp_path):
    """The fold must carry each streamed fingerprint's owning doc
    (``cid``) into the main relation: a document delete needs the
    per-doc (fp, cid) rows, and a fold that keeps only ``fp`` leaves
    null or unresolvable owners behind. After append + fold the raw
    relation equals a from-scratch rebuild, row for row."""
    d = str(tmp_path / "fidx")
    build_dedup_index(spark, _docs(spark, CORPUS), d, cap=3)
    _stream_append(spark, tmp_path, d, BATCH, "w")
    fold_dedup_index(spark, d)
    assert not os.path.isdir(f"{d}/fingerprints_delta")
    rebuilt = str(tmp_path / "rebuilt")
    build_dedup_index(spark, _docs(spark, CORPUS + BATCH), rebuilt, cap=3)
    got = _raw_fingerprints(spark, d)
    assert {cid for _, cid in got} == {1, 2, 3, 4}
    assert got == _raw_fingerprints(spark, rebuilt)


def test_dedup_maintenance_policy(spark, tmp_path):
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        dedup_maintenance_due,
        run_dedup_maintenance,
    )

    d = str(tmp_path / "pidx")
    build_dedup_index(spark, _docs(spark, CORPUS), d, cap=3)
    assert dedup_maintenance_due(d) == {
        "due": False, "crossing": [], "pending_tombstones": False,
        "pending_doc_tombstones": False, "pending_revival": False,
        "pending": {},
    }
    # land one streamed wave (creates deltas + a cross-wave tombstone
    # is NOT triggered here: df 'a b c' goes 3 -> 4 == crossing)
    _stream_append(spark, tmp_path, d, BATCH, "w")
    # one pending batch: below the default batch threshold the deltas
    # would stay — but the tombstone pressure makes the fold due
    # regardless (text tombstones are folded, not compacted)
    r = dedup_maintenance_due(d)
    assert r["pending"]["shingle_index"] == 1
    assert r["due"] and r["pending_tombstones"] and r["crossing"] == []
    assert run_dedup_maintenance(spark, d) is True
    assert dedup_maintenance_due(d) == {
        "due": False, "crossing": [], "pending_tombstones": False,
        "pending_doc_tombstones": False, "pending_revival": False,
        "pending": {},
    }
    assert run_dedup_maintenance(spark, d) is False


# --- document delete + reverse cap-crossing (revival) lifecycle.
# Constructed cases the sf0.01 roundtrips can't isolate: a fingerprint
# SHARED between a deleted and a live doc, the exact revival membership,
# revive idempotence under a crash re-run, and the fold's physical
# delete application.

from udacity_dend_capstone_immigration_spark.sources.store import tombstoned  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload.dedupstore import (  # noqa: E402
    delete_from_dedup_index,
    revive_shingles,
)

# 'a b c' df=4 > cap=3 at build -> postings never stored. Deleting doc 4
# drops it to df=3 <= cap -> revival due; docs 1-3 are its survivors.
# Docs 4 and 5 share identical text (same fingerprint); only 4 dies.
_DEL_CORPUS = [
    (1, "a b c x1 y1"),
    (2, "a b c x2 y2"),
    (3, "a b c x3 y3"),
    (4, "a b c q q2 q3"),
    (5, "a b c q q2 q3"),
]


def test_delete_then_revive_equals_rebuild(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    # 'a b c' has df=5 at build -> absent from postings
    assert all(g != "a b c" for g, _ in _postings(spark, d))
    live = [r for r in _DEL_CORPUS if r[0] not in (4, 5)]
    n_due = delete_from_dedup_index(
        spark, _docs(spark, [r for r in _DEL_CORPUS if r[0] in (4, 5)]), d
    )
    assert n_due == 1  # 'a b c': 5 -> 3 <= cap
    n_rev = revive_shingles(spark, d, _docs(spark, live))
    assert n_rev == 3  # survivors 1,2,3
    rebuilt = str(tmp_path / "rebuilt")
    build_dedup_index(spark, _docs(spark, live), rebuilt, cap=3)
    assert _postings(spark, d) == _postings(spark, rebuilt)
    assert not os.path.isdir(f"{d}/revival_due")


def test_shared_fingerprint_survives_partial_delete(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    # delete doc 4 only; doc 5 has the identical text -> fp must survive
    delete_from_dedup_index(spark, _docs(spark, [_DEL_CORPUS[3]]), d)
    fps = {r["fp"] for r in read_dedup_fingerprints(spark, d).collect()}
    from udacity_dend_capstone_immigration_spark.functions.text import doc_fingerprint

    shared = (
        _docs(spark, [_DEL_CORPUS[4]])
        .select(doc_fingerprint("text").alias("fp"))
        .collect()[0]["fp"]
    )
    assert shared in fps
    # but the doc itself is gone from sizes
    assert 4 not in {
        r["doc_id"] for r in read_dedup_doc_sizes(spark, d).collect()
    }


def test_revive_rerun_is_idempotent(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    live = [r for r in _DEL_CORPUS if r[0] not in (4, 5)]
    delete_from_dedup_index(
        spark, _docs(spark, [r for r in _DEL_CORPUS if r[0] in (4, 5)]), d
    )
    revive_shingles(spark, d, _docs(spark, live))
    before = _postings(spark, d)
    # simulate a crash re-run: re-record the due set and revive again
    import shutil as _sh

    _docs(spark, live).sparkSession.createDataFrame(
        [("a b c",)], "g string"
    ).write.mode("overwrite").parquet(f"{d}/revival_due")
    revive_shingles(spark, d, _docs(spark, live))
    assert _postings(spark, d) == before  # no duplicated postings


def test_policy_reports_doc_tombstones_and_revival(spark, tmp_path):
    """r14: the policy's delete-side signals — doc tombstones count
    toward due (the fold applies them physically), pending revivals are
    REPORT-ONLY (revive_shingles needs the live corpus, scheduled
    explicitly like ANN tombstone compaction)."""
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        dedup_maintenance_due,
        run_dedup_maintenance,
    )

    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    live = [r for r in _DEL_CORPUS if r[0] not in (4, 5)]
    delete_from_dedup_index(
        spark, _docs(spark, [r for r in _DEL_CORPUS if r[0] in (4, 5)]), d
    )
    r = dedup_maintenance_due(d)
    assert r["pending_doc_tombstones"] and r["pending_revival"] and r["due"]
    # the fold clears the doc tombstones; the revival stays pending
    assert run_dedup_maintenance(spark, d) is True
    r2 = dedup_maintenance_due(d)
    assert not r2["pending_doc_tombstones"]
    assert r2["pending_revival"] and not r2["due"]
    revive_shingles(spark, d, _docs(spark, live))
    assert dedup_maintenance_due(d)["pending_revival"] is False


def test_fold_applies_deletes_physically(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    live = [r for r in _DEL_CORPUS if r[0] not in (4, 5)]
    delete_from_dedup_index(
        spark, _docs(spark, [r for r in _DEL_CORPUS if r[0] in (4, 5)]), d
    )
    revive_shingles(spark, d, _docs(spark, live))
    fold_dedup_index(spark, d)
    assert not os.path.isdir(f"{d}/deleted_docs")
    # raw relations equal the live rebuild (no logical anti-joins left)
    rebuilt = str(tmp_path / "rebuilt")
    build_dedup_index(spark, _docs(spark, live), rebuilt, cap=3)
    raw = {
        (r["g"], r["cid"])
        for r in spark.read.parquet(f"{d}/shingle_index").collect()
    }
    assert raw == _postings(spark, rebuilt)
    raw_sizes = {
        r["doc_id"] for r in spark.read.parquet(f"{d}/doc_sizes").collect()
    }
    assert raw_sizes == {1, 2, 3}
    raw_fp_cids = {
        r["cid"] for r in spark.read.parquet(f"{d}/fingerprints").collect()
    }
    assert raw_fp_cids == {1, 2, 3}


def test_delete_crash_leaves_delete_absent_or_whole(spark, tmp_path):
    """A delete stages its negative stats, revival and doc tombstones
    and lands them in one commit: crashed at its first, second, middle
    and last mutation, the store serves the delete absent or whole,
    never stats retracted for a doc that is still served."""
    from tests.fixtures.crash import crash_matrix, spread_points

    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    dead = _docs(spark, [r for r in _DEL_CORPUS if r[0] in (4, 5)])

    def state(x):
        served = _served_state(spark, x)  # recovers first
        due = tombstoned(x, "revival_due") and sorted(
            r["g"] for r in spark.read.parquet(f"{x}/revival_due").collect()
        )
        return served, due

    def op(x):
        delete_from_dedup_index(spark, dead, x)

    points = spread_points(d, op)
    crash_matrix(d, op, state, points=points)
    assert points[-1] >= 1  # an in-place append makes no counted mutation


@pytest.mark.slow
def test_every_dedup_store_rewrite_survives_a_crash_at_every_step(spark, tmp_path):
    """Fold (streamed deltas, cap-crossing and doc tombstones pending)
    and revival, each crashed once before its marker and at every
    mutation after it: the store serves exactly the state before or
    after the call."""
    from tests.fixtures.crash import crash_matrix

    d = str(tmp_path / "idx")
    build_dedup_index(spark, _docs(spark, _DEL_CORPUS), d, cap=3)
    live = [r for r in _DEL_CORPUS if r[0] not in (4, 5)]
    delete_from_dedup_index(
        spark, _docs(spark, [r for r in _DEL_CORPUS if r[0] in (4, 5)]), d
    )
    n_revive = crash_matrix(
        d,
        lambda x: revive_shingles(spark, x, _docs(spark, live)),
        lambda x: _served_state(spark, x),
    )
    _stream_append(spark, tmp_path, d, [(6, "c x1 y1 z6 w6"), (7, "b c x2 q7 r7")], "w1")
    append_to_dedup_index(spark, _docs(spark, [(8, "a b c x8 y8")]), d)
    n_fold = crash_matrix(
        d, lambda x: fold_dedup_index(spark, x), lambda x: _served_state(spark, x)
    )
    assert n_fold >= 8 and n_revive >= 8


def test_maintenance_due_flags_are_bools_with_only_streamed_tombstones(tmp_path):
    """Regression: with only a streamed tombstone batch on disk the
    policy reported ``due`` and ``pending_tombstones`` as the batch
    count (1) instead of ``True``."""
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        dedup_maintenance_due,
    )

    (tmp_path / "dropped_shingles_delta" / "batch_pt=a-0").mkdir(parents=True)
    r = dedup_maintenance_due(str(tmp_path))
    assert r["due"] is True
    assert r["pending_tombstones"] is True


def test_append_crash_leaves_batch_absent_or_whole(spark, store):
    """A direct append stages all five relations and lands them in one
    commit: crashed at its marker, inside the roll-forward or at its
    last step, the store serves the batch absent or whole, never
    partial or doubled."""
    from tests.fixtures.crash import crash_matrix, spread_points

    def op(d):
        append_to_dedup_index(spark, _docs(spark, BATCH), d)

    crash_matrix(
        store,
        op,
        lambda d: _served_state(spark, d),
        points=spread_points(store, op),
    )
