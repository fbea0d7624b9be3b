"""ANN store maintenance: compaction bounds the small-files growth the
append path creates (lake OPTIMIZE), delete-by-id is a tombstone table
applied logically at serve and physically at the next compaction
(faiss remove_ids split across the lake pattern). r11 verdict
"What's wrong #1" / "Next round #2".
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.fixtures.crash import Crash, copy_store, crash_at, crash_matrix
from udacity_dend_capstone_immigration_spark.sources.store import MARKER
from udacity_dend_capstone_immigration_spark.workload import vectors as V

SF_DIR = "/root/testdata/sf0.001"


def _store_rows(spark, idx, store="ivf_vectors"):
    return sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{idx}/{store}").select("vec_id", "cell").collect()
    )


def _files_per_cell(idx, store="ivf_vectors"):
    out = {}
    for d in glob.glob(f"{idx}/{store}/cell_pt=*"):
        out[d.rsplit("=", 1)[1]] = len(glob.glob(f"{d}/*.parquet"))
    return out


@pytest.fixture(scope="module")
def appended_index(spark):
    """Flat index built on ~2/3 of the corpus with the rest appended in
    THREE batches — the small-files shape a daily ingest produces."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 3 == 0)
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_maint_t_"), emb=corpus
    )
    for k in (1, 2):
        V.append_to_ivf_flat_index(spark, emb.where(F.col("vec_id") % 3 == k), idx)
    return idx, emb


def test_appends_accumulate_files_then_compact_bounds_them(spark, appended_index):
    idx, emb = appended_index
    before = _files_per_cell(idx)
    # the append path fragments: at least one probed cell reads >1 file
    assert any(n > 1 for n in before.values()), before
    rows_before = _store_rows(spark, idx)
    stats = V.compact_index_cells(spark, idx)
    after = _files_per_cell(idx)
    # lake-OPTIMIZE contract: every cell directory is exactly one file
    assert all(n == 1 for n in after.values()), after
    assert stats["ivf_vectors"] == len(after)
    # the rewrite is value-lossless
    assert _store_rows(spark, idx) == rows_before
    assert len(rows_before) == emb.count()


def test_bounded_compaction_rewrites_only_touched_cells(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 3 == 0)
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_bnd_t_"), emb=corpus
    )
    V.append_to_ivf_flat_index(spark, emb.where(F.col("vec_id") % 3 != 0), idx)
    fragmented = [c for c, n in _files_per_cell(idx).items() if n > 1]
    assert fragmented
    touched = int(fragmented[0])
    untouched_files = {
        c: sorted(
            os.path.basename(p)
            for p in glob.glob(f"{idx}/ivf_vectors/cell_pt={c}/*.parquet")
        )
        for c in _files_per_cell(idx)
        if c != str(touched)
    }
    rows_before = _store_rows(spark, idx)
    V.compact_index_cells(spark, idx, cells=[touched])
    after = _files_per_cell(idx)
    assert after[str(touched)] == 1
    # untouched cells MOVED (same file names — no rewrite)
    for c, files in untouched_files.items():
        got = sorted(
            os.path.basename(p)
            for p in glob.glob(f"{idx}/ivf_vectors/cell_pt={c}/*.parquet")
        )
        assert got == files, c
    assert _store_rows(spark, idx) == rows_before


def test_delete_is_logical_then_physical_and_tombstones_clear(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_del_t_"), emb=emb
    )
    dead = [int(r["vec_id"]) for r in emb.select("vec_id").limit(7).collect()]
    V.delete_from_index(spark, idx, dead)
    # logical: the store still has the rows; apply_tombstones hides them
    raw = spark.read.parquet(f"{idx}/ivf_vectors")
    assert raw.where(F.col("vec_id").isin(dead)).count() == len(dead)
    masked = V.apply_tombstones(spark, idx, raw)
    assert masked.where(F.col("vec_id").isin(dead)).count() == 0
    survivors = sorted(r["vec_id"] for r in masked.select("vec_id").collect())
    # physical: compaction drops them and clears the tombstone table
    V.compact_index_cells(spark, idx)
    assert not os.path.isdir(f"{idx}/deleted_ids")
    after = sorted(
        r["vec_id"]
        for r in spark.read.parquet(f"{idx}/ivf_vectors").select("vec_id").collect()
    )
    assert after == survivors
    # idempotent: applying tombstones after clearance is a no-op
    again = V.apply_tombstones(spark, idx, spark.read.parquet(f"{idx}/ivf_vectors"))
    assert again.count() == len(survivors)


def test_bounded_compaction_keeps_tombstones_for_untouched_cells(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_bndtomb_t_"), emb=emb
    )
    cells = sorted(
        int(r["cell"])
        for r in spark.read.parquet(f"{idx}/ivf_vectors").select("cell").distinct().collect()
    )
    assert len(cells) >= 2
    dead = [int(r["vec_id"]) for r in emb.select("vec_id").limit(5).collect()]
    V.delete_from_index(spark, idx, dead)
    V.compact_index_cells(spark, idx, cells=[cells[0]])
    # the bounded pass must NOT clear tombstones — untouched cells may
    # still hold deleted rows that only the anti-join hides
    assert os.path.isdir(f"{idx}/deleted_ids")
    masked = V.apply_tombstones(spark, idx, spark.read.parquet(f"{idx}/ivf_vectors"))
    assert masked.where(F.col("vec_id").isin(dead)).count() == 0


def test_stream_append_multibatch_exactly_once_and_fold(spark):
    """Three micro-batches of streamed vectors land in three batch_pt
    delta dirs; a REPLAYED batch overwrites (not duplicates); folding
    the delta + compacting yields the same store as batch appends."""
    import shutil

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 7 != 0)
    new = emb.where(F.col("vec_id") % 7 == 0)
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_stream_t_"), emb=corpus
    )
    # stream the new rows from a 3-file dir, one file per micro-batch
    src = tempfile.mkdtemp(prefix="emb_stream_src_")
    new.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    V.stream_append_to_ivf_flat_index(
        spark, stream, idx, tempfile.mkdtemp(prefix="ck_idx_t_")
    )
    batch_dirs = sorted(glob.glob(f"{idx}/ivf_vectors_delta/batch_pt=*"))
    assert len(batch_dirs) == 3, batch_dirs
    store_rows = sorted(
        (r["vec_id"], r["cell"])
        for r in V.read_ivf_flat_store(spark, idx).select("vec_id", "cell").collect()
    )
    assert len(store_rows) == emb.count()
    # replay batch 0 (simulated failure recovery): same directory is
    # OVERWRITTEN — the serving view is unchanged
    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        Codebook,
        assign_nearest_arrow,
    )

    cb = Codebook(
        [
            (r["cent_id"], r["cent_emb"])
            for r in spark.read.parquet(f"{idx}/ivf_centroids").collect()
        ]
    )
    b0 = spark.read.parquet(batch_dirs[0]).select("vec_id", "embedding")
    replay = assign_nearest_arrow(b0, cb, "vec_id", keep_embedding=True)
    (
        replay.withColumn("cell_pt", F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell_pt")
        .parquet(batch_dirs[0])
    )
    after_replay = sorted(
        (r["vec_id"], r["cell"])
        for r in V.read_ivf_flat_store(spark, idx).select("vec_id", "cell").collect()
    )
    assert after_replay == store_rows
    # fold + compact: delta gone, one file per cell, values identical
    V.fold_index_delta(spark, idx)
    assert not glob.glob(f"{idx}/ivf_vectors_delta")
    V.compact_index_cells(spark, idx)
    assert all(n == 1 for n in _files_per_cell(idx).values())
    folded = _store_rows(spark, idx)
    assert folded == store_rows
    shutil.rmtree(src, ignore_errors=True)


def _served(spark, idx):
    """(vec_id, cell) rows of the flat store's serving view."""
    served = V.apply_tombstones(spark, idx, V.read_ivf_flat_store(spark, idx))
    return sorted((r["vec_id"], r["cell"]) for r in served.select("vec_id", "cell").collect())


def _stages(idx):
    return [e for e in os.listdir(idx) if e.startswith("_stage_")]


def test_compaction_crash_recovery_restores_old_dir(spark):
    """A crash between the two swap renames of a compaction leaves the
    live relation moved aside and the staged one not yet in place: the
    next read must roll the commit forward, never lose the only copy;
    the next compaction sweeps a stage that never got its marker."""
    import shutil

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_crash_t_"), emb=emb
    )
    rows = _store_rows(spark, idx)
    # mutation 1 lands the marker, 2 moves the live relation aside,
    # 3 would move the compacted one in
    with crash_at(idx, 3), pytest.raises(Crash):
        V.compact_index_cells(spark, idx)
    assert not os.path.isdir(f"{idx}/ivf_vectors")
    assert _served(spark, idx) == rows
    assert not os.path.isfile(f"{idx}/{MARKER}") and not _stages(idx)
    os.makedirs(f"{idx}/_stage_orphan/ivf_vectors")
    V.compact_index_cells(spark, idx)
    assert _store_rows(spark, idx) == rows
    assert not _stages(idx)
    shutil.rmtree(idx, ignore_errors=True)


def test_bounded_compaction_crash_keeps_untouched_cells(spark):
    """Regression: a bounded compaction moved every untouched cell into
    its staging dir before the swap, and the next compaction's sweep
    deleted every staging dir, so a crash inside that move loop lost
    the cells already moved. Crashed at each of its first mutations,
    the pass must leave the served rows whole, before and after a
    re-run."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark,
        SF_DIR,
        tempfile.mkdtemp(prefix="ivfflat_bndcrash_t_"),
        emb=emb.where(F.col("vec_id") % 3 == 0),
    )
    V.append_to_ivf_flat_index(spark, emb.where(F.col("vec_id") % 3 != 0), idx)
    touched = int(next(c for c, n in _files_per_cell(idx).items() if n > 1))
    crash_matrix(
        idx,
        lambda d: V.compact_index_cells(spark, d, cells=[touched]),
        lambda d: _served(spark, d),
        points=(1, 2, 3),
        rerun=True,
    )


def test_direct_append_crash_leaves_batch_absent_or_whole(spark):
    """A direct append is one staged store commit: crashed at its
    marker, inside the roll-forward or at its last step, the flat store
    serves the batch absent or whole, never partial or doubled."""
    from tests.fixtures.crash import spread_points

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark,
        SF_DIR,
        tempfile.mkdtemp(prefix="ivfflat_appendcrash_t_"),
        emb=emb.where(F.col("vec_id") % 3 != 0),
    )

    def op(d):
        V.append_to_ivf_flat_index(spark, emb.where(F.col("vec_id") % 3 == 0), d)

    crash_matrix(idx, op, lambda d: _served(spark, d), points=spread_points(idx, op))
    whole = copy_store(idx)
    op(whole)
    assert len(_served(spark, whole)) == emb.count()


def test_delete_crash_leaves_delete_absent_or_whole(spark):
    """A delete is one staged store commit: crashed at every mutation
    it makes, the flat store serves the delete absent or whole, and a
    re-run lands it whole."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_delcrash_t_"), emb=emb
    )
    dead = emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    n = crash_matrix(
        idx,
        lambda d: V.delete_from_index(spark, d, dead),
        lambda d: _served(spark, d),
        rerun=True,
    )
    # an in-place append makes no counted mutation, so the matrix
    # above would prove nothing
    assert n >= 1


@pytest.mark.slow
def test_every_vector_store_rewrite_survives_a_crash_at_every_step(spark):
    """Delta fold, full and bounded compaction, retrain and SQ8 reindex,
    each crashed once before its marker and at every mutation after it:
    the store serves exactly the state before or after the call."""
    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        Codebook,
        assign_nearest_arrow,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dead = [int(r["vec_id"]) for r in emb.select("vec_id").limit(5).collect()]
    flat = V.build_ivf_flat_index(
        spark,
        SF_DIR,
        tempfile.mkdtemp(prefix="ivfflat_matrix_t_"),
        emb=emb.where(F.col("vec_id") % 3 == 2),
    )
    V.append_to_ivf_flat_index(spark, emb.where(F.col("vec_id") % 3 == 1), flat)
    cb = Codebook(
        [(r["cent_id"], r["cent_emb"]) for r in spark.read.parquet(f"{flat}/ivf_centroids").collect()]
    )
    (
        assign_nearest_arrow(emb.where(F.col("vec_id") % 3 == 0), cb, "vec_id", keep_embedding=True)
        .withColumn("cell_pt", F.col("cell"))
        .write.partitionBy("cell_pt")
        .parquet(f"{flat}/ivf_vectors_delta/batch_pt=m-0")
    )
    V.delete_from_index(spark, flat, dead)
    folded = copy_store(flat)
    V.fold_index_delta(spark, folded)
    cells = sorted({c for _, c in _served(spark, folded)})[:2]

    def with_codebook(d):
        served = _served(spark, d)  # recovers first
        cents = sorted(
            (r["cent_id"], tuple(r["cent_emb"]))
            for r in spark.read.parquet(f"{d}/ivf_centroids").collect()
        )
        return served, cents

    n = {
        "fold": crash_matrix(flat, lambda d: V.fold_index_delta(spark, d), lambda d: _served(spark, d)),
        "compact": crash_matrix(folded, lambda d: V.compact_index_cells(spark, d), lambda d: _served(spark, d)),
        "bounded": crash_matrix(
            folded, lambda d: V.compact_index_cells(spark, d, cells=cells), lambda d: _served(spark, d)
        ),
        "retrain": crash_matrix(flat, lambda d: V.retrain_ivf_flat_index(spark, d), with_codebook),
    }

    sq8 = V.build_ivf_sq8_index(
        spark,
        SF_DIR,
        tempfile.mkdtemp(prefix="sq8_matrix_t_"),
        emb=emb.where(F.col("vec_id") % 3 != 0),
    )
    V.delete_from_index(spark, sq8, dead)

    def sq8_state(d):
        served = V.apply_tombstones(spark, d, V.read_sq8_store(spark, d))
        return (
            sorted(tuple(r) for r in served.select("vec_id", "cell", "codes").collect()),
            sorted(tuple(r) for r in spark.read.parquet(f"{d}/sq8_stats").collect()),
        )

    n["reindex"] = crash_matrix(sq8, lambda d: V.reindex_sq8_index(spark, d, emb), sq8_state)
    # every rewrite commits through the marker, so each has several steps
    assert all(k > 4 for k in n.values()), n


def test_full_compaction_keeps_tombstones_while_delta_exists(spark):
    """A full compaction must NOT clear tombstones while a streaming
    delta dir exists — the delta may hold deleted rows the pass never
    rewrites; clearing would resurrect them at serve."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 7 != 0)
    new = emb.where(F.col("vec_id") % 7 == 0)
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_deltatomb_t_"), emb=corpus
    )
    src = tempfile.mkdtemp(prefix="emb_stream_src2_")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src)
    V.stream_append_to_ivf_flat_index(
        spark, stream, idx, tempfile.mkdtemp(prefix="ck_idx_t2_")
    )
    # delete a vector that lives only in the DELTA
    dead = [int(new.select("vec_id").first()["vec_id"])]
    V.delete_from_index(spark, idx, dead)
    V.compact_index_cells(spark, idx)
    # tombstones retained; the deleted delta row stays masked at serve
    assert os.path.isdir(f"{idx}/deleted_ids")
    served = V.apply_tombstones(spark, idx, V.read_ivf_flat_store(spark, idx))
    assert served.where(F.col("vec_id").isin(dead)).count() == 0
    # folding the delta retires both: next full compaction clears
    V.fold_index_delta(spark, idx)
    V.compact_index_cells(spark, idx)
    assert not os.path.isdir(f"{idx}/deleted_ids")
    raw = spark.read.parquet(f"{idx}/ivf_vectors")
    assert raw.where(F.col("vec_id").isin(dead)).count() == 0


def test_full_compaction_keeps_tombstones_while_pq_delta_exists(spark):
    """Regression: the full compaction decided "no delta present" from
    the flat and SQ8 deltas only, so with a pending ``pq_codes`` delta
    it cleared the tombstones and the next fold served a deleted PQ
    vector again."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    new = F.col("vec_id") % 7 == 0
    idx = V.build_ivfpq_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfpq_deltatomb_t_"), emb=emb.where(~new)
    )
    # one delta batch in the tier's on-disk layout: the new rows as a
    # frozen-index append encodes them (appended to a copy of the index)
    side = copy_store(idx)
    V.append_to_ivfpq_index(spark, emb.where(new), side)
    spark.read.parquet(f"{side}/pq_codes").where(new).write.partitionBy(
        "cell_pt"
    ).parquet(f"{idx}/pq_codes_delta/batch_pt=t-0")
    V.delete_from_index(spark, idx, [0])  # vec_id 0 lives only in the delta
    V.compact_index_cells(spark, idx)
    assert V.run_due_maintenance(spark, idx, min_delta_batches=1) == ["pq_codes"]
    served = V.apply_tombstones(spark, idx, spark.read.parquet(f"{idx}/pq_codes"))
    assert served.where(F.col("vec_id") == 0).count() == 0
    assert os.path.isdir(f"{idx}/deleted_ids")


def test_stream_append_new_checkpoint_lineage_does_not_collide(spark):
    """A second ingestion wave with a FRESH checkpoint must not
    overwrite the first wave's batch directories (batch ids restart at
    0 per lineage)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark,
        SF_DIR,
        tempfile.mkdtemp(prefix="ivfflat_waves_t_"),
        emb=emb.where(F.col("vec_id") % 3 == 0),
    )
    for k in (1, 2):  # two waves, each its own checkpoint lineage
        src = tempfile.mkdtemp(prefix=f"emb_wave{k}_")
        emb.where(F.col("vec_id") % 3 == k).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src)
        V.stream_append_to_ivf_flat_index(
            spark, stream, idx, tempfile.mkdtemp(prefix=f"ck_wave{k}_")
        )
    assert len(glob.glob(f"{idx}/ivf_vectors_delta/batch_pt=*")) == 2
    assert V.read_ivf_flat_store(spark, idx).count() == emb.count()


def test_maintenance_due_threshold_and_auto_fold(spark):
    """r12 verdict item 7: the policy. Below the file-count threshold
    the store is left alone; at crossing, run_due_maintenance folds the
    delta and the serving view (main ∪ delta) is value-identical before
    and after."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 3 == 0)
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_policy_t_"), emb=corpus
    )
    # no delta at all -> not due, nothing to report
    r0 = V.maintenance_due(idx)
    assert r0 == {"due": False, "fold": [], "compact_tombstones": False, "pending": {}}

    # land one streamed batch: a small delta under the default
    # min_delta_files stays in place (fold is not free; leave it)
    new1 = emb.where(F.col("vec_id") % 3 == 1)
    V.stream_append_to_ivf_flat_index(
        spark,
        spark.readStream.schema(new1.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(SF_DIR)
        .where(F.col("vec_id") % 3 == 1),
        idx,
        tempfile.mkdtemp(prefix="ck_policy_"),
    )
    # ONE pending batch: below the default threshold (4 batches) the
    # delta stays in place — the calibration the batch-count unit
    # exists for (a file-count ratio fired after the first batch)
    below = V.maintenance_due(idx)
    assert not below["due"] and below["pending"]["ivf_vectors"] == 1
    assert V.run_due_maintenance(spark, idx) == []
    assert os.path.isdir(f"{idx}/ivf_vectors_delta")  # untouched below threshold

    served_before = {
        (r["vec_id"], r["cell"])
        for r in V.read_ivf_flat_store(spark, idx).select("vec_id", "cell").collect()
    }
    # crossing: the same delta against a 1-file minimum is due
    due = V.maintenance_due(idx, min_delta_batches=1)
    assert due["due"] and due["fold"] == ["ivf_vectors"]
    assert V.run_due_maintenance(spark, idx, min_delta_batches=1) == ["ivf_vectors"]
    assert not os.path.isdir(f"{idx}/ivf_vectors_delta")
    served_after = {
        (r["vec_id"], r["cell"])
        for r in V.read_ivf_flat_store(spark, idx).select("vec_id", "cell").collect()
    }
    assert served_after == served_before
    # idempotent once folded
    assert V.maintenance_due(idx, min_delta_batches=1)["due"] is False
    assert V.run_due_maintenance(spark, idx, min_delta_batches=1) == []


def test_maintenance_due_reports_tombstone_pressure(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_tomb_t_"), emb=emb
    )
    V.delete_from_index(spark, idx, [1, 2])
    r = V.maintenance_due(idx)
    assert r["due"] and r["compact_tombstones"] and r["fold"] == []
    # the policy reports compaction pressure but does NOT auto-compact
    assert V.run_due_maintenance(spark, idx) == []
    assert os.path.isdir(f"{idx}/deleted_ids")


def test_maintenance_due_quality_trigger_fires_on_drift_only(spark):
    """r14: the policy's QUALITY half — maintenance_due(spark=...) adds
    retrain_due/max_drift from the drift report. A fresh store sits
    near the Lloyd fixed point (no retrain), a strongly-shifted
    frozen-codebook append fires the trigger; the metadata-only form
    (no spark) never pays the scan and never carries the keys."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_drift_pol_"), emb=emb
    )
    meta_only = V.maintenance_due(idx)
    assert "retrain_due" not in meta_only and "max_drift" not in meta_only
    # threshold is a policy knob: calibrate it just above the fresh
    # store's residual drift (the tiny sf0.001 corpus is NOT at the
    # Lloyd fixed point after 2 iterations) so the assertions pin
    # trigger SEMANTICS, not corpus convergence
    fresh0 = V.maintenance_due(idx, spark=spark)
    assert 0.0 <= fresh0["max_drift"] <= 2.0
    # a threshold just above the fresh residual: no retrain pressure
    fresh = V.maintenance_due(
        idx, spark=spark, drift_threshold=fresh0["max_drift"] + 1e-6
    )
    assert fresh["retrain_due"] is False and fresh["due"] is False

    shifted = emb.limit(200).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(-1.0)).cast("float")
        ).alias("embedding"),
    )
    V.append_to_ivf_flat_index(spark, shifted, idx)
    drifted0 = V.maintenance_due(idx, spark=spark)
    assert drifted0["max_drift"] > fresh0["max_drift"]
    # any threshold strictly between the two maxima fires post-append
    thr = (fresh0["max_drift"] + drifted0["max_drift"]) / 2
    drifted = V.maintenance_due(idx, spark=spark, drift_threshold=thr)
    assert drifted["retrain_due"] is True and drifted["due"] is True
    # ... and an unreachable threshold never does
    calm = V.maintenance_due(idx, spark=spark, drift_threshold=2.5)
    assert calm["retrain_due"] is False and calm["due"] is False
    # reporting only: nothing folds, nothing rebuilds
    assert V.run_due_maintenance(spark, idx) == []


def test_drift_report_sees_unfolded_delta_batches(spark, tmp_path):
    """r14 review fix: drift scans the SERVED view (main ∪ delta), so a
    poll with pending streamed appends sees the appended mass — the
    main-only scan understated exactly the drift the trigger exists to
    catch."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_deltadrift_"), emb=emb
    )
    fresh = V.maintenance_due(idx, spark=spark)
    # land a strongly-shifted batch as an UNFOLDED streamed-shape delta
    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        Codebook,
    )
    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        assign_nearest_arrow,
    )

    shifted = emb.limit(200).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(-1.0)).cast("float")
        ).alias("embedding"),
    )
    cents = spark.read.parquet(f"{idx}/ivf_centroids").collect()
    cb = Codebook([(r["cent_id"], r["cent_emb"]) for r in cents])
    assigned = assign_nearest_arrow(shifted, cb, "vec_id", keep_embedding=True)
    (
        assigned.withColumn("cell_pt", F.col("cell"))
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("cell_pt")
        .parquet(f"{idx}/ivf_vectors_delta/batch_pt=drift-0")
    )
    polled = V.maintenance_due(idx, spark=spark)
    assert polled["max_drift"] > fresh["max_drift"]


def test_retrain_restores_fixed_point_and_retires_deltas(spark, tmp_path):
    """r14 staging (trigger → ACTION): after a drifted append (half
    direct, half as an unfolded delta) plus a delete, retraining on the
    served view (1) brings the drift report back to a Lloyd fixed
    point — the appended mass is IN the codebook, so the trigger that
    fired goes quiet at the same threshold; (2) preserves exactly the
    live vector set; (3) retires the delta and the tombstones with the
    rewrite; (4) is crash-compatible with the compaction sweeper."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = V.build_ivf_flat_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ivfflat_retrain_t_"), emb=emb
    )
    shifted = emb.limit(200).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(-1.0)).cast("float")
        ).alias("embedding"),
    )
    V.append_to_ivf_flat_index(spark, shifted.where(F.col("vec_id") % 2 == 0), idx)
    # the other half lands as an UNFOLDED streamed-shape delta batch
    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        Codebook,
        assign_nearest_arrow,
    )

    cents = spark.read.parquet(f"{idx}/ivf_centroids").collect()
    cb = Codebook([(r["cent_id"], r["cent_emb"]) for r in cents])
    (
        assign_nearest_arrow(
            shifted.where(F.col("vec_id") % 2 != 0), cb, "vec_id", keep_embedding=True
        )
        .withColumn("cell_pt", F.col("cell"))
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("cell_pt")
        .parquet(f"{idx}/ivf_vectors_delta/batch_pt=rt-0")
    )
    dead = [int(r["vec_id"]) for r in emb.select("vec_id").limit(5).collect()]
    V.delete_from_index(spark, idx, dead)

    drifted = V.maintenance_due(idx, spark=spark)
    assert drifted["max_drift"] > 0.0
    expect_live = emb.count() + 200 - len(dead)

    stats = V.retrain_ivf_flat_index(spark, idx)
    assert stats["n_vectors"] == expect_live

    # deltas and tombstones retired by the rewrite
    assert not os.path.isdir(f"{idx}/ivf_vectors_delta")
    assert not os.path.isdir(f"{idx}/deleted_ids")
    back = spark.read.parquet(f"{idx}/ivf_vectors")
    assert back.count() == expect_live
    assert back.where(F.col("vec_id").isin(dead)).count() == 0
    assert back.where(F.col("vec_id") >= 10_000_000).count() == 200

    # the trigger that fired is quiet at a threshold BELOW the drifted
    # reading: the appended mass is in the codebook now
    thr = drifted["max_drift"] * 0.9
    calm = V.maintenance_due(idx, spark=spark, drift_threshold=thr)
    assert calm["max_drift"] < drifted["max_drift"]
    assert calm["retrain_due"] is False and calm["due"] is False


def test_retrain_commit_marker_torn_crash_windows(spark):
    """r14 advice: the two-relation retrain swap must be ONE generation.
    Three crash windows of the retrain's store commit:

    1. crash AFTER the commit marker lands, BEFORE any swap — the next
       store read rolls the whole generation forward (both relations
       from the stage, delta + tombstones dropped);
    2. crash MID roll-forward (centroids swapped, vectors not) — a new
       codebook must never serve over old cell assignments; recovery
       completes the vectors swap;
    3. crash ON the marker (stage written, no marker) — the live store
       is untouched and the next compaction sweeps the stage.
    """
    import shutil

    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        Codebook,
        assign_nearest_arrow,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = V.build_ivf_flat_index(
        spark,
        SF_DIR,
        tempfile.mkdtemp(prefix="ivfflat_torn_t_"),
        emb=emb.where(F.col("vec_id") % 2 == 0),
    )
    # pending delta + tombstones the committed retrain must retire
    cb = Codebook(
        [(r["cent_id"], r["cent_emb"]) for r in spark.read.parquet(f"{base}/ivf_centroids").collect()]
    )
    (
        assign_nearest_arrow(emb.where(F.col("vec_id") % 2 == 1), cb, "vec_id", keep_embedding=True)
        .withColumn("cell_pt", F.col("cell"))
        .write.partitionBy("cell_pt")
        .parquet(f"{base}/ivf_vectors_delta/batch_pt=t-0")
    )
    V.delete_from_index(spark, base, [0])
    expect = sorted(r["vec_id"] for r in emb.where(F.col("vec_id") != 0).select("vec_id").collect())

    # mutations: 1 marker, 2/3 centroids aside/in, 4/5 vectors aside/in
    for k in (2, 4):
        idx = copy_store(base)
        with crash_at(idx, k), pytest.raises(Crash):
            V.retrain_ivf_flat_index(spark, idx)
        served = V.read_ivf_flat_store(spark, idx)  # recovery on read
        assert sorted(r["vec_id"] for r in served.select("vec_id").collect()) == expect
        assert not os.path.isfile(f"{idx}/{MARKER}")
        assert not _stages(idx)
        assert not os.path.isdir(f"{idx}/ivf_vectors_delta")  # no double-serve
        assert not os.path.isdir(f"{idx}/deleted_ids")  # retired in-generation
        # centroids and assignments come from the SAME generation: every
        # served vector sits in its nearest cell of the served codebook
        cb = Codebook(
            [(r["cent_id"], r["cent_emb"]) for r in spark.read.parquet(f"{idx}/ivf_centroids").collect()]
        )
        got = sorted(map(tuple, served.select("vec_id", "cell").collect()))
        want = sorted(
            map(tuple, assign_nearest_arrow(served.select("vec_id", "embedding"), cb, "vec_id").collect())
        )
        assert got == want
        shutil.rmtree(idx, ignore_errors=True)

    # window 3: no marker — the pre-commit crash rolls back
    idx = copy_store(base)
    rows = _served(spark, idx)
    with crash_at(idx, 1), pytest.raises(Crash):
        V.retrain_ivf_flat_index(spark, idx)
    assert _stages(idx)
    assert _served(spark, idx) == rows
    V.compact_index_cells(spark, idx)
    assert not _stages(idx)
    assert _served(spark, idx) == rows
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(base, ignore_errors=True)


def test_sq8_reindex_rebuilds_from_source_and_retires(spark):
    """r15: the compressed-layout 'reindex window' — SQ8 cannot
    Lloyd-retrain from its own lossy codes, so reindex reads the vector
    source-of-truth, applies pending tombstones, and swaps a whole new
    generation (centroids + affine stats + codes) in one store commit,
    like the flat retrain. Asserts: live set exact, delta and
    tombstones retired in-generation, the swapped-in stats equal the
    live set's true per-dim min/max, and a committed-but-torn
    generation rolls forward on the next store read."""
    import shutil

    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 3 != 0)
    idx = V.build_ivf_sq8_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="sq8_reindex_t_"), emb=corpus
    )
    V.append_to_sq8_index(spark, emb.where(F.col("vec_id") % 3 == 0), idx)
    os.makedirs(f"{idx}/sq8_codes_delta/batch_pt=t-0", exist_ok=True)
    dead = [int(r["vec_id"]) for r in emb.select("vec_id").limit(7).collect()]
    V.delete_from_index(spark, idx, dead)
    torn = copy_store(idx)

    stats = V.reindex_sq8_index(spark, idx, emb)
    assert stats["n_vectors"] == emb.count() - len(dead)
    assert not os.path.isdir(f"{idx}/sq8_codes_delta")
    assert not os.path.isdir(f"{idx}/deleted_ids")
    assert not os.path.isfile(f"{idx}/{MARKER}")
    back = spark.read.parquet(f"{idx}/sq8_codes")
    assert back.count() == stats["n_vectors"]
    assert back.where(F.col("vec_id").isin(dead)).count() == 0

    # affine stats == true per-dim min/max of the LIVE set
    live = [
        r["embedding"]
        for r in emb.where(~F.col("vec_id").isin(dead)).collect()
    ]
    m = np.array(live, dtype=np.float64)
    mn, mx = V.load_sq8_stats(spark, f"{idx}/sq8_stats")
    assert np.allclose(mn, m.min(axis=0)) and np.allclose(mx, m.max(axis=0))

    # torn committed generation (marker present, nothing swapped): the
    # next SQ8 store read rolls it forward
    with crash_at(torn, 2), pytest.raises(Crash):
        V.reindex_sq8_index(spark, torn, emb)
    served = V.read_sq8_store(spark, torn)
    assert served.count() == stats["n_vectors"]  # the staged generation
    assert not os.path.isfile(f"{torn}/{MARKER}")
    assert not _stages(torn)
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(torn, ignore_errors=True)


def test_sq8_reindex_roundtrip_stage_gate(spark):
    """r16 stage-gate (r15 window full): REINDEX ≡ FRESH BUILD on the
    live source, proven cross-engine — the staged query's per-cell
    aggregate matches its DuckDB oracle value-for-value at sf0.001."""
    import duckdb

    from udacity_dend_capstone_immigration_spark.workload.vectors import (
        _SQ8_REINDEX_ORACLE,
        sq8_reindex_roundtrip,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, sq8_reindex_roundtrip(spark, sf).collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    want = sorted(map(tuple, con.sql(_SQ8_REINDEX_ORACLE).fetchall()))
    assert got == want
    assert all(r[4] == 0 for r in got)  # layout guard zero everywhere
    assert len(got) > 1
