"""End-to-end STORE-SERVED pipeline composition (r13 verdict item 7).

Every expensive artifact in this repo trains once and serves many —
but until r14 each leg was proven individually. `corpus_pipeline_served`
chains them into the query a production ingest actually runs per corpus
snapshot, reading ONLY persisted artifacts:

    dedup store  --classify-->  survivors (status = unique)
    DSIR heads   --score----->  head-25%-per-source selection
    BPE store    --encode---->  fixed-budget packed training examples

Training-free by construction: the dedup index, both KN head tables,
and the encoded vocabulary are bare parquet scans — no shingle-index
build, no Kneser-Ney aggregates, no merge rounds anywhere in the plan
(`tests/test_plans.py::test_pipeline_served_plan_is_training_free`).
The two tiny decision frames (survivor ids, selected ids) are EAGERLY
localCheckpoint'ed: each feeds 2-3 downstream subtrees, and without the
barrier the batch-classification join tree would execute once per
consumer (the CLAUDE.md shared-subtree rule; both frames are O(batch)
rows).

The oracle is literally the component oracles' CTE chains spliced
together (status → surv, DSIR select over survivors, packed examples
over the selection) — asserted splices, so a drift in any component
oracle breaks this module loudly at import.

No counterpart in the reference (etl.py is a single-pass star ETL);
this is the beyond-reference LLM-pipeline tier's capstone.
"""

from __future__ import annotations

from udacity_dend_capstone_immigration_spark.workload.base import read_parquet_memo
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.workload.base import ORACLES, query, table

# ---------------------------------------------------------------------------
# Oracle assembly: splice the three component oracles' CTE chains.


def _spliced_pipeline_oracle() -> str:
    def _cut(s: str, marker: str) -> tuple[str, str]:
        assert s.count(marker) == 1, f"splice marker drifted: {marker!r}"
        head, tail = s.split(marker, 1)
        return head, tail

    # -- stage 1: batch classification -> survivors ---------------------
    status = ORACLES["documents_stream_dedup_status"]
    head, tail = _cut(status, " SELECT doc_id, CASE")
    stage1 = (
        head[len("WITH ") :]
        + ", status AS (SELECT doc_id, CASE"
        + tail
        + "), surv AS (SELECT doc_id FROM status WHERE status = 'unique')"
    )

    # -- stage 2: DSIR selection over survivors (frozen full-corpus
    # heads: pknC/pknT CTEs unchanged; only the SCORED set shrinks) ----
    dsir = ORACLES["corpus_importance_sample"]
    dsir = dsir[len("WITH ") :]
    marker = ", bgcC AS"
    assert dsir.count(marker) == 1
    dsir = dsir.replace(
        marker,
        ", bgs AS (SELECT bg.* FROM bg JOIN surv USING (doc_id))" + marker,
        1,
    )
    for h in ("pknC", "pknT"):
        m = f"FROM bg JOIN {h} USING (bigram)"
        assert dsir.count(m) == 1, m
        dsir = dsir.replace(m, f"FROM bgs bg JOIN {h} USING (bigram)", 1)
    head, tail = _cut(dsir, " SELECT doc_id, source, importance,")
    stage2 = (
        head
        + ", dsel AS (SELECT doc_id, source, importance,"
        + tail
        + "), sel AS (SELECT doc_id FROM dsel)"
    )

    # -- stage 3: packed examples over the selection --------------------
    packed = ORACLES["corpus_examples_packed"]
    packed = packed[len("WITH ") :]
    m = "AS term FROM documents) d JOIN vstats v USING (term)"
    assert packed.count(m) == 1
    stage3 = packed.replace(
        m,
        "AS term FROM documents) d JOIN sel s ON s.doc_id = d.doc_id "
        "JOIN vstats v USING (term)",
        1,
    )

    return "WITH " + stage1 + ", " + stage2 + ", " + stage3


# ---------------------------------------------------------------------------


@query("corpus_pipeline_served", oracle=_spliced_pipeline_oracle())
def corpus_pipeline_served(spark, sf_dir):
    """The per-snapshot production run: classify the arriving batch
    (doc_id % 7 = 0, mirroring the incremental-dedup convention)
    against the persisted dedup index, keep the unique survivors,
    DSIR-select the head 25% token mass per source with the persisted
    KN heads, encode + pack the selection into 512-token examples with
    the persisted tokenizer. Output = the packed-examples aggregate
    (source, example_id, counts, token-id checksum, doc bounds), so
    the hash compare pins every stage's membership decision AND the
    final artifact's exact token ids."""
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        _INC_MOD,
        classify_batch_against_index,
        served_dedup_index_dir,
    )
    from udacity_dend_capstone_immigration_spark.workload.pretrain import (
        _packed_examples,
        served_bpe_dir,
    )
    from udacity_dend_capstone_immigration_spark.workload.textops import (
        _doc_bigrams,
        _dsir_scores,
        _dsir_select_from_scores,
        served_dsir_dir,
    )

    docs = table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % _INC_MOD == 0)

    # stage 1: dedup-store classify -> survivors. Eager checkpoint:
    # the survivor set feeds the scored-row filter AND the packer;
    # lazy, the classification join tree re-executes per consumer.
    idx = served_dedup_index_dir(spark, sf_dir)
    status = classify_batch_against_index(spark, idx, batch)

    # stage 2 SCORE half: DSIR-score the whole batch from the persisted
    # heads (bare scans). r16 (guide §8: decide on light rows, never
    # shuffle payloads): scoring is PER-DOC under frozen heads, so
    # score straight off the scan — no text-carrying SMJ against the
    # survivor RDD before the bigram explode — and apply the survivor
    # filter as a semi-join on the slim aggregated score rows, where
    # filter-then-score ≡ score-then-filter bit-for-bit (A/B at sf0.1:
    # stage 1.8 → ~0.9s). That same commutation makes classify and
    # score INDEPENDENT jobs, submitted one after the other (r17 A/B in
    # OPTIMIZATION_r17.md: a 2-thread pool loses at the x100 corpus and
    # at 32 cores). Each materializes O(batch) slim rows.
    d = served_dsir_dir(spark, sf_dir)
    scored_c = read_parquet_memo(spark, f"{d}/pkn_corpus").select("bigram", "p_kn")
    scored_t = read_parquet_memo(spark, f"{d}/pkn_target").select("bigram", "p_kn")
    scored_lazy = _dsir_scores(batch, _doc_bigrams(batch), scored_c, scored_t)
    surv_lazy = status.where(F.col("status") == "unique").select("doc_id")

    # r17 session 3 (guide §2.4/§5): below the window-shape threshold
    # the intermediate checkpoints are pure job overhead — classify,
    # score, semi-join and the per-source window all run as ONE job
    # inside sel_ids' checkpoint (each subtree has exactly one
    # consumer, so nothing re-executes), and the select runs the plain
    # window. Above it the shipped shape stays: both decision frames
    # checkpoint first (the range-exchange select SAMPLES its input —
    # repartitionByRange would re-execute the un-checkpointed scoring
    # subtree for the sampling pass) and the select runs the range
    # shape. Gate = the batch's slim (doc_id, source) scan-derived
    # Catalyst estimate — same per-row width as the scored rows the
    # window sorts, scales with the corpus, and unlike the scored
    # frame's own estimate it is neither explode-blind (under) nor
    # LogicalRDD-pinned at Long.MaxValue (over).
    from udacity_dend_capstone_immigration_spark.operators.cumsum import (
        WINDOW_MAX_BYTES,
        estimated_bytes,
    )

    est = estimated_bytes(batch.select("doc_id", "source"))
    if est is not None and est <= WINDOW_MAX_BYTES:
        spark.sparkContext.setJobDescription(
            "pipeline: classify+score+select (folded)"
        )
        scored_surv = scored_lazy.join(
            surv_lazy.hint("merge"), "doc_id", "leftsemi"
        )
        sel_ids = (
            _dsir_select_from_scores(scored_surv, shape="window")
            .select("doc_id")
            .localCheckpoint()
        )
    else:
        spark.sparkContext.setJobDescription("pipeline: classify vs dedup store")
        surv_ids = surv_lazy.localCheckpoint()
        spark.sparkContext.setJobDescription("pipeline: DSIR score batch")
        scored_all = scored_lazy.localCheckpoint()
        scored_surv = scored_all.join(surv_ids.hint("merge"), "doc_id", "leftsemi")
        sel_ids = (
            _dsir_select_from_scores(scored_surv, shape="range")
            .select("doc_id")
            .localCheckpoint()
        )
    spark.sparkContext.setJobDescription(None)

    # stage 3: encode + pack with the persisted tokenizer. sel_ids has
    # ONE consumer, so its checkpoint is not a re-execution guard like
    # surv_ids' — an r14 A/B at sf0.1 read a wash (5.4/5.9s with vs
    # 6.2/5.2s without); kept because it also keeps the RETURNED plan
    # bare of the scoring subtree (the training-free plan pin).
    b = served_bpe_dir(spark, sf_dir)
    words = read_parquet_memo(spark, f"{b}/encoded_vocab")
    selected = docs.join(sel_ids, "doc_id", "leftsemi")
    return _packed_examples(spark, sf_dir, words, docs=selected)


# --- the STREAMING twin (staged r14, registered r15; stage-gate
# tests/test_pipeline_stream.py) — score on ingest, select at snapshot. The expensive
# corpus-touching stages (dedup-store classify, frozen-head DSIR
# scoring) are PER-DOC against frozen stores, so each arriving
# micro-batch pays O(batch) and lands its (doc_id, source, mass,
# importance, status) rows batch-addressed (overwrite-own-batch_pt —
# replay exactly-once, the CLAUDE.md streaming-append rule). Selection
# and packing are GLOBAL decisions over the snapshot's mass
# distribution, so they run once at snapshot time over the accumulated
# score table — |batch docs| rows, no text. Sequential ≡ one-shot by
# construction (classify has no batch-internal interactions; scoring
# is per-doc under frozen heads; select/pack see the same score set),
# so the streamed twin SHARES the batch pipeline's spliced oracle.
@query("corpus_pipeline_streamed")
def corpus_pipeline_streamed(spark, sf_dir, n_waves: int = 3):
    """`corpus_pipeline_served` with the arriving snapshot drained as a
    document STREAM (n_waves staged files, oldest-first by mtime, one
    file per micro-batch) through foreachBatch score-on-ingest; returns
    the identical packed-examples aggregate."""
    import os
    import tempfile

    from udacity_dend_capstone_immigration_spark.streaming.windows import (
        _await_or_raise,
        read_stream,
    )
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        _INC_MOD,
        classify_batch_against_index,
        served_dedup_index_dir,
    )
    from udacity_dend_capstone_immigration_spark.workload.pretrain import (
        _packed_examples,
        served_bpe_dir,
    )
    from udacity_dend_capstone_immigration_spark.workload.textops import (
        _doc_bigrams,
        _dsir_scores,
        _dsir_select_from_scores,
        served_dsir_dir,
    )

    docs = table(spark, sf_dir, "documents")
    batch_slice = docs.where(F.col("doc_id") % _INC_MOD == 0)

    idx = served_dedup_index_dir(spark, sf_dir)
    dsir = served_dsir_dir(spark, sf_dir)
    bpe = served_bpe_dir(spark, sf_dir)

    # stage the snapshot as n_waves files, oldest-first (the file
    # source processes by mtime; one file per trigger = real batches)
    feed = tempfile.mkdtemp(prefix="pipe_feed_")
    mt = 1_700_000_000
    for i in range(n_waves):
        d = tempfile.mkdtemp()
        batch_slice.where(F.pmod(F.col("doc_id"), F.lit(n_waves)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        (part,) = [
            f
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        os.replace(f"{d}/{part}", f"{feed}/w{i}.parquet")
        os.utime(f"{feed}/w{i}.parquet", (mt + i * 3600, mt + i * 3600))

    scores = tempfile.mkdtemp(prefix="pipe_scores_") + "/scores"
    schema = read_parquet_memo(spark, f"{feed}/w0.parquet").schema
    stream = read_stream(spark, feed, schema, max_files_per_trigger=1)

    def score_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        bspark = batch_df.sparkSession
        status = classify_batch_against_index(bspark, idx, batch_df)
        scored_c = read_parquet_memo(bspark, f"{dsir}/pkn_corpus").select("bigram", "p_kn")
        scored_t = read_parquet_memo(bspark, f"{dsir}/pkn_target").select("bigram", "p_kn")
        # r16: score the whole micro-batch off its in-memory frame and
        # filter survivors on the slim aggregated score rows (same
        # score-then-filter ≡ filter-then-score rewrite as the served
        # twin — scoring is per-doc under frozen heads)
        w_all = _dsir_scores(batch_df, _doc_bigrams(batch_df), scored_c, scored_t)
        w = w_all.join(
            status.where(F.col("status") == "unique").select("doc_id"),
            "doc_id",
            "leftsemi",
        )
        # batch-addressed landing: replay OVERWRITES its own dir
        w.repartition(1).write.mode("overwrite").parquet(
            f"{scores}/batch_pt={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_pipe_stream_"))
        .start()
    )
    _await_or_raise(q, 300, "corpus_pipeline_streamed")

    w_all = read_parquet_memo(spark, scores).select(
        "doc_id", "source", "n_bigrams", "importance"
    )
    sel_ids = _dsir_select_from_scores(w_all).select("doc_id").localCheckpoint()
    words = read_parquet_memo(spark, f"{bpe}/encoded_vocab")
    # merge-hint: sel_ids is an SF-scaling checkpointed frame, and here
    # (unlike the served twin) its LogicalRDD inherits a SMALL estimate
    # from the scores-parquet subtree, so the static planner would
    # broadcast it — a corpus-fraction build at a 100x corpus
    selected = docs.join(sel_ids.hint("merge"), "doc_id", "leftsemi")
    return _packed_examples(spark, sf_dir, words, docs=selected)


# Sequential ≡ one-shot (see block comment above), so the streamed twin
# shares the batch pipeline's spliced oracle verbatim.
ORACLES["corpus_pipeline_streamed"] = ORACLES["corpus_pipeline_served"]
