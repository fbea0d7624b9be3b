"""Persisted TEXT-dedup index: train-once/serve-many for the corpus
shingle/fingerprint index (the r12 verdict's top item).

`documents_stream_dedup_status` classifies an arriving batch against
the corpus via three static relations — the df-capped (shingle, doc)
index, the distinct content-fingerprint set, and per-doc shingle
counts. Rebuilding those per run is rebuild-dominated at scale (124s
of the 144s wall at the 100x corpus was the index job), the exact
cost shape the r11 ANN stores already solved: build once to parquet,
serve from the read-back relations, append new batches in O(batch).

Store layout (all plain parquet, same lifecycle as the IVF stores):

    shingle_index/g_pt=<b>/   (g, cid)      df-capped corpus postings
    shingle_df/g_pt=<b>/      (g, df)       per-shingle df (UNcapped —
                                            the append probe must see
                                            over-cap shingles too)
    fingerprints/fp_pt=<b>/   (fp, cid)     per-doc md5(norm) rows (set
                                            consumers .distinct(); the
                                            cid makes doc DELETES exact)
    doc_sizes/                (doc_id, n)   per-doc shingle counts
    dropped_shingles/         (g)           tombstones: shingles whose
                                            df CROSSED the cap via an
                                            append (their main rows
                                            are dead until the fold)
    deleted_docs/             (cid)         doc tombstones (right-to-be-
                                            forgotten); reads anti-join,
                                            fold applies physically
    revival_due/              (g)           shingles whose df fell BACK
                                            under the cap via a delete —
                                            their survivors' postings
                                            were never stored; re-indexed
                                            from the live corpus by
                                            revive_shingles at
                                            maintenance cadence
    meta/                     (k, cap, n_buckets)

Partition key: ``g_pt = int(md5(g)[:4], 16) % n_buckets`` — md5 so the
DuckDB oracles compute the identical bucket (repo rule: hashing md5
only), and partitioned so (a) every relation scans with n_buckets
splits regardless of writer row-grouping, (b) an append's writes and
its stats probe prune to the buckets the batch actually touches.

Append semantics (the part that must equal a full rebuild): the df cap
is a GLOBAL statistic, so appending docs can push a shingle over the
cap, which must RETRACT its already-indexed rows. The LSM split used
throughout this repo handles it in O(batch):

    df_total(g) = df_main(g) + df_batch(g)   (probe: batch shingles ⋈
                                              read-back shingle_df)
    df_total <= cap            -> append the batch's (g, cid) rows
    df_total >  cap, df_main>0
               and df_main<=cap -> tombstone g in dropped_shingles
    df_total >  cap otherwise   -> drop silently (main has no rows)

Reads anti-join the tombstones (a plan no-op while the table is
absent, mirroring `apply_tombstones`); `fold_dedup_index` applies them
physically at maintenance cadence. With df stored uncapped, this is
EXACTLY rebuild-equivalence: `dedup_index_append_roundtrip`'s oracle
is the full-rebuild aggregation, proving it value-for-value.

No counterpart in the reference (etl.py's dedup surface is
drop_duplicates, :169); this is the beyond-reference LLM-pipeline tier.
"""

from __future__ import annotations

from udacity_dend_capstone_immigration_spark.workload.base import read_parquet_memo
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.functions.text import doc_fingerprint
from udacity_dend_capstone_immigration_spark.operators.dedup import shingle_rows
from udacity_dend_capstone_immigration_spark.sources.readers import local_frame
from udacity_dend_capstone_immigration_spark.sources.store import (
    begin,
    commit,
    drop_tombstoned,
    pending,
    read_with_delta,
    recover,
    stream_to_delta,
    tombstoned,
    tombstones,
    write_delta_batch,
)
from udacity_dend_capstone_immigration_spark.sources.writers import write_table
from udacity_dend_capstone_immigration_spark.workload.base import query, table
from udacity_dend_capstone_immigration_spark.workload.textops import (
    _INC_MOD,
    _NGRAM_SHINGLE_CAP,
    NORM,
    SHINGLES,
)

#: Bucket count for the md5-prefix partition key. 32 matches the local
#: parallelism; a 100 TB corpus raises it at build time (it is stored
#: in meta/ — appends and serves read the built value, so stores with
#: different layouts coexist).
N_SHINGLE_BUCKETS = 32


def _bucket(col, n_buckets: int = N_SHINGLE_BUCKETS):
    """Engine-portable bucket: first 4 md5 hex digits mod n_buckets
    (DuckDB: ``CAST(('0x' || substring(md5(x),1,4)) AS BIGINT) % n``)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("bigint") % n_buckets
    ).cast("int")


def _hex_bucket(col, n_buckets: int = N_SHINGLE_BUCKETS):
    """Bucket for a column that IS already an md5 hex string (the
    fingerprint set): its own 4-hex prefix, no second hash."""
    return (
        F.conv(F.substring(col, 1, 4), 16, 10).cast("bigint") % n_buckets
    ).cast("int")


def build_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    k: int = 3,
    cap: int = _NGRAM_SHINGLE_CAP,
    n_buckets: int = N_SHINGLE_BUCKETS,
) -> str:
    """Build the index from ``docs`` (doc_id, text) into ``out_dir``.

    Two tokenize scans, not one: stats (count-only groupBy, map-side
    combinable) and postings (grouped collect_list -> cap filter ->
    in-group explode) are written from separate scans because the r11
    A/B measured materializing the uncapped grouped-list frame to
    share one scan 11% SLOWER at the 100x corpus than re-scanning
    (mega-bucket arrays cost more than a second map-side-combining
    pass). Build runs at maintenance cadence; serve never pays it.
    """
    e = shingle_rows(docs, "doc_id", "text", k).withColumnRenamed("shingle", "g")
    stats = (
        e.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("g_pt", _bucket(F.col("g"), n_buckets))
    )
    write_table(stats, f"{out_dir}/shingle_df", partition_by=["g_pt"])
    idx = (
        e.groupBy("g")
        .agg(F.collect_list("doc_id").alias("cids"))
        .where(F.size("cids") <= cap)
        .select("g", F.explode("cids").alias("cid"))
        .withColumn("g_pt", _bucket(F.col("g"), n_buckets))
    )
    write_table(idx, f"{out_dir}/shingle_index", partition_by=["g_pt"])
    # per-doc (fp, cid) rows, NOT a distinct set: consumers are
    # semi-join sides (duplicates harmless; set consumers .distinct())
    # and the cid is what makes a document DELETE exact — a shared
    # fingerprint survives while any live doc still carries it.
    fp = (
        docs.select(doc_fingerprint("text").alias("fp"), F.col("doc_id").alias("cid"))
        .withColumn("fp_pt", _hex_bucket(F.col("fp"), n_buckets))
    )
    write_table(fp, f"{out_dir}/fingerprints", partition_by=["fp_pt"])
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    write_table(sizes, f"{out_dir}/doc_sizes")
    meta = local_frame(
        spark, [(k, cap, n_buckets)], "k int, cap int, n_buckets int"
    )
    write_table(meta, f"{out_dir}/meta")
    return out_dir


def _read_meta(spark: SparkSession, index_dir: str):
    r = read_parquet_memo(spark, f"{index_dir}/meta").collect()[0]
    return int(r["k"]), int(r["cap"]), int(r["n_buckets"])


def append_to_dedup_index(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> None:
    """Ingest a new corpus batch: O(batch) shingle work + one stats
    probe restricted to the batch's buckets — never a corpus re-shingle.

    The batch's grouped shingles are pinned once (eager localCheckpoint,
    O(batch)); the touched-bucket list is collected driver-side (≤
    n_buckets values — the eager-decision contract) and becomes a
    STATIC partition filter on the shingle_df probe scan, so a small
    batch reads only its slice of the stats table. Cap-crossing
    shingles land in ``dropped_shingles`` (read-time anti-join; folded
    physically by :func:`fold_dedup_index`). Every relation's rows are
    staged and land in one store commit (``add``), so a crash leaves
    the batch absent or whole."""
    k, cap, n_buckets = _read_meta(spark, index_dir)
    e_b = shingle_rows(new_docs, "doc_id", "text", k).withColumnRenamed(
        "shingle", "g"
    )
    gb, new_rows, cross = _batch_decisions(spark, e_b, index_dir, cap, n_buckets)
    stage = begin(index_dir)
    write_table(new_rows, f"{stage}/shingle_index", partition_by=["g_pt"])
    rels = ["shingle_index", "shingle_df", "fingerprints", "doc_sizes"]
    # only materialize the tombstone table when a crossing happened —
    # an empty dir would pin a permanent anti-join into serve plans
    if cross.limit(1).count():
        write_table(cross, f"{stage}/dropped_shingles")
        rels.append("dropped_shingles")
    write_table(
        gb.select("g", F.col("df_b").alias("df"), "g_pt"),
        f"{stage}/shingle_df",
        partition_by=["g_pt"],
    )
    fp_b = (
        new_docs.select(
            doc_fingerprint("text").alias("fp"), F.col("doc_id").alias("cid")
        )
        .withColumn("fp_pt", _hex_bucket(F.col("fp"), n_buckets))
    )
    write_table(fp_b, f"{stage}/fingerprints", partition_by=["fp_pt"])
    sizes_b = e_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    write_table(sizes_b, f"{stage}/doc_sizes")
    commit(index_dir, stage, add=rels)


def _batch_decisions(
    spark, e_b, index_dir: str, cap: int, n_buckets: int, exclude_batch=None
):
    """The append contract's per-batch decisions, shared by the batch
    append above and the streaming writer: pin the batch's grouped
    shingles (eager localCheckpoint, O(batch)), probe the stats table
    — bucket-pruned to the batch's buckets (touched list collected
    driver-side, ≤ n_buckets values — the eager-decision contract) and
    INCLUDING prior streamed stats deltas but never the replaying
    batch's own (``exclude_batch``) — and split on the cap. Returns
    (gb, new_index_rows, crossing_tombstones); decisions are pinned
    (checkpointed) before any caller write mutates what was probed."""
    gb = (
        e_b.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df_b"), F.collect_list("doc_id").alias("cids"))
        .withColumn("g_pt", _bucket(F.col("g"), n_buckets))
        .localCheckpoint(eager=True)
    )
    touched = sorted({r["g_pt"] for r in gb.select("g_pt").distinct().collect()})
    # stats may hold several rows per g (one per prior append/batch)
    # until a fold — SUM them in the probe's own shuffle
    stats = (
        read_with_delta(
            spark, index_dir, "shingle_df", ["g", "df", "g_pt"], exclude_batch
        )
        .where(F.col("g_pt").isin(touched))
        .groupBy("g")
        .agg(F.sum("df").alias("df_m"))
    )
    joined = (
        gb.join(stats.hint("merge"), "g", "left")
        .withColumn("df_m", F.coalesce("df_m", F.lit(0)))
        .localCheckpoint(eager=True)
    )
    total = F.col("df_m") + F.col("df_b")
    new_rows = joined.where(total <= cap).select(
        "g", F.explode("cids").alias("cid"), "g_pt"
    )
    cross = joined.where(
        (total > cap) & (F.col("df_m") >= 1) & (F.col("df_m") <= cap)
    ).select("g")
    return gb, new_rows, cross


def delete_from_dedup_index(
    spark: SparkSession, deleted_docs: DataFrame, index_dir: str
) -> int:
    """Right-to-be-forgotten: remove documents from the index in
    O(deleted batch) — the text twin of `vectors.delete_from_index`.

    ``deleted_docs`` must be the (doc_id, text) rows of currently-LIVE
    indexed docs (the text is required to retract the docs' shingle
    contributions from the UNcapped df statistics — deleting a doc the
    store never indexed would corrupt them).

    Stages, and lands in one store commit:

    1. NEGATIVE (g, -df) rows into ``shingle_df`` for the deleted
       docs' shingles — the stats stay sum-exact, so later appends'
       cap decisions equal a rebuild's;
    2. ``revival_due/`` rows for every shingle whose df falls from
       over-cap BACK to (0, cap] — its surviving docs' postings were
       never stored (capped out at build) or are tombstoned, and only
       a corpus pass can restore them (:func:`revive_shingles`, at
       maintenance cadence — the same "deletes don't retrain" scope
       the ANN store draws);
    3. ``deleted_docs/`` cid tombstones.

    Returns the number of revival-due shingles recorded."""
    k, cap, n_buckets = _read_meta(spark, index_dir)
    e_d = shingle_rows(deleted_docs, "doc_id", "text", k).withColumnRenamed(
        "shingle", "g"
    )
    gd = (
        e_d.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df_d"))
        .withColumn("g_pt", _bucket(F.col("g"), n_buckets))
        .localCheckpoint(eager=True)
    )
    touched = sorted({r["g_pt"] for r in gd.select("g_pt").distinct().collect()})
    stats = (
        read_with_delta(spark, index_dir, "shingle_df", ["g", "df", "g_pt"])
        .where(F.col("g_pt").isin(touched))
        .groupBy("g")
        .agg(F.sum("df").alias("df_m"))
    )
    joined = gd.join(stats.hint("merge"), "g", "left").localCheckpoint(eager=True)
    after = F.coalesce("df_m", F.lit(0)) - F.col("df_d")
    due = joined.where(
        (F.coalesce("df_m", F.lit(0)) > cap) & (after > 0) & (after <= cap)
    ).select("g")
    n_due = due.count()
    stage = begin(index_dir)
    write_table(
        gd.select("g", (-F.col("df_d")).alias("df"), "g_pt"),
        f"{stage}/shingle_df",
        partition_by=["g_pt"],
    )
    rels = ["shingle_df", "deleted_docs"]
    if n_due:
        write_table(due, f"{stage}/revival_due")
        rels.append("revival_due")
    write_table(
        deleted_docs.select(F.col("doc_id").alias("cid")),
        f"{stage}/deleted_docs",
    )
    commit(index_dir, stage, add=rels)
    return int(n_due)


def revive_shingles(
    spark: SparkSession, index_dir: str, corpus_docs: DataFrame
) -> int:
    """Maintenance pass for the reverse cap-crossing: re-index, from
    the live corpus, every shingle a delete dropped back under the cap
    (their survivors' postings were never stored). ``corpus_docs`` is
    the (doc_id, text) LIVE corpus — one tokenize scan restricted to
    the due shingles, O(corpus) at maintenance cadence like the fold.

    One store commit: the fold of :func:`fold_dedup_index` with the due
    shingles' postings replaced by the re-indexed ones and their
    tombstones lifted, plus ``revival_due`` dropped. Returns the number
    of postings re-indexed."""
    recover(index_dir)
    if not tombstoned(index_dir, "revival_due"):
        return 0
    k, _, n_buckets = _read_meta(spark, index_dir)
    due = tombstones(spark, index_dir, "revival_due", "g").distinct().localCheckpoint()
    e = shingle_rows(corpus_docs, "doc_id", "text", k).withColumnRenamed(
        "shingle", "g"
    )
    e = drop_tombstoned(spark, e, index_dir, "deleted_docs", "cid", on="doc_id")
    revived = (
        e.join(due, "g")
        .select("g", F.col("doc_id").alias("cid"))
        .withColumn("g_pt", _bucket(F.col("g"), n_buckets))
        .localCheckpoint(eager=True)
    )
    _fold_commit(spark, index_dir, due=due, revived=revived)
    return int(revived.count())


def stream_append_to_dedup_index(
    spark: SparkSession,
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Drain a (doc_id, text, ...) document STREAM into the index's
    delta tier (`sources.store`) — the text twin of
    `stream_append_to_ivf_flat_index`. Each micro-batch runs the same
    cap-crossing decisions as the batch append, probing the stats
    without its own batch's rows, so a replayed batch decides from
    exactly the pre-batch state and lands identical rows in every
    delta relation. :func:`fold_dedup_index` absorbs the deltas at
    maintenance."""
    k, cap, n_buckets = _read_meta(spark, index_dir)

    def write_batch(df, bpt: str) -> None:
        e_b = shingle_rows(df, "doc_id", "text", k).withColumnRenamed(
            "shingle", "g"
        )
        gb, new_rows, cross = _batch_decisions(
            spark, e_b, index_dir, cap, n_buckets, exclude_batch=bpt
        )
        write_delta_batch(new_rows, index_dir, "shingle_index", bpt, "g_pt")
        # deterministic decisions => skip-if-empty is replay-safe (a
        # replayed batch recomputes the same emptiness)
        if cross.limit(1).count():
            write_delta_batch(cross, index_dir, "dropped_shingles", bpt)
        write_delta_batch(
            gb.select("g", F.col("df_b").alias("df"), "g_pt"),
            index_dir,
            "shingle_df",
            bpt,
            "g_pt",
        )
        fp_b = (
            df.select(
                doc_fingerprint("text").alias("fp"), F.col("doc_id").alias("cid")
            )
            .withColumn("fp_pt", _hex_bucket(F.col("fp"), n_buckets))
        )
        write_delta_batch(fp_b, index_dir, "fingerprints", bpt, "fp_pt")
        sizes_b = e_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        write_delta_batch(sizes_b, index_dir, "doc_sizes", bpt)

    stream_to_delta(
        doc_stream, index_dir, checkpoint_dir, write_batch, "dedup_index_append", timeout_sec
    )


def read_dedup_shingle_index(
    spark: SparkSession, index_dir: str, with_bucket: bool = False
) -> DataFrame:
    """(g, cid) postings — main ∪ streamed delta — with pending
    tombstones anti-joined — a plan no-op while no tombstone table
    exists (the common state), so serve plans are bare index scans
    until a cap-crossing lands. The tombstone side is a real file
    scan, so Catalyst's size estimate is accurate and the small-table
    broadcast happens on its own — no hint needed (this is NOT the
    estimate-blind class)."""
    cols = ["g", "cid"] + (["g_pt"] if with_bucket else [])
    idx = read_with_delta(spark, index_dir, "shingle_index", cols)
    idx = drop_tombstoned(spark, idx, index_dir, "dropped_shingles", "g")
    return drop_tombstoned(spark, idx, index_dir, "deleted_docs", "cid")


def read_dedup_fingerprints(spark: SparkSession, index_dir: str) -> DataFrame:
    """(fp, fp_pt), main ∪ streamed delta, deleted docs' rows anti-
    joined out. Stored per-doc (one row per live doc), so it may
    contain duplicates — callers use it as a semi-join side, where
    duplicates are harmless; set-shaped consumers must ``.distinct()``.
    A fingerprint SHARED by a deleted and a live doc correctly
    survives: only the deleted doc's row dies."""
    fp = read_with_delta(spark, index_dir, "fingerprints", ["fp", "cid", "fp_pt"])
    fp = drop_tombstoned(spark, fp, index_dir, "deleted_docs", "cid")
    return fp.select("fp", "fp_pt")


def read_dedup_doc_sizes(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, n) distinct-shingle counts for every LIVE indexed doc
    (main ∪ streamed delta, deleted docs anti-joined out)."""
    sz = read_with_delta(spark, index_dir, "doc_sizes", ["doc_id", "n"])
    return drop_tombstoned(spark, sz, index_dir, "deleted_docs", "cid", on="doc_id")


def fold_dedup_index(spark: SparkSession, index_dir: str) -> None:
    """Maintenance fold: rewrite every relation from main ∪ streamed
    delta with the tombstones applied physically — postings minus dead
    shingles and deleted docs, per-append stats rows collapsed to one
    (g, df), a deduped fingerprint set — and drop every delta and
    tombstone dir, all in one store commit; reads are bare scans again
    afterwards. O(store) at maintenance cadence, exactly like
    `compact_index_cells` for the ANN stores."""
    _fold_commit(spark, index_dir)


def _fold_commit(spark, index_dir: str, due=None, revived=None) -> None:
    """The fold as one store commit. With ``due`` (g) and ``revived``
    (g, cid, g_pt) it is also the revival: postings and tombstones of
    the due shingles are replaced by the re-indexed rows."""
    idx = read_dedup_shingle_index(spark, index_dir, with_bucket=True)
    if due is not None:
        idx = idx.join(due, "g", "left_anti").unionByName(revived)
    # negative delete-retraction rows sum away here; a shingle whose
    # live df reached 0 drops its stats row entirely (rebuild parity)
    stats = (
        read_with_delta(spark, index_dir, "shingle_df", ["g", "df", "g_pt"])
        .groupBy("g", "g_pt")
        .agg(F.sum("df").cast("long").alias("df"))
        .where(F.col("df") != 0)
        .select("g", "df", "g_pt")
    )
    fp = read_with_delta(spark, index_dir, "fingerprints", ["fp", "cid", "fp_pt"])
    fp = drop_tombstoned(spark, fp, index_dir, "deleted_docs", "cid")
    sizes = read_dedup_doc_sizes(spark, index_dir)
    stage = begin(index_dir)
    write_table(idx, f"{stage}/shingle_index", partition_by=["g_pt"])
    write_table(stats, f"{stage}/shingle_df", partition_by=["g_pt"])
    write_table(fp.distinct(), f"{stage}/fingerprints", partition_by=["fp_pt"])
    write_table(sizes, f"{stage}/doc_sizes")
    drop = [f"{rel}_delta" for rel in DEDUP_DELTA_RELS]
    drop += ["dropped_shingles", "dropped_shingles_delta", "deleted_docs"]
    # pending revival_due survives a plain fold: clearing it needs the
    # live corpus (revive_shingles), and the store holds no texts
    if due is not None:
        drop.append("revival_due")
    commit(
        index_dir,
        stage,
        replace=["shingle_index", "shingle_df", "fingerprints", "doc_sizes"],
        drop=drop,
    )


# --- served-store cache (same contract as vectors.served_index_dir):
# one build per (sf_dir, corpus fingerprint) per process; the bench
# warmup pre-builds it so `documents_stream_dedup_status` measures
# serve latency, the number the store exists to make small.
_SERVED_DEDUP: dict[tuple, str] = {}


def served_dedup_index_dir(spark: SparkSession, sf_dir: str) -> str:
    from udacity_dend_capstone_immigration_spark.workload.vectors import _corpus_fingerprint

    key = (sf_dir, _corpus_fingerprint(sf_dir, "documents"))
    d = _SERVED_DEDUP.get(key)
    if d is None or not os.path.isdir(f"{d}/shingle_index"):
        docs = table(spark, sf_dir, "documents").where(
            F.col("doc_id") % _INC_MOD != 0
        )
        d = build_dedup_index(
            spark, docs, tempfile.mkdtemp(prefix="dedup_index_")
        )
        _SERVED_DEDUP[key] = d
    return d


# --- roundtrip queries: per-bucket aggregation of every store relation,
# grouped by the PERSISTED partition values (g_pt / fp_pt), so a row
# landing in the wrong directory fails the hash compare, not just a
# wrong value. 8-hex md5-prefix sums keep the checksums inside BIGINT
# headroom out to ~1e9 postings per bucket.

_H8 = "CAST(('0x' || substring({x}, 1, 8)) AS BIGINT)"


def _agg_oracle(
    cap: int, corpus_pred: str, extra_cols: str = "", fp_per_doc: bool = False
) -> str:
    fp_distinct = "" if fp_per_doc else "DISTINCT "
    return f"""
    WITH sh AS ({SHINGLES}),
    e AS (SELECT doc_id, unnest(shingles) AS g FROM sh WHERE {corpus_pred}),
    grp AS (SELECT g, COUNT(*) AS df FROM e GROUP BY g),
    idx AS (SELECT e.g, e.doc_id AS cid FROM e JOIN grp USING (g)
            WHERE grp.df <= {cap}),
    ia AS (SELECT CAST(CAST(('0x' || substring(md5(g), 1, 4)) AS BIGINT)
                       % {N_SHINGLE_BUCKETS} AS INT) AS part,
                  CAST(COUNT(*) AS BIGINT) AS idx_rows,
                  CAST(SUM({_H8.format(x='md5(g)')}) AS BIGINT) AS idx_gsum,
                  CAST(SUM(cid) AS BIGINT) AS idx_cidsum
           FROM idx GROUP BY 1),
    fps AS (SELECT {fp_distinct}md5({NORM}) AS fp FROM documents WHERE {corpus_pred}),
    fa AS (SELECT CAST(CAST(('0x' || substring(fp, 1, 4)) AS BIGINT)
                       % {N_SHINGLE_BUCKETS} AS INT) AS part,
                  CAST(COUNT(*) AS BIGINT) AS fp_rows,
                  CAST(SUM({_H8.format(x='fp')}) AS BIGINT) AS fp_hsum
           FROM fps GROUP BY 1),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE {corpus_pred}),
    sa AS (SELECT CAST(doc_id % {N_SHINGLE_BUCKETS} AS INT) AS part,
                  CAST(COUNT(*) AS BIGINT) AS sz_rows,
                  CAST(SUM(n) AS BIGINT) AS sz_nsum
           FROM sz GROUP BY 1)
    SELECT part,
           COALESCE(idx_rows, 0) AS idx_rows,
           COALESCE(idx_gsum, 0) AS idx_gsum,
           COALESCE(idx_cidsum, 0) AS idx_cidsum,
           COALESCE(fp_rows, 0) AS fp_rows,
           COALESCE(fp_hsum, 0) AS fp_hsum,
           COALESCE(sz_rows, 0) AS sz_rows,
           COALESCE(sz_nsum, 0) AS sz_nsum{extra_cols}
    FROM ia FULL JOIN fa USING (part) FULL JOIN sa USING (part)
    """


def _h8_spark(col):
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("long")


def _index_aggregate(
    spark: SparkSession, index_dir: str, distinct_fp: bool = True
) -> DataFrame:
    idx = read_dedup_shingle_index(spark, index_dir, with_bucket=True)
    ia = (
        idx.groupBy(F.col("g_pt").cast("int").alias("part"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("idx_rows"),
            F.sum(_h8_spark(F.md5("g"))).cast("long").alias("idx_gsum"),
            F.sum("cid").cast("long").alias("idx_cidsum"),
        )
    )
    fp = read_dedup_fingerprints(spark, index_dir)
    if distinct_fp:
        fp = fp.select("fp", "fp_pt").distinct()
    fa = (
        fp.groupBy(F.col("fp_pt").cast("int").alias("part"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("fp_rows"),
            F.sum(_h8_spark(F.col("fp"))).cast("long").alias("fp_hsum"),
        )
    )
    sa = (
        read_dedup_doc_sizes(spark, index_dir)
        .groupBy((F.col("doc_id") % N_SHINGLE_BUCKETS).cast("int").alias("part"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz_rows"),
            F.sum("n").cast("long").alias("sz_nsum"),
        )
    )
    out = ia.join(fa, "part", "full").join(sa, "part", "full")
    fill = {
        c: 0
        for c in (
            "idx_rows",
            "idx_gsum",
            "idx_cidsum",
            "fp_rows",
            "fp_hsum",
            "sz_rows",
            "sz_nsum",
        )
    }
    return out.fillna(fill)


_CORPUS_PRED = f"doc_id % {_INC_MOD} != 0"
#: The testdata's 3-gram dfs top out far under the production cap (max
#: 7 at sf0.01, 23 at sf0.1 — measured), so the append/fold roundtrips
#: build with a tighter cap to make cap-CROSSINGS real: at cap=4 the
#: sf0.01 split below produces 43 tombstoned shingles and 14
#: already-over drops. The cap is a store parameter read from meta/,
#: not a code fork — serving stores keep `_NGRAM_SHINGLE_CAP`.
_APPEND_CAP = 4


def _is_batch():  # 1/3 of the corpus plays the append batch
    return F.col("doc_id") % 3 == 1


@query(
    "dedup_index_build_roundtrip",
    oracle=_agg_oracle(_NGRAM_SHINGLE_CAP, _CORPUS_PRED),
)
def dedup_index_build_roundtrip(spark, sf_dir):
    """Build the text-dedup store into a FRESH dir (full tokenize ->
    cap -> write path every invocation) and aggregate every read-back
    relation per persisted bucket; the oracle recomputes the same
    checksums from the shingle CTEs, so the driver's hash compare
    proves postings, fingerprint set, doc sizes AND the md5-bucket
    partition layout — the build half of the train-once/serve-many
    contract (`documents_stream_dedup_status` serves from this store)."""
    out = build_dedup_index(
        spark,
        table(spark, sf_dir, "documents").where(F.col("doc_id") % _INC_MOD != 0),
        tempfile.mkdtemp(prefix="dedupidx_build_"),
    )
    return _index_aggregate(spark, out)


@query(
    "dedup_index_append_roundtrip",
    oracle=_agg_oracle(_APPEND_CAP, _CORPUS_PRED),
)
def dedup_index_append_roundtrip(spark, sf_dir):
    """Build on 2/3 of the corpus, append the remaining 1/3, aggregate
    the read-back store WITH tombstones applied. The oracle is the
    FULL-REBUILD aggregation over the united corpus — so the hash
    compare proves append-equals-rebuild exactly, including the
    retraction of shingles the append pushed over the cap (43 of them
    at sf0.01 with the roundtrip cap of 4)."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _INC_MOD != 0
    )
    out = build_dedup_index(
        spark,
        docs.where(~_is_batch()),
        tempfile.mkdtemp(prefix="dedupidx_append_"),
        cap=_APPEND_CAP,
    )
    append_to_dedup_index(spark, docs.where(_is_batch()), out)
    return _index_aggregate(spark, out)


@query(
    "documents_stream_index_append",
    oracle=_agg_oracle(_APPEND_CAP, _CORPUS_PRED),
)
def documents_stream_index_append(spark, sf_dir):
    """Streaming corpus ingestion with live dedup-index maintenance:
    build on 2/3 of the corpus, drain the remaining 1/3 as a document
    STREAM through `stream_append_to_dedup_index` (exactly-once,
    lineage-addressed delta batches; cap-crossings decided against
    main + prior deltas), then aggregate the main ∪ delta serving view
    with tombstones applied. Same FULL-REBUILD oracle as the batch
    append roundtrip — the hash compare proves the streamed landing is
    value-equal to a from-scratch rebuild on the union, exactly the
    guarantee `embeddings_stream_index_append` gives the ANN store."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _INC_MOD != 0
    )
    out = build_dedup_index(
        spark,
        docs.where(~_is_batch()),
        tempfile.mkdtemp(prefix="dedupidx_stream_"),
        cap=_APPEND_CAP,
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .where((F.col("doc_id") % _INC_MOD != 0) & _is_batch())
        .select("doc_id", "text")
    )
    stream_append_to_dedup_index(
        spark, stream, out, tempfile.mkdtemp(prefix="ck_dedup_append_")
    )
    return _index_aggregate(spark, out)


def classify_batch_against_index(
    spark: SparkSession, index_dir: str, batch: DataFrame
) -> DataFrame:
    """Classify ``batch`` (doc_id, text, ...) against the PERSISTED
    dedup index: exact via fingerprint semi-join, near via
    batch-shingles ⋈ capped postings → one (nid, cid) intersection
    count → Jaccard against store doc sizes. Every static side is a
    bare store scan; the only corpus-table work is the batch. Returns
    (doc_id, status ∈ exact_dup|near_dup|unique). Shared by the
    backfill serve twin below and the end-to-end pipeline composition
    (`workload/pipeline.py`)."""
    cke = read_dedup_shingle_index(spark, index_dir)
    corp_fp = read_dedup_fingerprints(spark, index_dir).select("fp")
    exact = (
        batch.select("doc_id", doc_fingerprint("text").alias("fp"))
        .join(corp_fp, "fp", "leftsemi")
        .select("doc_id", F.lit(2).alias("_p"))
    )
    # The batch-shingle relation stays FLAT (explode + dropDuplicates +
    # a separate map-combinable za count aggregate), the pre-r16 shape.
    # An earlier r16 "one-pass" rewrite derived ``na`` by carrying it
    # through a re-explode of shingle_sets' grouped ARRAYS — one fewer
    # subtree on paper, but the collect_set shuffle moves per-doc array
    # payloads instead of flat (nid, g) rows, exactly the
    # grouped-list-frame anti-pattern CLAUDE.md bans: A/B'd r16 on the
    # 100× corpus (/tmp/dedup_extrap/x100, same session, interleaved),
    # the grouped shape read 5.4-33s warm where this flat shape read
    # 2.2-6.9s; at sf0.1 the two are within noise (1.25 vs 1.44). The
    # merge hint stays: the batch side is explode-inflated
    # (estimate-blind) and a backfill batch is NOT broadcast-bounded.
    ne = shingle_rows(batch, "doc_id", "text", 3).withColumnRenamed(
        "shingle", "g"
    )
    inter = (
        ne.select(F.col("doc_id").alias("nid"), "g")
        .hint("merge")
        .join(cke, "g")
        .groupBy("nid", "cid")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    za = (
        ne.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("na"))
        .withColumnRenamed("doc_id", "nid")
    )
    zb = read_dedup_doc_sizes(spark, index_dir).select(
        F.col("doc_id").alias("cid"), F.col("n").alias("nb")
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    near = (
        inter.join(za.hint("merge"), "nid")
        .join(zb, "cid")
        .where(jac >= 0.5)
        .select(F.col("nid").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(1).alias("_p"))
    )
    # status assembly as ONE union + max-priority aggregate (exact=2
    # beats near=1 beats base=0 — same precedence as the old CASE over
    # two left joins) instead of three merge-hinted SMJs: one exchange
    # on doc_id total (guide §2.4).
    pri = (
        batch.select("doc_id", F.lit(0).alias("_p"))
        .unionByName(exact)
        .unionByName(near)
    )
    return (
        pri.groupBy("doc_id")
        .agg(F.max("_p").alias("_p"))
        .select(
            "doc_id",
            F.when(F.col("_p") == 2, F.lit("exact_dup"))
            .when(F.col("_p") == 1, F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


def _register_served_status():
    from udacity_dend_capstone_immigration_spark.workload.base import ORACLES

    @query(
        "dedup_incremental_status_served",
        oracle=ORACLES["documents_stream_dedup_status"],
    )
    def dedup_incremental_status_served(spark, sf_dir):
        """BATCH classification of an arriving batch against the
        PERSISTED dedup index — the backfill twin of
        `documents_stream_dedup_status` (same oracle, same store, no
        micro-batch machinery): `classify_batch_against_index` over
        the pushed doc_id%7=0 slice. This is the path a reprocessing
        job takes when the stream checkpoint is gone — value-identical
        by construction, hash-proven by the shared oracle."""
        docs = table(spark, sf_dir, "documents")
        batch = docs.where(F.col("doc_id") % _INC_MOD == 0)
        idx_dir = served_dedup_index_dir(spark, sf_dir)
        return classify_batch_against_index(spark, idx_dir, batch)


_register_served_status()


@query(
    "dedup_index_fold_roundtrip",
    oracle=_agg_oracle(
        _APPEND_CAP,
        _CORPUS_PRED,
        extra_cols=", CAST(0 AS INT) AS pending_tombstones",
        fp_per_doc=True,
    ),
)
def dedup_index_fold_roundtrip(spark, sf_dir):
    """Append then FOLD, and aggregate the raw store with NO logical
    tombstone application and NO fingerprint distinct — same oracle as
    the append roundtrip (fp side per-LIVE-doc, the post-delete-tier
    layout), so the compare proves the fold applied every tombstone
    physically and left exactly one (fp, cid) row per live doc; the
    pending_tombstones column pins that the tombstone table itself was
    cleared (plan no-op restored for serves)."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _INC_MOD != 0
    )
    out = build_dedup_index(
        spark,
        docs.where(~_is_batch()),
        tempfile.mkdtemp(prefix="dedupidx_fold_"),
        cap=_APPEND_CAP,
    )
    append_to_dedup_index(spark, docs.where(_is_batch()), out)
    fold_dedup_index(spark, out)
    pending = int(tombstoned(out, "dropped_shingles"))
    return _index_aggregate(spark, out, distinct_fp=False).withColumn(
        "pending_tombstones", F.lit(pending).cast("int")
    )


_SURVIVOR_PRED = f"{_CORPUS_PRED} AND doc_id % 5 != 1"


@query(
    "dedup_index_delete_roundtrip",
    oracle=_agg_oracle(
        _NGRAM_SHINGLE_CAP,
        _SURVIVOR_PRED,
        extra_cols=", CAST(0 AS INT) AS pending_revivals",
    ),
)
def dedup_index_delete_roundtrip(spark, sf_dir):
    """Right-to-be-forgotten roundtrip: build the store on the corpus,
    DELETE one doc in five, aggregate the serving view. The oracle is
    the FULL-REBUILD aggregation over the SURVIVORS — the hash compare
    proves postings, per-doc fingerprints (a fingerprint shared with a
    live doc survives; one held only by deleted docs disappears) and
    doc sizes all equal a store that never saw the deleted docs. At the
    production cap no shingle df exceeds the cap on this corpus, so no
    reverse crossing is possible — pending_revivals pins that the
    delete recorded none (the revival path has its own roundtrip)."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _INC_MOD != 0
    )
    out = build_dedup_index(
        spark, docs, tempfile.mkdtemp(prefix="dedupidx_delete_")
    )
    delete_from_dedup_index(
        spark, docs.where(F.col("doc_id") % 5 == 1).select("doc_id", "text"), out
    )
    pending = int(tombstoned(out, "revival_due"))
    return _index_aggregate(spark, out).withColumn(
        "pending_revivals", F.lit(pending).cast("int")
    )


@query(
    "dedup_index_revive_roundtrip",
    oracle=_agg_oracle(
        _APPEND_CAP,
        _SURVIVOR_PRED,
        extra_cols=", CAST(0 AS INT) AS pending_revivals",
    ),
)
def dedup_index_revive_roundtrip(spark, sf_dir):
    """The REVERSE cap-crossing closed: at the tight roundtrip cap the
    corpus has shingles over the cap (postings never stored), and
    deleting one doc in five drops some of them back inside it — their
    SURVIVORS' postings exist nowhere in the store and only a corpus
    pass can restore them. delete records them in revival_due;
    revive_shingles re-indexes exactly those shingles from the live
    corpus (idempotent under crash re-runs). Oracle = full rebuild on
    the survivors at the same cap, so the hash compare proves
    delete + revive ≡ rebuild INCLUDING the revived postings — the
    mirror image of the append roundtrip's forward-crossing proof."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _INC_MOD != 0
    )
    out = build_dedup_index(
        spark,
        docs,
        tempfile.mkdtemp(prefix="dedupidx_revive_"),
        cap=_APPEND_CAP,
    )
    live = docs.where(F.col("doc_id") % 5 != 1)
    delete_from_dedup_index(
        spark, docs.where(F.col("doc_id") % 5 == 1).select("doc_id", "text"), out
    )
    revive_shingles(spark, out, live.select("doc_id", "text"))
    pending = int(tombstoned(out, "revival_due"))
    return _index_aggregate(spark, out).withColumn(
        "pending_revivals", F.lit(pending).cast("int")
    )


# --- maintenance trigger (the vectors.maintenance_due twin for this
# store): the fold unit here is the WHOLE delta set — fold_dedup_index
# absorbs every relation's batches and applies tombstones in one pass —
# so the policy reports one fold decision, due when ANY relation's
# delta holds min_delta_batches pending batches OR tombstones are
# pending (text tombstones are folded, not compacted, so unlike the
# ANN stores they DO drive the fold here).
DEDUP_DELTA_RELS = ("shingle_index", "shingle_df", "fingerprints", "doc_sizes")


def dedup_maintenance_due(index_dir: str, min_delta_batches: int = 4) -> dict:
    """Filesystem-metadata fold trigger for the text-dedup store (no
    Spark job — pollable every ingest batch for free). Unit = PENDING
    BATCHES per relation, same calibration rationale as
    `vectors.maintenance_due` (a file-count ratio fires after one
    bucketed batch — the delta the trigger should leave in place)."""
    recover(index_dir)
    batches = pending(index_dir, DEDUP_DELTA_RELS)
    crossing = [rel for rel, n in batches.items() if n >= min_delta_batches]
    tomb = tombstoned(index_dir, "dropped_shingles")
    # doc tombstones (right-to-be-forgotten deletes): the fold applies
    # them physically, so they count toward due exactly like shingle
    # tombstones (r14 — the policy previously missed them)
    doc_tomb = tombstoned(index_dir, "deleted_docs")
    # reverse cap-crossings awaiting re-index: REPORT-ONLY — clearing
    # them (`revive_shingles`) needs the live corpus, a job the poller
    # schedules explicitly, like ANN tombstone compaction
    revival = tombstoned(index_dir, "revival_due")
    return {
        "due": bool(crossing) or tomb or doc_tomb,
        "crossing": crossing,
        "pending_tombstones": tomb,
        "pending_doc_tombstones": doc_tomb,
        "pending_revival": revival,
        "pending": batches,
    }


def run_dedup_maintenance(spark: SparkSession, index_dir: str, **thresholds) -> bool:
    """Fold when due; returns whether a fold ran."""
    if dedup_maintenance_due(index_dir, **thresholds)["due"]:
        fold_dedup_index(spark, index_dir)
        return True
    return False
