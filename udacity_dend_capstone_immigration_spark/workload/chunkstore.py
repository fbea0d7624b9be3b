"""Persisted CHUNK store + chunk-grain retrieval — STAGED r16 for the
r17 window (the r16 correctness window is full at 50; stage-gates in
``tests/test_chunkstore.py`` prove every oracle cross-engine first,
the r14→r15→r16 staging pattern).

The r15 verdict's "What's missing #3" named the gap: ``doc_chunking``
emits chunk-grain rows but nothing downstream consumed them beyond
stats. This module makes the chunk tier a SERVED pipeline citizen,
the same train-once/serve-many contract every other expensive
artifact in this repo carries (CLAUDE.md):

- ``build_chunk_store`` persists the chunk relation partitioned by
  the chunk hash's OWN md5-prefix bucket (``_hex_bucket`` discipline —
  never md5-of-md5), so chunk-hash probes (boilerplate lookups,
  cross-corpus chunk joins) prune to one directory in 32.
- ``append_to_chunk_store`` ingests a new corpus batch O(batch): the
  chunk relation is per-chunk rows with no cross-doc aggregate state,
  so append is chunk-the-batch + partitioned append — no probe phase,
  no cap tombstones; append ≡ rebuild BY CONSTRUCTION, and the
  roundtrip query proves it value-exactly anyway.
- ``chunk_boilerplate_served`` re-derives the boilerplate report from
  the STORE alone — training-free serve twin of
  ``chunk_boilerplate_windows`` (shares its oracle): no tokenize, no
  chunk explode, no Generate in the plan, just a bare store scan +
  one md5-sized aggregate.
- ``chunk_tf_knn`` closes the chunk→vector→retrieval composition:
  hashed-TF (feature-hashing trick, the ``doc_feature_hashing``
  discipline at chunk grain) cosine top-3 corpus chunks per query
  chunk. ALL similarity arithmetic is exact BIGINT (dot product and
  squared norms of integer term frequencies) until one final
  per-row double division — bit-portable across engines with no
  rounding contract needed.

Scale posture: the store shuffles 32-char md5s + int offsets, never
text; the retrieval query's corpus side is one linear scan (the
brute-force serving baseline, same contract as ``knn_brute_force``
— the ANN store tier is the scale path for big query batches) and
its query side is bounded by the serving batch (broadcast).
"""

from __future__ import annotations

from udacity_dend_capstone_immigration_spark.workload.base import read_parquet_memo
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.operators.curation import (
    chunk_documents,
    chunk_token_rows,
)
from udacity_dend_capstone_immigration_spark.sources.readers import local_frame
from udacity_dend_capstone_immigration_spark.sources.store import (
    begin,
    commit,
    drop_tombstoned,
    fold_delta,
    pending,
    read_with_delta,
    recover,
    stream_to_delta,
    tombstoned,
    tombstones,
    write_delta_batch,
)
from udacity_dend_capstone_immigration_spark.sources.writers import write_table
from udacity_dend_capstone_immigration_spark.workload.base import table
from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
    _h8_spark,
    _hex_bucket,
)
from udacity_dend_capstone_immigration_spark.workload.textops import (
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    TOKS,
)

#: md5-prefix partition fan-out for the chunk relation; mirrors the
#: dedup store's choice (local parallelism; a 100 TB corpus raises it
#: at build time — the value is stored in meta/ and read back).
N_CHUNK_BUCKETS = 32

#: Hashed-TF dimensionality for chunk vectors. 256 over 64-token
#: windows keeps vectors sparse (~50 live buckets) so hash collisions
#: stay rare while the bucket equi-join fan-out stays bounded.
_CFH_DIM = 256


def build_chunk_store(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    size: int = _CHUNK_SIZE,
    stride: int = _CHUNK_STRIDE,
    n_buckets: int = N_CHUNK_BUCKETS,
) -> str:
    """Chunk ``docs`` (doc_id, text) and persist the chunk relation
    partitioned by the hash's own hex prefix. One zero-shuffle chunk
    build + one partitioned write; rows carry offsets + md5, never
    bodies."""
    ch = chunk_documents(docs, "doc_id", "text", size=size, stride=stride)
    ch = ch.withColumn("h_pt", _hex_bucket(F.col("chunk_hash"), n_buckets))
    write_table(ch, f"{out_dir}/chunks", partition_by=["h_pt"])
    meta = local_frame(
        spark, [(size, stride, n_buckets)], "size int, stride int, n_buckets int"
    )
    write_table(meta, f"{out_dir}/meta")
    return out_dir


def _read_meta(spark: SparkSession, store_dir: str) -> tuple[int, int, int]:
    r = read_parquet_memo(spark, f"{store_dir}/meta").collect()[0]
    return int(r["size"]), int(r["stride"]), int(r["n_buckets"])


def append_to_chunk_store(
    spark: SparkSession, new_docs: DataFrame, store_dir: str
) -> None:
    """O(batch) ingest: chunk the batch under the STORED size/stride
    (a drifted parameter would silently fork the window grid — meta is
    the single source of truth) and append partitioned rows. No probe
    phase: the relation has no cross-doc aggregate state, so append ≡
    rebuild by construction. The rows land in one staged store commit
    (``add``): a crash leaves the batch absent or whole."""
    stage = begin(store_dir)
    size, stride, n_buckets = _read_meta(spark, store_dir)
    ch = chunk_documents(new_docs, "doc_id", "text", size=size, stride=stride)
    ch = ch.withColumn("h_pt", _hex_bucket(F.col("chunk_hash"), n_buckets))
    write_table(ch, f"{stage}/chunks", partition_by=["h_pt"])
    commit(store_dir, stage, add=["chunks"])


#: the chunk relation's data columns (h_pt rides as the partition key)
_CHUNK_COLS = ("doc_id", "chunk_idx", "start_tok", "n_tokens", "chunk_hash", "h_pt")


def read_chunk_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The full chunk relation: main ∪ pending streamed delta batches,
    both partition-prunable on h_pt."""
    return read_with_delta(spark, store_dir, "chunks", _CHUNK_COLS)


def stream_append_to_chunk_store(
    spark: SparkSession,
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Drain a (doc_id, text, ...) document STREAM into the chunk
    store's delta tier with exactly-once semantics. Chunking params
    come from meta/ (the frozen-parameter append contract); serving
    reads main ∪ delta until :func:`fold_chunk_store_delta` compacts."""
    size, stride, n_buckets = _read_meta(spark, store_dir)

    def write_batch(df, bpt: str) -> None:
        ch = chunk_documents(df, "doc_id", "text", size=size, stride=stride)
        ch = ch.withColumn("h_pt", _hex_bucket(F.col("chunk_hash"), n_buckets))
        write_delta_batch(ch, store_dir, "chunks", bpt, "h_pt")

    stream_to_delta(
        stream_docs, store_dir, checkpoint_dir, write_batch, "chunk_store_append", timeout_sec
    )


def fold_chunk_store_delta(spark: SparkSession, store_dir: str) -> bool:
    """Minor compaction: fold pending delta batches into the main
    partitioned relation in one store commit. Returns whether a batch
    was pending."""
    return fold_delta(spark, store_dir, "chunks", _CHUNK_COLS, "h_pt")


def delete_docs_from_chunk_store(
    spark: SparkSession, store_dir: str, doc_ids: DataFrame
) -> None:
    """Right-to-be-forgotten at chunk grain: add the doc ids to the
    tombstone table in one staged store commit (O(batch) — no store
    rewrite on the delete path; a crash leaves the delete absent or
    whole). Serving reads go through :func:`read_chunk_store_served`,
    whose anti-join is a plan no-op while no delete has ever landed
    (the `apply_tombstones` discipline); the physical purge is
    :func:`fold_chunk_store_tombstones`, run at maintenance cadence."""
    dead = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
    stage = begin(store_dir)
    write_table(dead, f"{stage}/deleted_docs")
    commit(store_dir, stage, add=["deleted_docs"])


def read_chunk_store_served(spark: SparkSession, store_dir: str) -> DataFrame:
    """The serving view: chunks minus tombstoned documents. When the
    tombstone table is ABSENT (the common case), the plan is a bare
    store scan — pinned serving plans stay unchanged until a delete
    actually lands."""
    ch = read_chunk_store(spark, store_dir)
    return drop_tombstoned(spark, ch, store_dir, "deleted_docs", "doc_id")


def fold_chunk_store_tombstones(spark: SparkSession, store_dir: str) -> None:
    """Physically purge tombstoned documents. The relation is
    hash-partitioned (h_pt from the chunk hash), so a deleted doc's
    chunks scatter — but only across min(its chunk count, n_buckets)
    partitions: the affected h_pt list is computed from the tombstone
    semi-join and COLLECTED (≤ n_buckets values, the eager-decision
    contract), the affected partitions' survivors are staged in one
    write, and one store commit replaces each affected partition,
    drops every partition the purge EMPTIED (dynamic partition
    overwrite only replaces partitions PRESENT in the written data, so
    an emptied one would resurrect) and drops the tombstones."""
    recover(store_dir)
    if not tombstoned(store_dir, "deleted_docs"):
        return
    # pending streamed delta first (its own commit): the purge rewrites
    # MAIN partitions only, and a dead doc still sitting in an unfolded
    # delta would resurrect once the tombstones are dropped
    fold_chunk_store_delta(spark, store_dir)
    dead = tombstones(spark, store_dir, "deleted_docs", "doc_id").distinct()
    ch = read_parquet_memo(spark, f"{store_dir}/chunks")
    affected = sorted(
        r["h_pt"]
        for r in ch.join(dead, "doc_id", "left_semi")
        .select("h_pt")
        .distinct()
        .collect()
    )
    stage = begin(store_dir)
    survivors = ch.where(F.col("h_pt").isin(affected)).join(dead, "doc_id", "left_anti")
    write_table(survivors, f"{stage}/chunks", partition_by=["h_pt"])
    parts = [f"chunks/h_pt={pt}" for pt in affected]
    commit(
        store_dir,
        stage,
        replace=[p for p in parts if os.path.isdir(f"{stage}/{p}")],
        drop=[p for p in parts if not os.path.isdir(f"{stage}/{p}")]
        + ["deleted_docs"],
    )


#: (sf_dir, corpus fingerprint) -> built store dir; the serve twins
#: measure SERVE latency, not the build (the served_index_dir pattern).
_SERVED_CHUNKS: dict = {}


def served_chunk_store_dir(spark: SparkSession, sf_dir: str) -> str:
    from udacity_dend_capstone_immigration_spark.workload.vectors import (
        _corpus_fingerprint,
    )

    key = (sf_dir, _corpus_fingerprint(sf_dir, "documents"))
    d = _SERVED_CHUNKS.get(key)
    if d is None or not os.path.isdir(f"{d}/chunks"):
        d = build_chunk_store(
            spark,
            table(spark, sf_dir, "documents"),
            tempfile.mkdtemp(prefix="chunk_store_"),
        )
        _SERVED_CHUNKS[key] = d
    return d


# ---------------------------------------------------------------------------
# Roundtrip aggregate: per PERSISTED partition value, so a row landing
# in the wrong directory fails the driver's hash compare, not just a
# wrong value (the dedupstore _index_aggregate discipline).


def _store_aggregate(
    spark: SparkSession, store_dir: str, served: bool = False
) -> DataFrame:
    ch = (
        read_chunk_store_served(spark, store_dir)
        if served
        else read_chunk_store(spark, store_dir)
    )
    return ch.groupBy(F.col("h_pt").cast("int").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(_h8_spark(F.col("chunk_hash"))).cast("long").alias("hash_sum"),
        F.sum("doc_id").cast("long").alias("doc_sum"),
        F.sum("start_tok").cast("long").alias("start_sum"),
        F.sum("n_tokens").cast("long").alias("tok_sum"),
    )


def _chunk_rows_cte(pred: str, p: str = "") -> str:
    """DuckDB CTE chain producing the full per-chunk relation (final
    CTE: ``{p}chh``) over ``documents WHERE pred`` — the doc_chunking
    oracle's chain with a corpus predicate injected (size/stride from
    the same constants, so a parameter change propagates everywhere at
    once). ``p`` prefixes every CTE name so two chains (corpus +
    batch) can splice into one oracle without collisions."""
    return f"""
    {p}t AS (
        SELECT doc_id, {TOKS} AS toks FROM documents WHERE {pred}
    ),
    {p}tt AS (
        SELECT doc_id, toks, len(toks) AS nt FROM {p}t WHERE len(toks) > 0
    ),
    {p}nc AS (
        SELECT doc_id, toks, nt,
               CASE WHEN nt <= {_CHUNK_SIZE} THEN 1
                    ELSE CAST(((nt - {_CHUNK_SIZE} + {_CHUNK_STRIDE - 1})
                               - ((nt - {_CHUNK_SIZE} + {_CHUNK_STRIDE - 1})
                                  % {_CHUNK_STRIDE}))
                              / {_CHUNK_STRIDE} AS INT) + 1 END AS n_chunks
        FROM {p}tt
    ),
    {p}ch AS (
        SELECT doc_id,
               CAST(k AS INT) AS chunk_idx,
               CAST(k * {_CHUNK_STRIDE} AS INT) AS start_tok,
               list_slice(toks, k * {_CHUNK_STRIDE} + 1,
                          k * {_CHUNK_STRIDE} + {_CHUNK_SIZE}) AS win
        FROM {p}nc, unnest(generate_series(0, n_chunks - 1)) u(k)
    ),
    {p}chh AS (
        SELECT doc_id, chunk_idx, start_tok,
               CAST(len(win) AS INT) AS n_tokens,
               md5(array_to_string(win, ' ')) AS chunk_hash
        FROM {p}ch
    )"""


def _store_agg_oracle(pred: str) -> str:
    return f"""
    WITH {_chunk_rows_cte(pred)}
    SELECT CAST(CAST(('0x' || substring(chunk_hash, 1, 4)) AS BIGINT)
                % {N_CHUNK_BUCKETS} AS INT) AS part,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CAST(('0x' || substring(chunk_hash, 1, 8)) AS BIGINT))
                AS BIGINT) AS hash_sum,
           CAST(SUM(doc_id) AS BIGINT) AS doc_sum,
           CAST(SUM(start_tok) AS BIGINT) AS start_sum,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
    FROM chh GROUP BY 1
    """


_CHUNK_STORE_BUILD_ORACLE = _store_agg_oracle("doc_id % 3 != 0")
_CHUNK_STORE_APPEND_ORACLE = _store_agg_oracle("TRUE")


def chunk_store_build_roundtrip(spark, sf_dir):
    """Build the chunk store on 2/3 of the corpus into a FRESH dir and
    aggregate the read-back relation per persisted bucket — the oracle
    recomputes the same checksums from the chunk CTE chain, so the
    hash compare proves every window boundary, every chunk hash, AND
    the md5-prefix partition layout."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 != 0)
    out = build_chunk_store(
        spark, docs, tempfile.mkdtemp(prefix="chunk_store_build_")
    )
    return _store_aggregate(spark, out)


def chunk_store_append_roundtrip(spark, sf_dir):
    """Build on 2/3 of the corpus, append the remaining 1/3, aggregate
    the read-back store. The oracle is the FULL-CORPUS aggregation —
    append ≡ rebuild, proven value-exactly (a drifted size/stride or a
    batch landing unpartitioned fails the hash)."""
    docs = table(spark, sf_dir, "documents")
    out = build_chunk_store(
        spark,
        docs.where(F.col("doc_id") % 3 != 0),
        tempfile.mkdtemp(prefix="chunk_store_append_"),
    )
    append_to_chunk_store(spark, docs.where(F.col("doc_id") % 3 == 0), out)
    return _store_aggregate(spark, out)


def documents_stream_chunk_append(spark, sf_dir):
    """Streaming corpus ingestion with live chunk-store maintenance:
    build on 2/3 of the corpus, drain the remaining 1/3 as a document
    STREAM through :func:`stream_append_to_chunk_store` (exactly-once,
    lineage-addressed delta batches), then aggregate the main ∪ delta
    serving view. SHARES the batch append roundtrip's FULL-REBUILD
    oracle — the hash compare proves the streamed landing is value-
    equal to a from-scratch rebuild on the union, the same guarantee
    the dedup and ANN stores' streaming twins carry."""
    docs = table(spark, sf_dir, "documents")
    out = build_chunk_store(
        spark,
        docs.where(F.col("doc_id") % 3 != 0),
        tempfile.mkdtemp(prefix="chunk_store_stream_"),
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    stream_append_to_chunk_store(
        spark, stream, out, tempfile.mkdtemp(prefix="ck_chunk_append_")
    )
    return _store_aggregate(spark, out)


# --- maintenance trigger (the vectors.maintenance_due twin for this
# store): pure filesystem-metadata decision, pollable per ingest batch
# for free. Unit = PENDING BATCHES (`store.pending`), same calibration
# rationale as the ANN/dedup policies. Doc tombstones drive `due` like
# the dedup store's (the fold applies them physically).
def chunk_maintenance_due(store_dir: str, min_delta_batches: int = 4) -> dict:
    recover(store_dir)
    n = pending(store_dir, ["chunks"]).get("chunks", 0)
    tomb = tombstoned(store_dir, "deleted_docs")
    return {
        "due": n >= min_delta_batches or tomb,
        "pending_batches": n,
        "pending_tombstones": tomb,
    }


def run_chunk_maintenance(spark: SparkSession, store_dir: str, **thresholds) -> bool:
    """Fold when due (tombstone fold subsumes the delta fold — it
    folds the delta first; a delta-only trigger runs just the minor
    compaction); returns whether anything ran."""
    report = chunk_maintenance_due(store_dir, **thresholds)
    if not report["due"]:
        return False
    if report["pending_tombstones"]:
        fold_chunk_store_tombstones(spark, store_dir)
    else:
        fold_chunk_store_delta(spark, store_dir)
    return True


_CHUNK_STORE_DELETE_ORACLE = _store_agg_oracle("doc_id % 7 != 0")


def chunk_store_delete_roundtrip(spark, sf_dir):
    """Full-corpus build → tombstone delete of every doc_id%7==0 doc →
    physical fold → per-persisted-bucket aggregate of the SERVED view.
    The oracle is the from-scratch rebuild WITHOUT the deleted docs,
    so the hash compare proves the tombstone semantics, the partition-
    local purge, AND that the fold retired the tombstone table (a
    surviving tombstone row would re-drop nothing here, but a missed
    purge row or a resurrected stale file fails the checksums).
    Serve ≡ fold equality and the empty-partition drop are unit-pinned
    in tests/test_chunkstore.py."""
    docs = table(spark, sf_dir, "documents")
    out = build_chunk_store(
        spark, docs, tempfile.mkdtemp(prefix="chunk_store_del_")
    )
    delete_docs_from_chunk_store(
        spark, out, docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    )
    fold_chunk_store_tombstones(spark, out)
    return _store_aggregate(spark, out, served=True)


def chunk_boilerplate_served(spark, sf_dir):
    """The chunk-grain boilerplate report (chunk hashes shared by >= 2
    distinct documents) served from the PERSISTED chunk store: a bare
    store scan + one md5-sized aggregate — no tokenize, no chunk
    explode anywhere in the plan (plan-pinned in the stage-gate).
    Shares ``chunk_boilerplate_windows``' oracle: the store holds the
    full corpus's chunks, so serve ≡ inline by construction."""
    store = served_chunk_store_dir(spark, sf_dir)
    ch = read_chunk_store(spark, store)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.count_distinct(F.col("doc_id")).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("doc_id").cast("bigint").alias("exemplar_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- ingest-time chunk novelty report (STAGED r16 for r18 — the r17
# window is full at 43 rotation + 7 staged): the quality gate a
# production ingest consults BEFORE committing a batch — what fraction
# of each incoming doc's windows already exist in the corpus store
# (dedup_incremental_status at chunk grain). The store probe is
# partition-ROUTED: the batch's touched h_pt list is collected
# (≤ n_buckets values, the eager-decision contract) and becomes a
# static partition filter on the store scan, so a small batch reads
# only its slice — the dedupstore append-probe discipline.
_CHUNK_BATCH_NOVELTY_ORACLE = f"""
    WITH {_chunk_rows_cte("doc_id % 3 != 0", "c_")},
    {_chunk_rows_cte("doc_id % 3 = 0", "b_")},
    store AS (SELECT DISTINCT chunk_hash FROM c_chh),
    flagged AS (
        SELECT b.doc_id, b.chunk_hash,
               CASE WHEN s.chunk_hash IS NOT NULL THEN 1 ELSE 0 END AS dup
        FROM b_chh b LEFT JOIN store s ON b.chunk_hash = s.chunk_hash
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(dup) AS BIGINT) AS n_store_dup,
           CAST(COUNT(*) - SUM(dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS novelty_ratio
    FROM flagged GROUP BY doc_id
"""


def chunk_batch_novelty_report(spark, sf_dir):
    """Build the chunk store on 2/3 of the corpus, then classify the
    remaining 1/3 as an ingest batch: per batch doc, how many of its
    windows already exist in the store and the novelty ratio (one IEEE
    division of exact bigints). The store side is a DISTINCT over the
    h_pt partitions the batch actually touches (collected bounded →
    static partition filter); the batch side is one zero-shuffle chunk
    roll. At 100 TB the probe cost scales with the BATCH, not the
    corpus."""
    docs = table(spark, sf_dir, "documents")
    out = build_chunk_store(
        spark,
        docs.where(F.col("doc_id") % 3 != 0),
        tempfile.mkdtemp(prefix="chunk_store_nov_"),
    )
    _size, _stride, n_buckets = _read_meta(spark, out)
    ch_b = chunk_documents(
        docs.where(F.col("doc_id") % 3 == 0),
        "doc_id",
        "text",
        size=_CHUNK_SIZE,
        stride=_CHUNK_STRIDE,
    ).select(
        "doc_id",
        "chunk_hash",
        _hex_bucket(F.col("chunk_hash"), n_buckets).alias("h_pt"),
    ).localCheckpoint(eager=True)  # pin the batch roll: feeds the
    # touched-bucket collect AND the probe join (shared-subtree rule)
    touched = sorted(
        r["h_pt"] for r in ch_b.select("h_pt").distinct().collect()
    )
    store_hashes = (
        read_chunk_store(spark, out)
        .where(F.col("h_pt").isin(touched))
        .select("chunk_hash")
        .distinct()
        .withColumn("dup", F.lit(1))
    )
    return (
        ch_b.join(store_hashes.hint("merge"), "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_store_dup"),
        )
        .withColumn(
            "novelty_ratio",
            (F.col("n_chunks") - F.col("n_store_dup")).cast("double")
            / F.col("n_chunks").cast("double"),
        )
    )


def doc_unique_chunk_ratio_served(spark, sf_dir):
    """The per-doc novelty signal (`doc_unique_chunk_ratio`) served
    from the PERSISTED chunk store: no tokenize, no chunk explode — a
    bare store scan feeds the hash-df aggregate and the join-back
    (Generate-free, gate-pinned). Shares the inline query's oracle:
    the store holds the full corpus's chunks, so serve ≡ inline by
    construction. At a 100 TB corpus this turns the quality signal's
    marginal cost from a corpus re-chunk into two md5-sized exchanges
    over the store."""
    store = served_chunk_store_dir(spark, sf_dir)
    ch = read_chunk_store_served(spark, store).select("doc_id", "chunk_hash")
    df_tbl = (
        ch.groupBy("chunk_hash")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .hint("merge")
    )
    return (
        ch.join(df_tbl, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count(F.when(F.col("n_docs") == 1, 1))
            .cast("bigint")
            .alias("n_unique"),
        )
        .withColumn(
            "unique_ratio",
            F.col("n_unique").cast("double") / F.col("n_chunks").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# Chunk-grain hashed-TF retrieval: the chunk → vector → top-k
# composition. Exact-integer similarity core:
#   dot(q, c)   = Σ_b tf_q(b) · tf_c(b)          (BIGINT, exact)
#   ‖x‖²        = Σ_b tf_x(b)²                   (BIGINT, exact)
#   cos(q, c)   = dot / sqrt(double(‖q‖²·‖c‖²))  (ONE double division)
# tf ≤ 64 per bucket ⇒ ‖x‖² ≤ 64·64² = 262 144 and the norm product
# ≤ 6.9e10 — comfortably inside int64/double-exact range, so the
# doubles are bit-equal across engines and rank order needs only the
# explicit (cos DESC, cid, cidx) tiebreak, no rounding contract.

#: Query batch: BOUNDED ABSOLUTELY (≤ 10 docs at any corpus size), not
#: a corpus fraction — a %-of-corpus predicate would grow the query
#: side linearly and the brute-force bucket join quadratically (at the
#: 100× corpus, %97 alone meant ~5k query docs × 690k corpus chunks ×
#: ~10 shared buckets ≈ 5e10 join rows). A serving batch is a handful
#: of requests; the broadcast stays a few hundred tf rows forever.
_KNN_QPRED = "doc_id % 97 = 0 AND doc_id < 970"
_KNN_TOPK = 3


def _qpred_sql(alias: str) -> str:
    return f"({alias}.doc_id % 97 = 0 AND {alias}.doc_id < 970)"

_CHUNK_TF_KNN_ORACLE = f"""
    WITH {_chunk_rows_cte("TRUE")},
    win_rows AS (
        SELECT doc_id, chunk_idx, unnest(win) AS tok FROM ch
    ),
    tf AS (
        SELECT doc_id, chunk_idx,
               CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                    % {_CFH_DIM} AS INT) AS bucket,
               COUNT(*) AS tf
        FROM win_rows GROUP BY doc_id, chunk_idx, 3
    ),
    n2 AS (
        SELECT doc_id, chunk_idx, SUM(tf * tf) AS n2
        FROM tf GROUP BY doc_id, chunk_idx
    ),
    dots AS (
        SELECT q.doc_id AS qid, q.chunk_idx AS qidx,
               c.doc_id AS cid, c.chunk_idx AS cidx,
               SUM(q.tf * c.tf) AS dot
        FROM tf q JOIN tf c ON q.bucket = c.bucket
        WHERE {_qpred_sql("q")} AND NOT {_qpred_sql("c")}
        GROUP BY 1, 2, 3, 4
    ),
    scored AS (
        SELECT d.qid, d.qidx, d.cid, d.cidx, CAST(d.dot AS BIGINT) AS dot,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE))
                   AS cos_sim
        FROM dots d
        JOIN n2 nq ON nq.doc_id = d.qid AND nq.chunk_idx = d.qidx
        JOIN n2 nc ON nc.doc_id = d.cid AND nc.chunk_idx = d.cidx
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid, qidx
                                     ORDER BY cos_sim DESC, cid, cidx) AS rn
        FROM scored
    )
    SELECT qid, qidx, cid, cidx, dot, cos_sim, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= {_KNN_TOPK}
"""


def _hashed_tf_vec(tokens, memo, dim=_CFH_DIM):
    """int64 hashed-TF vector; md5-prefix buckets memoized per distinct
    token (real corpora have vocab ≪ tokens — the x100 Heaps corpus has
    144 distinct words across 44M token instances)."""
    import hashlib

    import numpy as np

    v = np.zeros(dim, dtype=np.int64)
    for t in tokens:
        b = memo.get(t)
        if b is None:
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
            memo[t] = b
        v[b] += 1
    return v


def chunk_tf_knn(spark, sf_dir):
    """Top-3 most-similar corpus chunks per query chunk (query docs:
    doc_id%97==0 AND doc_id<970 — absolutely bounded, see _KNN_QPRED)
    under hashed-TF cosine.

    Shape (the assign_nearest_arrow pattern, A/B'd r16): the bounded
    query side's tf vectors are COLLECTED driver-side (eager-decision
    contract, ≤ ~20 chunks × {_CFH_DIM} ints) and enter an Arrow
    mapInPandas closure; the corpus side is ONE chunk-window map scan
    (spread_scan'd — the driver parquet is one row group) scored per
    batch with an exact int64 matmul, emitting only per-partition
    top-k candidates with the GLOBAL total order's tiebreak. The naive
    sparse shape (tf build → bucket equi-join → (q,c) groupBy) paid a
    95M-row join at the 100× corpus — 119s in the dots stage alone,
    40.5s end-to-end vs 2.8s for this kernel (measured r16; near-flat
    1.3/1.9/2.8s at x1/x10/x100 docs). All dots/norms stay exact integers
    (int64 matmul of tf ≤ 64 counts); cosine is one final double
    division per pair, so Spark and DuckDB agree bit-for-bit with no
    rounding contract."""
    import numpy as np

    from udacity_dend_capstone_immigration_spark.operators.spread import spread_scan

    docs = table(spark, sf_dir, "documents")
    qpred = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 970)

    # --- bounded query matrix, collected once (eager-decision contract)
    q_toks = chunk_token_rows(
        docs.where(qpred), "doc_id", "text", size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )
    q_rows = (
        q_toks.groupBy("doc_id", "chunk_idx")
        .agg(F.collect_list("tok").alias("toks"))
        .collect()
    )
    if not q_rows:  # empty serving batch: empty result, stable schema
        return local_frame(
            spark,
            [],
            "qid long, qidx int, cid long, cidx int, dot long, "
            "cos_sim double, rn int",
        )
    memo0: dict = {}
    q_keys = sorted((int(r["doc_id"]), int(r["chunk_idx"])) for r in q_rows)
    key_to_toks = {
        (int(r["doc_id"]), int(r["chunk_idx"])): r["toks"] for r in q_rows
    }
    qmat = np.stack([_hashed_tf_vec(key_to_toks[k], memo0) for k in q_keys])
    qn2 = (qmat * qmat).sum(axis=1)  # int64, exact
    nq = len(q_keys)
    topk = _KNN_TOPK

    cw = chunk_documents(
        spread_scan(docs.where(~qpred)),
        "doc_id",
        "text",
        size=_CHUNK_SIZE,
        stride=_CHUNK_STRIDE,
        with_text=True,
    ).select("doc_id", "chunk_idx", "win_text")

    schema = (
        "qid long, qidx int, cid long, cidx int, dot long, cos_sim double"
    )

    def score_partition(batches):
        import pandas as pd

        memo = dict(memo0)
        # per-query running candidates [(cos, cid, cidx, dot)]; kept
        # sorted under the GLOBAL order (cos DESC, cid, cidx) so the
        # partition-local top-k is a superset-safe cut of the global one
        best: list[list] = [[] for _ in range(nq)]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            B = np.zeros((n, _CFH_DIM), dtype=np.int64)
            for i, wt in enumerate(pdf["win_text"].values):
                B[i] = _hashed_tf_vec(wt.split(" "), memo)
            dots = qmat @ B.T                       # nq × n, exact int64
            n2b = (B * B).sum(axis=1)               # n, exact int64
            cos = dots / np.sqrt((qn2[:, None] * n2b[None, :]).astype(np.float64))
            cids = pdf["doc_id"].values
            cidxs = pdf["chunk_idx"].values
            for qi in range(nq):
                row = cos[qi]
                take = min(topk, n)
                idx = np.argpartition(-row, take - 1)[:take]
                cand = best[qi] + [
                    (-row[j], int(cids[j]), int(cidxs[j]), int(dots[qi, j]))
                    for j in idx
                ]
                cand.sort()
                best[qi] = cand[:topk]
        out = {
            "qid": [], "qidx": [], "cid": [], "cidx": [],
            "dot": [], "cos_sim": [],
        }
        for qi, (qid, qidx) in enumerate(q_keys):
            for negcos, cid, cidx, dot in best[qi]:
                out["qid"].append(qid)
                out["qidx"].append(qidx)
                out["cid"].append(cid)
                out["cidx"].append(cidx)
                out["dot"].append(dot)
                out["cos_sim"].append(-negcos)
        yield pd.DataFrame(out)

    cand = cw.mapInPandas(score_partition, schema)

    from pyspark.sql import Window

    w = Window.partitionBy("qid", "qidx").orderBy(
        F.desc("cos_sim"), F.asc("cid"), F.asc("cidx")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= topk)
        .select("qid", "qidx", "cid", "cidx", "dot", "cos_sim", "rn")
    )
