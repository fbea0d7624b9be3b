"""MERGE INTO parity on plain partitioned parquet (SCD1 upsert).

Delta/Iceberg ship ``MERGE`` as a table-format primitive; this runtime
has neither (``sources/writers.py`` gates the Delta sink on the absent
package), so the lake need is delivered directly, the same way
``sources/publish.py`` stands in for ACID publish: rewrite ONLY the
partitions an update batch touches, through Spark's dynamic partition
overwrite.

Cost model (the part that matters at 100 TB): a MERGE's floor is
rewriting the files that contain matched rows — Delta does exactly
that. Here the rewrite unit is the partition directory:

- touched partitions = the update batch's own partition values ∪ the
  base partitions currently holding an updated key (the second set
  covers partition-MOVING updates — without it the moved-from
  partition would keep the stale row);
- the write is ``base(touched) ⟕anti keys ∪ updates`` under
  ``partitionOverwriteMode=dynamic`` — untouched partitions are never
  read past the key probe and never rewritten.

Update rows REPLACE matched base rows whole-row (SCD1). The batch must
be key-unique — dedupe upstream with the keep-latest pattern
(``events_latest_per_key``) when ingesting CDC streams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

#: Broadcast the merge key set only while it is genuinely small. A key
#: row is a few dozen bytes, so 2M keys ≈ tens of MB — comfortably
#: under Spark's 8 GB broadcast hard cap and the driver heap, while a
#: backfill replay (tens of millions of keys) falls back to
#: merge-hinted shuffled joins instead of a driver-side OOM.
MAX_BROADCAST_MERGE_KEYS = 2_000_000


def _check_no_null_partition(
    values: set, partition_col: str, caller: str = "merge_upsert"
) -> set:
    """Dynamic partition overwrite routes NULL partition values to the
    ``__HIVE_DEFAULT_PARTITION__`` directory, which this module's
    ``isin(touched)`` kept-filter and emptied-dir cleanup do not model
    (a null-partition matched row would silently go stale). Rejecting
    nulls at entry, before anything is written, keeps the contract
    honest: partition columns in a merge store must be non-null."""
    if any(v is None for v in values):
        raise ValueError(
            f"{caller}: NULL value in partition column {partition_col!r} "
            "— null-partitioned rows are not supported (they map to "
            "__HIVE_DEFAULT_PARTITION__, outside the touched-partition "
            "rewrite model); filter or default them upstream"
        )
    return values


def merge_upsert(
    spark: SparkSession,
    store_dir: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_col: str,
    deletes: DataFrame | None = None,
    assume_stable_partitions: bool = False,
) -> list:
    """Upsert ``updates`` (and drop ``deletes``, a key-column frame)
    in the partitioned parquet store at ``store_dir``. Returns the
    list of touched partition values. Delete semantics are MERGE's
    WHEN MATCHED THEN DELETE: a delete key absent from the store is a
    no-op, and deletes win over nothing — route a batch that both
    updates and deletes one key through :func:`apply_cdc`, which
    resolves operation order first.

    ``assume_stable_partitions=True`` is the daily-load fast path: the
    caller asserts a key's partition value never changes (day-keyed
    facts), so the moved-from probe — the one O(store-scan) step — is
    skipped and touched = the batch's own partition values. Under that
    contract the merge does ZERO store scans beyond reading the
    touched partitions (measured: the probe is most of the gap at the
    100× store). If the assertion is violated, the moved-from
    partition keeps its stale row — that is the contract being
    asserted, not a bug this flag can detect.

    The touched-partition list is collected driver-side — bounded by
    the layout guardrail (``DEFAULT_MAX_PARTITIONS``), the same
    eager-decision contract as the ANN probe lists. The rewritten
    rows are pinned with an eager ``localCheckpoint`` before the write:
    it cuts the lineage back to the store being overwritten (Spark
    refuses a self-referential overwrite otherwise) and bounds the
    in-flight state at O(touched partitions) — the same I/O class as a
    Delta MERGE's file rewrite. For merges whose touched set is too
    large to pin, fold through a staged store commit
    (`sources/store.py`, as `compact_index_cells` does) instead.
    """
    import os

    entries = (
        [f for f in os.listdir(store_dir) if not f.startswith((".", "_"))]
        if os.path.isdir(store_dir)
        else []
    )
    if not entries:
        # bootstrap: no store yet (first CDC batch / first IVM upsert)
        # → the updates ARE the initial state; deletes are no-ops.
        # The emptiness PROBE decides this — a read failure on an
        # EXISTING store must propagate, never trigger an overwrite
        # of the store with the update batch. Partition values are
        # collected BEFORE the write so a null partition is rejected
        # while the store is still untouched.
        boot = _check_no_null_partition(
            {
                r["p"]
                for r in updates.select(F.col(partition_col).alias("p"))
                .distinct()
                .collect()
            },
            partition_col,
        )
        write_parquet(updates, store_dir, partition_by=[partition_col])
        return sorted(boot)
    base = spark.read.parquet(store_dir)
    touched_keys = updates.select(*key_cols)
    if deletes is not None:
        touched_keys = touched_keys.unionByName(deletes.select(*key_cols))
    # Pin the key set once (it feeds up to three consumers: the count
    # below, the moved-from probe, and the kept anti-join) and COUNT it
    # so the broadcast decision is based on the batch's real size, not
    # a contract the CDC source can't guarantee: a normal CDC batch is
    # thousands of keys and broadcasting beats shuffling the store, but
    # a backfill replay can carry millions — above the cap the probe
    # and anti-join fall back to merge-hinted shuffled joins (ADVICE
    # r12: forced O(batch) broadcast escaped the boundedness inventory).
    keys = touched_keys.distinct().localCheckpoint(eager=True)
    small_keys = keys.count() <= MAX_BROADCAST_MERGE_KEYS
    up_parts = updates.select(F.col(partition_col).alias("p")).distinct()
    if deletes is not None and partition_col in deletes.columns:
        up_parts = up_parts.unionByName(
            deletes.select(F.col(partition_col).alias("p")).distinct()
        )
    elif deletes is not None and assume_stable_partitions:
        raise ValueError(
            "assume_stable_partitions merges locate deletes by the batch's "
            f"own partition values — the deletes frame must carry "
            f"{partition_col!r}"
        )
    probe = F.broadcast(keys) if small_keys else keys.hint("merge")
    if assume_stable_partitions:
        parts = up_parts
    else:
        moved_from = (
            base.join(probe, list(key_cols), "left_semi")
            .select(F.col(partition_col).alias("p"))
            .distinct()
        )
        parts = up_parts.unionByName(moved_from)
    touched = sorted(
        _check_no_null_partition(
            {r["p"] for r in parts.distinct().collect()}, partition_col
        )
    )
    kept = base.where(F.col(partition_col).isin(touched)).join(
        probe, list(key_cols), "left_anti"
    )
    out = kept.unionByName(updates.select(*base.columns)).localCheckpoint(eager=True)
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_parquet(out, store_dir, partition_by=[partition_col], mode="overwrite")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a touched partition that ends up EMPTY (every row deleted,
    # or its only rows moved to another partition) is never rewritten
    # and its stale files would resurrect on read. Drop those
    # directories explicitly, using the exact path escaping the writer
    # used (crash between the write and this cleanup leaves the old
    # files in place — stale, like today’s lakes, never torn).
    import shutil

    remaining = {
        r["p"]
        for r in out.select(F.col(partition_col).alias("p")).distinct().collect()
    }
    esc = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName
    )
    for v in touched:
        if v not in remaining and v is not None:
            d = os.path.join(store_dir, f"{partition_col}={esc(str(v))}")
            if os.path.isdir(d):
                shutil.rmtree(d)
    return touched


def apply_cdc(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    key_cols: Sequence[str],
    partition_col: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> list:
    """Apply a CDC batch (Debezium/DMS shape: one row per change event
    with an op code I/U/D and a monotone sequence) to the store —
    MERGE INTO with the keep-latest resolution done first:

    1. per key, keep only the HIGHEST-``seq_col`` event (row_number
       over a key-partitioned window — one shuffle of the batch, never
       the store; ties break toward delete, the conservative CDC
       convention);
    2. survivors with op D become the delete set, everything else
       (I and U are both whole-row images) becomes the upsert set;
    3. one :func:`merge_upsert` pass rewrites only the touched
       partitions.

    The batch must carry the full store schema plus (op, seq).
    Returns the touched partition values."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(seq_col), F.desc(F.col(op_col) == "D")
    )
    latest = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    data_cols = [c for c in batch.columns if c not in (op_col, seq_col)]
    ups = latest.where(F.col(op_col) != "D").select(*data_cols)
    dels = latest.where(F.col(op_col) == "D").select(*key_cols)
    return merge_upsert(
        spark, store_dir, ups, key_cols, partition_col, deletes=dels
    )


def scd2_apply(
    spark: SparkSession,
    store_dir: str,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    partition_col: str = "valid_yr",
    partition_expr=None,
) -> list:
    """MERGE's SCD TYPE-2 pattern on the partitioned store: each change
    CLOSES the key's current version (valid_to = the change's ts,
    is_current = false) and INSERTS a new version row — history is
    never overwritten, and the rewrite touches only the partitions
    holding affected current rows or receiving new versions (no
    partition ever moves or empties here: closing edits a row in
    place, history rows are untouched, new versions only add).

    Store contract: key_cols + attribute columns + ``valid_from``
    (date), ``valid_to`` (date, null on the current row),
    ``is_current`` (boolean), ``partition_col`` = year(valid_from) —
    exactly one is_current row per key. ``changes`` carries key_cols +
    the attribute columns + ``ts_col``; (key, ts) must be unique
    (pre-aggregate upstream — multiple same-key changes in ONE batch
    are legal and chain into consecutive versions by ts order).

    Returns the touched partition values. Same bounded-broadcast
    discipline as :func:`merge_upsert`: the changed-key set is counted
    before the store probes broadcast it.

    Ordering contract: every change ts must be >= the key's CURRENT
    valid_from (equal is legal — a zero-length version). A late
    out-of-order change would otherwise write a negative interval and
    an is_current row OLDER than its closed predecessor, silently —
    so it raises instead; route late data through a history REBUILD
    (derive-intervals, cf. events_scd2_intervals), not the apply path.
    NOT idempotent: re-applying a batch duplicates versions — callers
    in at-least-once contexts (foreachBatch) must guard with a
    batch-id marker (see `dim_stream_scd2_apply`)."""
    from pyspark.sql import Window

    base = spark.read.parquet(store_dir)
    attr_cols = [
        c
        for c in changes.columns
        if c not in set(key_cols) and c != ts_col
    ]
    w = Window.partitionBy(*key_cols).orderBy("valid_from")
    # ONE eager pin of the change-derivation subtree (it can be an
    # arbitrary upstream pipeline): keys, first-ts, version rows and
    # the out checkpoint all derive from it — un-pinned, the shared
    # subtree executed 4x per apply (CLAUDE.md shared-subtree rule)
    # partition granularity is a STORE layout choice: default
    # year(valid_from); a monthly store passes partition_expr =
    # year*100+month (exact integer bucketing — CLAUDE.md zorder rule).
    # Closed rows keep their STORED partition value (history never
    # moves); only new versions compute one.
    if partition_expr is None:
        partition_expr = F.year("valid_from")
    vers = (
        changes.select(*key_cols, *attr_cols, F.col(ts_col).alias("valid_from"))
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .withColumn(partition_col, partition_expr)
        .localCheckpoint(eager=True)
    )
    keys = vers.select(*key_cols).distinct()
    probe = (
        F.broadcast(keys)
        if keys.count() <= MAX_BROADCAST_MERGE_KEYS
        else keys.hint("merge")
    )
    first_ts = vers.groupBy(*key_cols).agg(
        F.min("valid_from").alias("_first_ts")
    )
    closed = (
        base.where(F.col("is_current"))
        .join(first_ts.hint("merge"), list(key_cols))
        .withColumn("valid_to", F.col("_first_ts"))
        .withColumn("is_current", F.lit(False))
        .drop("_first_ts")
        .select(*base.columns)
        .localCheckpoint(eager=True)  # probed twice: ordering guard +
        # touched collect; O(changed keys)
    )
    if closed.where(F.col("valid_to") < F.col("valid_from")).limit(1).count():
        raise ValueError(
            "scd2_apply: a change precedes its key's current valid_from "
            "(late/out-of-order data) — applying would write a negative "
            "interval; rebuild the key's history instead"
        )
    parts = closed.select(F.col(partition_col).alias("p")).unionByName(
        vers.select(F.col(partition_col).alias("p"))
    )
    touched = sorted(
        _check_no_null_partition(
            {r["p"] for r in parts.distinct().collect()},
            partition_col,
            caller="scd2_apply",
        )
    )
    tp = base.where(F.col(partition_col).isin(touched))
    # three-valued-logic guard: _hit is NULL for unchanged keys (left
    # join miss) — coalesce BEFORE negating, or NOT(true AND NULL) =
    # NULL silently drops every unchanged current row from the rewrite
    kept = (
        tp.join(probe.withColumn("_hit", F.lit(1)), list(key_cols), "left")
        .where(~(F.col("is_current") & (F.coalesce(F.col("_hit"), F.lit(0)) == 1)))
        .drop("_hit")
        .select(*base.columns)
    )
    out = (
        kept.unionByName(closed)
        .unionByName(vers.select(*base.columns))
        .localCheckpoint(eager=True)
    )
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_parquet(out, store_dir, partition_by=[partition_col], mode="overwrite")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    return touched
