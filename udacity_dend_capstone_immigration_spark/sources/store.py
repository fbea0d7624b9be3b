"""One crash-atomic commit for every persisted-store append and rewrite.

Every store in this package (ANN vectors, text dedup, chunks, feature
snapshots) is a directory of plain parquet relations. Every direct
append (vector, dedup and chunk batches) and every REWRITE (delta
fold, compaction, retrain, reindex, tombstone purge, revival,
retention prune) goes through this module; an append or a delete is
a staged ``add``, so a crash leaves its batch absent or whole. No store
path writes into a live dir.

1. :func:`begin` opens a ``_stage_*`` dir inside the store root. Spark
   never lists ``_``-prefixed paths, so a stage is invisible to readers.
   It also sweeps any earlier stage that a crash left without a marker.
2. The caller writes every new relation or partition under the stage,
   at the relative path it will take in the store.
3. :func:`commit` writes ONE marker atomically (a file in the stage,
   ``os.replace``d into the root). That is the commit point. The marker
   lists relative paths of three kinds, applied in this order:

   - ``replace``: the staged path takes the place of the live one;
   - ``add``: staged files move into the live dirs of the same path,
     so an append stays O(batch) and a delta fold O(delta);
   - ``drop``: the live path is deleted (deltas, tombstones,
     partitions a purge emptied).

:func:`recover` rolls a marked commit forward. Every step checks what is
already on disk, so a crash anywhere in a commit, or in a recovery, is
finished by the next call; with no marker on disk it costs one stat.
Every entry point that reads, appends to or rewrites a store calls it
first. A reader therefore sees the store before a commit or after it,
never a mix: no rows doubled by a half-done fold or append, no
partial batch, no relation missing
between two renames, no deleted rows resurrected.

Only a writer sweeps unmarked stages (in :func:`begin`): a reader that
swept could delete a stage a rewrite in the same process is still
filling. Atomicity is against process crashes; nothing is fsynced.

Delta tier
----------
A streamed append never writes into a live relation: a replayed
micro-batch would double its rows there. Each micro-batch instead
OVERWRITES its own directory ``{rel}_delta/batch_pt=<bpt>`` beside the
main relation ``{rel}`` (:func:`stream_to_delta`,
:func:`write_delta_batch`):

- ``bpt`` is ``<lineage>-<batch_id>``, where the lineage is the first
  8 hex digits of md5(checkpoint dir). Batch ids restart at 0 for
  every new checkpoint, so without the lineage a second ingestion wave
  would overwrite the first wave's ``batch_pt=...-0``.
- A replayed batch (same checkpoint, same batch id) rewrites the same
  directory with the same rows, so replay is idempotent by path.
- Readers serve main ∪ delta (:func:`read_with_delta`). The delta
  keeps the main relation's partition key under ``batch_pt``, so a
  partition filter prunes both sides; with no pending batch the read
  is a bare main scan, so serve plans carry no ``Union`` until a batch
  lands.
- :func:`fold_delta` is the minor compaction: the delta rows are
  staged under the main relation's layout, and one commit moves them
  into the live partition dirs (``add``) and deletes the delta
  (``drop``), so a fold costs O(delta). :func:`pending` counts the
  batches a maintenance policy weighs.

Tombstones
----------
A delete lands its keys in a tombstone relation (``deleted_ids``,
``deleted_docs``, ``dropped_shingles``; the dedup store's
``revival_due`` list is read the same way) as one staged ``add``; the
store's rows stay until a maintenance rewrite drops them together with
the tombstones. A streamed batch may land tombstones in the relation's
delta, so the main dir can be absent while tombstones are pending.

- :func:`tombstoned` is the one existence test: the main dir exists or
  a delta batch is pending. Policies and readers ask it, nothing else.
- :func:`tombstones` reads the keys of main ∪ pending delta.
- :func:`drop_tombstoned` anti-joins them out of a frame. With no
  tombstone it returns the frame itself, so serve plans carry no join
  until a delete lands.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

MARKER = "_commit.json"
_STAGE_PREFIX = "_stage_"


def pending_batches(delta_dir: str) -> int:
    """Number of streamed ``batch_pt=`` dirs in a delta (0 if absent)."""
    if not os.path.isdir(delta_dir):
        return 0
    return sum(1 for e in os.listdir(delta_dir) if e.startswith("batch_pt="))


def tombstoned(root: str, rel: str) -> bool:
    """Whether ``rel`` holds tombstones: its main dir exists or a
    ``{rel}_delta`` batch is pending."""
    return os.path.isdir(f"{root}/{rel}") or pending_batches(f"{root}/{rel}_delta") > 0


def tombstones(spark, root: str, rel: str, key: str, on: str | None = None):
    """The ``key`` column (named ``on``) of the tombstones in ``rel``:
    main ∪ pending delta, either of which may be absent. Only call it
    when :func:`tombstoned` is true."""
    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.workload.base import read_parquet_memo

    col = F.col(key) if on in (None, key) else F.col(key).alias(on)
    main = f"{root}/{rel}"
    paths = [main] if os.path.isdir(main) else []
    if pending_batches(f"{root}/{rel}_delta"):
        paths.append(f"{root}/{rel}_delta")
    dead = read_parquet_memo(spark, paths[0]).select(col)
    for p in paths[1:]:
        dead = dead.unionByName(read_parquet_memo(spark, p).select(col))
    return dead


def drop_tombstoned(spark, df, root: str, rel: str, key: str, on: str | None = None):
    """``df`` less the rows whose ``on`` column (default ``key``)
    matches a tombstone's ``key`` in ``rel``; ``df`` itself when
    ``rel`` holds none."""
    if not tombstoned(root, rel):
        return df
    on = on or key
    return df.join(tombstones(spark, root, rel, key, on), on, "left_anti")


def begin(root: str) -> str:
    """Finish any pending commit, sweep unmarked stages, and return a
    fresh stage dir inside ``root``."""
    recover(root)  # first: a marked stage rolls forward, never swept
    for e in os.listdir(root):
        if e.startswith(_STAGE_PREFIX):
            shutil.rmtree(os.path.join(root, e))
    return tempfile.mkdtemp(prefix=_STAGE_PREFIX, dir=root)


def commit(root: str, stage: str, replace=(), drop=(), add=()) -> None:
    """Land the marker for ``stage`` and roll it forward."""
    plan = {
        "stage": os.path.basename(stage),
        "replace": list(replace),
        "add": list(add),
        "drop": list(drop),
    }
    tmp = os.path.join(stage, MARKER)
    with open(tmp, "w") as fh:
        json.dump(plan, fh)
    os.replace(tmp, os.path.join(root, MARKER))
    recover(root)


def recover(root: str) -> bool:
    """Roll a marked commit forward; returns whether one was pending."""
    marker = os.path.join(root, MARKER)
    if not os.path.isfile(marker):
        return False
    with open(marker) as fh:
        plan = json.load(fh)
    stage = os.path.join(root, plan["stage"])
    for rel in plan["replace"]:
        staged, live = os.path.join(stage, rel), os.path.join(root, rel)
        if not os.path.exists(staged):
            continue  # swapped in before the crash
        if os.path.exists(live):
            retired = os.path.join(stage, "_retired", rel)
            os.makedirs(os.path.dirname(retired), exist_ok=True)
            os.rename(live, retired)
        os.rename(staged, live)
    for rel in plan["add"]:
        src = os.path.join(stage, rel)
        for d, _, files in os.walk(src):
            dest = os.path.join(root, rel, os.path.relpath(d, src))
            os.makedirs(dest, exist_ok=True)
            for f in files:
                os.replace(os.path.join(d, f), os.path.join(dest, f))
    for rel in plan["drop"]:
        if os.path.exists(os.path.join(root, rel)):
            shutil.rmtree(os.path.join(root, rel))
    if os.path.exists(stage):
        shutil.rmtree(stage)
    os.remove(marker)
    return True


def pending(root: str, rels) -> dict:
    """``{rel: n}`` streamed batches waiting in each ``{rel}_delta``;
    relations with none are left out."""
    return {rel: n for rel in rels if (n := pending_batches(f"{root}/{rel}_delta"))}


def stream_to_delta(
    stream_df, root: str, checkpoint_dir: str, write_batch, what: str, timeout_sec=120
) -> None:
    """Drain ``stream_df`` (availableNow) into the delta tier of the
    store at ``root``: ``write_batch(df, bpt)`` runs once per
    micro-batch with its lineage-addressed batch name."""
    import hashlib

    from udacity_dend_capstone_immigration_spark.streaming.windows import (
        _await_or_raise,
    )

    recover(root)
    lineage = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, batch_id: write_batch(df, f"{lineage}-{batch_id}")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    _await_or_raise(q, timeout_sec, f"{what}:{root}")


def write_delta_batch(df, root: str, rel: str, bpt: str, partition_by=None) -> None:
    """Overwrite ``{rel}_delta/batch_pt={bpt}`` with ``df``: one file
    per touched ``partition_by`` value, or one file when unpartitioned."""
    out = f"{root}/{rel}_delta/batch_pt={bpt}"
    if partition_by is None:
        df.coalesce(1).write.mode("overwrite").parquet(out)
        return
    df.repartition(partition_by).write.mode("overwrite").partitionBy(partition_by).parquet(out)


def read_with_delta(spark, root: str, rel: str, cols, exclude_batch=None):
    """``cols`` of ``rel``: main ∪ its pending delta batches, less the
    batch ``exclude_batch`` (a replaying writer must not read the rows
    its own first attempt landed). A bare main scan when no batch is
    pending."""
    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.workload.base import read_parquet_memo

    recover(root)
    main = read_parquet_memo(spark, f"{root}/{rel}").select(*cols)
    if not pending_batches(f"{root}/{rel}_delta"):
        return main
    delta = read_parquet_memo(spark, f"{root}/{rel}_delta")
    if exclude_batch is not None:
        delta = delta.where(F.col("batch_pt") != exclude_batch)
    return main.unionByName(delta.select(*cols))


def fold_delta(spark, root: str, rel: str, cols, partition_by: str) -> bool:
    """Fold ``{rel}_delta`` into ``rel`` and drop it, in one commit.
    ``cols`` include ``partition_by``, which the rows were assigned at
    ingest, so the staged files move into the live partition dirs.
    Returns whether a batch was pending."""
    from udacity_dend_capstone_immigration_spark.sources.writers import write_table
    from udacity_dend_capstone_immigration_spark.workload.base import read_parquet_memo

    recover(root)
    if not pending_batches(f"{root}/{rel}_delta"):
        return False
    stage = begin(root)
    rows = read_parquet_memo(spark, f"{root}/{rel}_delta").select(*cols)
    write_table(rows, f"{stage}/{rel}", partition_by=[partition_by])
    commit(root, stage, add=[rel], drop=[f"{rel}_delta"])
    return True
