"""One crash-atomic commit for every persisted-store rewrite.

Every store in this package (ANN vectors, text dedup, chunks, feature
snapshots) is a directory of plain parquet relations. Appends add files
in place; every REWRITE (delta fold, compaction, retrain, reindex,
tombstone purge, revival, retention prune) goes through this module:

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
     so a delta fold stays O(delta);
   - ``drop``: the live path is deleted (deltas, tombstones,
     partitions a purge emptied).

:func:`recover` rolls a marked commit forward. Every step checks what is
already on disk, so a crash anywhere in a commit, or in a recovery, is
finished by the next call; with no marker on disk it costs one stat.
Every entry point that reads, appends to or rewrites a store calls it
first. A reader therefore sees the store before a rewrite or after it,
never a mix: no rows doubled by a half-done fold, no relation missing
between two renames, no deleted rows resurrected.

Only a writer sweeps unmarked stages (in :func:`begin`): a reader that
swept could delete a stage a rewrite in the same process is still
filling. Atomicity is against process crashes; nothing is fsynced.
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
