"""The store commit (`sources/store.py`) on a plain directory tree, no
Spark: a crash at any filesystem step of a commit, and of the recovery
that follows it, leaves the tree exactly as before the commit or
exactly as after it."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.fixtures.crash import Crash
from udacity_dend_capstone_immigration_spark.sources import store

_STEPS = ("rename", "replace", "remove", "unlink", "rmdir")


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def _tree(root):
    """{relative path: content} for every file outside a stage, plus
    every empty dir (as None)."""
    out = {}
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel.split(os.sep)[0].startswith("_stage_"):
            continue
        if not dirs and not files and rel != ".":
            out[rel] = None
        for f in files:
            with open(os.path.join(d, f)) as fh:
                out[os.path.normpath(os.path.join(rel, f))] = fh.read()
    return out


def _staged_store(root):
    """A store with live relations and a stage holding one commit's
    worth of every kind: a relation and a partition to replace, files
    to add into existing and new partitions, and dirs to drop."""
    for path, text in {
        "rel/part-0": "old rel",
        "cells/c=1/part-0": "old c1",
        "cells/c=2/part-0": "old c2",
        "cells/c=3/part-0": "c3 untouched",
        "main/c=1/part-0": "main c1",
        "delta/batch_pt=a/c=1/part-0": "delta a",
        "tombstones/part-0": "dead ids",
        "meta/part-0": "meta",
    }.items():
        _write(os.path.join(root, path), text)
    stage = store.begin(root)
    for path, text in {
        "rel/part-9": "new rel",
        "cells/c=1/part-9": "new c1",
        "main/c=1/part-a": "folded into c1",
        "main/c=4/part-a": "folded into new c4",
    }.items():
        _write(os.path.join(stage, path), text)
    plan = dict(
        replace=["rel", "cells/c=1"],
        add=["main"],
        drop=["cells/c=2", "delta", "tombstones"],
    )
    return stage, plan


def _counting(monkeypatch, crash_at):
    """Patch every filesystem step a commit or a recovery takes (rmtree
    included, and the unlinks and rmdirs inside it); raise Crash in
    place of step ``crash_at``. Returns the step counter."""
    seen = [0]
    for name in _STEPS:
        real = getattr(os, name)

        def step(*args, _real=real, **kwargs):
            seen[0] += 1
            if seen[0] == crash_at:
                raise Crash(seen[0])
            return _real(*args, **kwargs)

        monkeypatch.setattr(os, name, step)
    real_rmtree = shutil.rmtree

    def rmtree(*args, **kwargs):
        seen[0] += 1
        if seen[0] == crash_at:
            raise Crash(seen[0])
        return real_rmtree(*args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    return seen


def test_commit_applies_replace_add_drop(tmp_path):
    root = str(tmp_path / "s")
    stage, plan = _staged_store(root)
    store.commit(root, stage, **plan)
    assert _tree(root) == {
        "rel/part-9": "new rel",
        "cells/c=1/part-9": "new c1",
        "cells/c=3/part-0": "c3 untouched",
        "main/c=1/part-0": "main c1",
        "main/c=1/part-a": "folded into c1",
        "main/c=4/part-a": "folded into new c4",
        "meta/part-0": "meta",
    }
    assert not [e for e in os.listdir(root) if e.startswith("_")]
    assert store.recover(root) is False


def test_crash_at_every_step_of_commit_and_recovery(tmp_path, monkeypatch):
    base = str(tmp_path / "base")
    stage, plan = _staged_store(base)
    pre = _tree(base)
    post_root = str(tmp_path / "post")
    shutil.copytree(base, post_root)
    with monkeypatch.context() as m:
        seen = _counting(m, None)
        store.commit(post_root, os.path.join(post_root, os.path.basename(stage)), **plan)
    post = _tree(post_root)
    assert pre != post
    n_commit = seen[0]
    assert n_commit > 10

    for k in range(1, n_commit + 1):
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(base, root)
        st = os.path.join(root, os.path.basename(stage))
        with monkeypatch.context() as m:
            _counting(m, k)
            with pytest.raises(Crash):
                store.commit(root, st, **plan)
        # a crash inside the recovery itself is finished by the next one
        probe = str(tmp_path / f"probe{k}")
        shutil.copytree(root, probe)
        with monkeypatch.context() as m:
            seen = _counting(m, None)
            store.recover(probe)
        for j in range(1, seen[0] + 1):
            nested = str(tmp_path / f"crash{k}_{j}")
            shutil.copytree(root, nested)
            with monkeypatch.context() as m:
                _counting(m, j)
                with pytest.raises(Crash):
                    store.recover(nested)
            store.recover(nested)
            assert _tree(nested) == post, (k, j)
        store.recover(root)
        # the marker is the commit point: a crash on it leaves the
        # pre-state, a crash on any later step the post-state
        assert _tree(root) == (pre if k == 1 else post), k
        assert not os.path.exists(os.path.join(root, store.MARKER))
        # the next rewrite sweeps whatever stage the crash left
        fresh = store.begin(root)
        assert [e for e in os.listdir(root) if e.startswith("_")] == [
            os.path.basename(fresh)
        ]


def test_recover_without_marker_keeps_unmarked_stage(tmp_path):
    """A reader never sweeps: an unmarked stage may be a rewrite still
    being written. The next ``begin`` sweeps it."""
    root = str(tmp_path / "s")
    stage, _ = _staged_store(root)
    assert store.recover(root) is False
    assert os.path.isdir(stage)
    store.begin(root)
    assert not os.path.exists(stage)


def test_pending_batches(tmp_path):
    d = tmp_path / "x_delta"
    assert store.pending_batches(str(d)) == 0
    for name in ("batch_pt=a-0", "batch_pt=a-1", "_SUCCESS"):
        (d / name).mkdir(parents=True)
    assert store.pending_batches(str(d)) == 2


def test_store_modules_never_append_into_a_live_dir():
    """Source guard: a module that uses the store tier writes through a
    stage and a commit, never with Spark's in-place append (no
    ``mode="append"`` keyword, no ``.mode("append")`` call)."""
    import ast
    from pathlib import Path

    import udacity_dend_capstone_immigration_spark as pkg

    def is_append(node):
        return isinstance(node, ast.Constant) and node.value == "append"

    root = Path(pkg.__file__).resolve().parent
    scanned, offenders = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        if rel != "sources/store.py" and not any(
            isinstance(n, ast.ImportFrom) and n.module == f"{pkg.__name__}.sources.store"
            for n in ast.walk(tree)
        ):
            continue
        scanned.add(rel)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            kw = any(k.arg == "mode" and is_append(k.value) for k in node.keywords)
            call = (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "mode"
                and any(is_append(a) for a in node.args)
            )
            if kw or call:
                offenders.append(f"{rel}:{node.lineno}")
    assert {f"workload/{m}.py" for m in ("vectors", "chunkstore", "dedupstore")} <= scanned
    assert not offenders, offenders
