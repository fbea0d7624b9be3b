"""Crash injection for the store lifecycle tests.

:func:`crash_at` counts the filesystem mutations a call makes inside a
store dir (``os.rename``, ``os.replace``, ``os.remove``,
``shutil.rmtree``) and raises :class:`Crash` in place of the k-th, so a
test can stop a fold or a compaction at every step it takes.
:func:`crash_matrix` runs that for every step, each time on a fresh copy
of the same store, and checks what the store serves afterwards.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

import pytest

_OS_MUTATIONS = ("rename", "replace", "remove")


class Crash(Exception):
    """The simulated process crash."""


@contextmanager
def crash_at(root: str, k: int | None = None):
    """Raise :class:`Crash` instead of performing the ``k``-th mutation
    of a path inside ``root`` (``None``: only count). Yields a one-item
    list holding the number of mutations seen."""
    prefix = os.path.join(root, "")
    seen = [0]
    real = {name: getattr(os, name) for name in _OS_MUTATIONS}
    real_rmtree = shutil.rmtree

    def wrap(fn):
        def call(path, *args, **kwargs):
            if os.fspath(path).startswith(prefix):
                seen[0] += 1
                if seen[0] == k:
                    raise Crash(f"mutation {k}: {fn.__name__}({path})")
            return fn(path, *args, **kwargs)

        return call

    for name in _OS_MUTATIONS:
        setattr(os, name, wrap(real[name]))
    shutil.rmtree = wrap(real_rmtree)
    try:
        yield seen
    finally:
        for name in _OS_MUTATIONS:
            setattr(os, name, real[name])
        shutil.rmtree = real_rmtree


def copy_store(src: str) -> str:
    """A copy of the store dir ``src`` in a fresh temp dir."""
    dst = os.path.join(tempfile.mkdtemp(prefix="crash_copy_"), "store")
    shutil.copytree(src, dst)
    return dst


def crash_matrix(base: str, op, serve, points=None, rerun: bool = False) -> int:
    """Crash ``op(store)`` at every mutation it makes (or only at the
    1-based ``points``), each time on a fresh copy of the store ``base``.

    After each crash, ``serve(store)`` must equal what the store served
    before ``op`` or after an uncrashed ``op``, never a mix: no row
    missing, none doubled. With ``rerun``, ``op`` then runs again and
    the store must serve the post-op state. Returns the number of
    mutations an uncrashed ``op`` makes."""
    pre = serve(base)
    ref = copy_store(base)
    with crash_at(ref) as seen:
        op(ref)
    post = serve(ref)
    for k in points or range(1, seen[0] + 1):
        store = copy_store(base)
        with crash_at(store, k), pytest.raises(Crash):
            op(store)
        got = serve(store)
        assert got == pre or got == post, f"torn state after a crash at mutation {k}"
        if rerun:
            op(store)
            assert serve(store) == post, f"re-run after a crash at mutation {k}"
    return seen[0]


def spread_points(base: str, op) -> list:
    """First, second, middle and last mutation of an uncrashed
    ``op(store)`` (counted on a copy of ``base``): the ``points`` of a
    :func:`crash_matrix` whose full sweep is too long for the default
    tier, such as an append that moves one file per touched partition."""
    ref = copy_store(base)
    with crash_at(ref) as seen:
        op(ref)
    n = seen[0]
    return sorted({1, min(2, n), max(1, n // 2), n})
