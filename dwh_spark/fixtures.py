"""The one owner of the state the engine derives on the side: scratch
dirs (``scratch_dir``), session-scoped staged inputs and frames
(``memo``) and rotation slots of persisted frames (``hold``).

Scratch dirs live under one process root, made on first use (so only
the driver makes one) and removed by an ``atexit`` hook in that same
process. Two rules the callers rely on:

1. Release before persist. ``hold`` unpersists a slot's old frames
   before it persists the new ones: when a plan repeats within a
   session, Spark's CacheManager matches the new frame to the old
   entry, and releasing second would drop that shared entry and leave
   the new frame uncached. An operator that persists internally runs
   only after its slot was released (``hold(slot)`` with no frames).
2. Lazy results keep slot frames alive. A query returns a lazy frame
   that still reads its persisted inputs and scratch dirs, so a slot
   is released at its next ``hold`` and scratch dirs at process exit,
   never when the query returns.

The lock guards only this module's dicts; builds and persists run
outside it, so concurrent capstone arms stage in parallel.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_LOCK = threading.Lock()
_ROOT: str | None = None
_MEMO: dict[tuple, list[tuple[DataFrame | None, object]]] = {}
_SLOTS: dict[str, tuple[DataFrame, ...]] = {}


def _remove_root(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new empty directory under this process's scratch root."""
    global _ROOT
    with _LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="dwh_")
            atexit.register(_remove_root, _ROOT, os.getpid())
        root = _ROOT
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def memo(
    spark: SparkSession,
    key: tuple[Hashable, ...],
    build: Callable[[], T],
    like: DataFrame | None = None,
) -> T:
    """``build()`` once per ``(applicationId, *key)`` (and, with
    ``like``, per semantically distinct frame); later calls return the
    stored value."""
    k = (spark.sparkContext.applicationId, *key)
    with _LOCK:
        entries = list(_MEMO.get(k, ()))
    for frame, value in entries:
        if like is None or like.sameSemantics(frame):
            return value
    value = build()
    with _LOCK:
        _MEMO.setdefault(k, []).append((like, value))
    return value


def hold(slot: str, *frames: DataFrame) -> tuple[DataFrame, ...]:
    """Unpersist whatever ``slot`` held, then persist and record
    ``frames``; returns them."""
    with _LOCK:
        old = _SLOTS.pop(slot, ())
    for df in old:
        df.unpersist()
    frames = tuple(df.persist() for df in frames)
    with _LOCK:
        _SLOTS[slot] = frames
    return frames
