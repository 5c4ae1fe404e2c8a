"""Staged multi-consumer frames: how they are held and how long they live.

Every staged frame in this package (dedup shingle/token frames, BM25
postings + corpus stats, LM token frames, funnel frontiers, the
``prepare_training_corpus`` stages) is a corpus-DERIVED projection
persisted so several plan branches read one materialization instead of
each replanning the upstream scan. The staging decision (cache vs
recompute) lives with each operator; THIS module owns the rest.

Lifetime. ``stage(df)`` persists a frame and records it in the current
*scope*. Operators cannot unpersist eagerly (the lazy frame they return
still reads the cache), so the caller that runs the terminal action owns
the release:

- ``with scope(): ...`` — frames staged inside the block (by any
  operator, at any depth) are unpersisted when it exits, exceptions
  included. Nested scopes release only their own frames, and the scope
  is carried by a ``contextvars.ContextVar``, so two queries built and
  run in two threads on one session never evict each other's frames.
  Open the scope around build AND terminal action.
- ``release()`` — unpersists the current scope's frames now (outside
  any ``scope()`` that is the process-wide root scope).

Storage level. How the cached bytes are held:

- ``MEMORY_AND_DISK`` (default) — right at bench scale: staged frames
  fit executor storage memory and spill is the rare case.
- ``DISK_ONLY`` — the 100-TB recommendation for corpus-sized staged
  frames (a token frame is the same order as the corpus itself):
  holding it in storage memory evicts the working set and forces
  mid-query recomputation of OTHER cached frames; a disk-only cache
  costs one sequential write + reads but never competes with shuffle
  and execution memory. (A ``df.checkpoint`` is the step past that —
  it truncates lineage too — but requires a cluster checkpoint dir;
  the knob keeps that choice with the operator.)

Callers pass ``storage_level=`` to any staging function as a
``pyspark.StorageLevel`` or its name (``"DISK_ONLY"``), or flip the
process-wide default with ``set_default_staging_level`` (e.g. one line
in a 100-TB job's setup), leaving every call site untouched."""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_DEFAULT_NAME = "MEMORY_AND_DISK"


def set_default_staging_level(name: str) -> None:
    """Set the process-wide storage level used by staged frames whose
    call sites don't pass an explicit ``storage_level=``."""
    global _DEFAULT_NAME
    if not hasattr(StorageLevel, name):
        raise ValueError(f"unknown StorageLevel {name!r}")
    _DEFAULT_NAME = name


def resolve_level(storage_level=None) -> StorageLevel:
    """Map a ``storage_level=`` argument (None | str | StorageLevel)
    to a concrete ``StorageLevel``; ``None`` means the process-wide
    default (see ``set_default_staging_level``)."""
    if storage_level is None:
        return getattr(StorageLevel, _DEFAULT_NAME)
    if isinstance(storage_level, str):
        if not hasattr(StorageLevel, storage_level):
            raise ValueError(f"unknown StorageLevel {storage_level!r}")
        return getattr(StorageLevel, storage_level)
    return storage_level


# The frames staged in the current scope; outside any ``scope()`` this
# is the process-wide root list (also what a fresh thread sees).
_ROOT: list[DataFrame] = []
_SCOPE: ContextVar[list[DataFrame]] = ContextVar("staging_scope",
                                                 default=_ROOT)


def stage(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` at ``resolve_level(storage_level)`` and record it
    in the current scope, which unpersists it on exit (or ``release``)."""
    out = df.persist(resolve_level(storage_level))
    _SCOPE.get().append(out)
    return out


def _unpersist(frames: list[DataFrame]) -> int:
    n = 0
    while True:
        try:
            # pop, not test-then-pop: threads outside any scope share
            # the root list and may release it concurrently
            frame = frames.pop()
        except IndexError:
            return n
        frame.unpersist()
        n += 1


def release() -> int:
    """Unpersist every frame staged in the current scope; returns how
    many. Safe any time — Spark recomputes a released frame if it is
    used again."""
    return _unpersist(_SCOPE.get())


@contextmanager
def scope():
    """Run a block in a fresh staging scope: the frames staged inside it
    are unpersisted when it exits, exceptions included."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        _unpersist(frames)
