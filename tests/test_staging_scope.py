"""Staging scopes: the one lifetime owner of staged frames. A scope
releases what was staged inside it, exceptions included, and nothing
else — not its parent's frames, not another thread's."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark import plans
from australia_company_etl_pipeline_spark.operators import staging


def _staged(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_scope_releases_own_frames_only_even_on_error(spark):
    outer = staging.stage(spark.range(10).select(F.col("id") * 2))
    with pytest.raises(RuntimeError):
        with staging.scope():
            inner = staging.stage(spark.range(10).select(F.col("id") * 3))
            assert _staged(inner)
            raise RuntimeError("boom")
    assert not _staged(inner)
    assert _staged(outer)
    assert staging.release() == 1
    assert not _staged(outer)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_two_threads_two_scopes_one_session(spark, sf_dir):
    """Two staged registry queries built and collected concurrently on
    one session, each thread in its own scope, with overlapping
    lifetimes: results equal the single-threaded ones, and the first
    thread's scope exit leaves the second thread's frames staged."""
    names = ("ngram_jaccard_dup_pairs", "doc_search_bm25")
    want = {}
    for name in names:
        with staging.scope():
            want[name] = _rows(plans.REGISTRY[name].builder(spark, sf_dir))

    built = threading.Barrier(2, timeout=300)
    first_exited = threading.Event()
    got: dict[str, list[tuple]] = {}
    still_staged: dict[str, bool] = {}
    errors: list[Exception] = []

    def run(name: str, first: bool) -> None:
        try:
            with staging.scope():
                df = plans.REGISTRY[name].builder(spark, sf_dir)
                # this thread's frames (no other thread's): the scope
                # carried by the context variable
                mine = list(staging._SCOPE.get())
                assert mine and all(_staged(f) for f in mine)
                built.wait()
                got[name] = _rows(df)
                if not first:
                    assert first_exited.wait(timeout=300)
                    still_staged[name] = all(_staged(f) for f in mine)
                    got[name] = _rows(df)   # re-read after the exit
            if first:
                first_exited.set()
            assert not any(_staged(f) for f in mine)
        except Exception as e:  # surfaced in the main thread
            errors.append(e)
            built.abort()
            first_exited.set()

    threads = [threading.Thread(target=run, args=(names[0], True)),
               threading.Thread(target=run, args=(names[1], False))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert still_staged == {names[1]: True}
    assert got == want
