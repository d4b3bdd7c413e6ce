"""_build_concurrently (plans/llm/_shared.py): the guide-§2.6 helper that
overlaps independent eager-checkpoint jobs in driver threads for the
composite queries (q149, q170, q339, q350).

The contract under test: results come back in BUILDER ORDER regardless of
completion order, the DataFrames are the same ones sequential construction
would produce (so downstream unions/joins — and therefore results — are
unchanged), the single-builder fast path stays on the caller's thread, and
the builder threads carry the caller's session tags.
"""

from __future__ import annotations

import threading
import time
import warnings

from pyspark.sql import functions as F

from airflow_spotify_etl_spark.plans.llm._shared import _build_concurrently


def test_results_come_back_in_builder_order():
    # Builder 0 finishes LAST; order must still follow the builder list.
    def slow():
        time.sleep(0.3)
        return "first"

    def fast():
        return "second"

    assert _build_concurrently([slow, fast]) == ["first", "second"]


def test_builders_actually_overlap():
    # Two builders that each block until the other has started can only
    # finish if they run concurrently; sequential execution would deadlock
    # (guarded by the barrier timeout, which raises BrokenBarrierError).
    barrier = threading.Barrier(2, timeout=10)

    def b(tag):
        def inner():
            barrier.wait()
            return tag

        return inner

    assert _build_concurrently([b("a"), b("b")]) == ["a", "b"]


def test_single_builder_runs_on_caller_thread():
    main_id = threading.get_ident()
    seen = []

    def b():
        seen.append(threading.get_ident())
        return 42

    assert _build_concurrently([b]) == [42]
    assert seen == [main_id]


def test_dataframe_checkpoints_identical_to_sequential(spark):
    # Same builders threaded vs inline: identical rows (the composite
    # queries rely on this — threading changes job scheduling, not plans).
    def mk(lo, hi):
        return lambda: (
            spark.range(lo, hi)
            .select(F.col("id"), (F.col("id") * 2).alias("v"))
            .localCheckpoint(eager=True)
        )

    threaded = _build_concurrently([mk(0, 50), mk(50, 100)])
    inline = [mk(0, 50)(), mk(50, 100)()]
    for t, s in zip(threaded, inline):
        assert sorted(map(tuple, t.collect())) == sorted(
            map(tuple, s.collect())
        )


def test_builder_threads_inherit_session_tags(spark):
    # Session tags are thread-local; without the session bound into the
    # thread wrapper the builders' jobs lose them, and PySpark warns
    # "Spark session is not provided. Tags will not be inherited".
    tag = "concurrent-build-tag"
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            seen = _build_concurrently([spark.getTags, spark.getTags])
    finally:
        spark.removeTag(tag)
    assert all(tag in tags for tags in seen)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
