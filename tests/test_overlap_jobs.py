"""``plans.overlap_jobs``: independent driver actions run on a small
thread pool with the active session pinned on every worker; when the
session cannot be pinned they run one after another on the caller's
thread, never concurrently and unpinned."""

from __future__ import annotations

import threading
import types

from data_warehouse_solution_spark.plans import overlap_jobs


def test_pin_failure_runs_thunks_in_order_on_caller_thread():
    # no JVM session class to pin through: the pin fails
    unpinnable = types.SimpleNamespace(_jvm=object(), _jsparkSession=None)
    caller = threading.get_ident()
    seen = []

    def thunk(i):
        def run():
            seen.append((i, threading.get_ident()))
            return i * 10

        return run

    assert overlap_jobs(unpinnable, *[thunk(i) for i in range(4)]) == [0, 10, 20, 30]
    assert seen == [(i, caller) for i in range(4)]


def test_pinned_session_runs_concurrently_and_keeps_order(spark):
    caller = threading.get_ident()
    threads = []

    def thunk(i):
        def run():
            threads.append(threading.get_ident())
            return spark.range(i + 1).count()

        return run

    assert overlap_jobs(spark, *[thunk(i) for i in range(3)]) == [1, 2, 3]
    assert caller not in threads
