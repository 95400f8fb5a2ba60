"""Run independent Spark actions on concurrent driver threads.

Most actions of one forecast update submit a few tiny jobs that each use
fewer tasks than there are cores; run one after another, they leave the
cores idle between jobs. Submitted from separate driver threads, the
scheduler interleaves their stages instead (default FIFO pool: each job
takes what the jobs ahead of it leave free).

Each call runs on its own thread wrapped with
``pyspark.inheritable_thread_target(spark)``, so the thread sees the
caller's local properties and job tags. The wrapper is built per thread:
it clones the local properties when it is built, and a clone shared by
several threads would let one thread's SQL execution id show in another.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_all(spark: SparkSession, calls: Sequence[Callable[[], Any]]) -> list:
    """Run every call on its own thread; return their results in input
    order. Waits for all calls to return before raising, then raises the
    first failure in input order, so no action is still running when the
    caller handles the error."""
    results: list = [None] * len(calls)
    errors: list[BaseException | None] = [None] * len(calls)

    def slot(i: int, call: Callable[[], Any]) -> None:
        try:
            results[i] = call()
        except BaseException as e:  # re-raised on the calling thread
            errors[i] = e

    threads = [
        threading.Thread(
            target=inheritable_thread_target(spark)(slot),
            args=(i, call),
            name=f"fanout-{i}",
        )
        for i, call in enumerate(calls)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
