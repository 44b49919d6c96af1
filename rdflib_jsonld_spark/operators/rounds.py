"""Checkpoint lifetime of iterative DataFrame loops (SURVEY.md §2.F2):
how a superseded round's ``localCheckpoint`` is freed, and the one
frontier loop behind the reachability, BFS and Bellman-Ford callers."""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from itertools import count, islice
from typing import Callable

from pyspark.sql import DataFrame

#: settled tables returned inside the innermost :func:`released_on_exit`
_held: ContextVar[list | None] = ContextVar("rounds_held", default=None)


def release(df: DataFrame) -> None:
    """Free a ``localCheckpoint``-ed frame's blocks. ``unpersist()`` does
    not: it only drops CacheManager entries, and the checkpoint's RDD
    stays until the JVM GC happens to run the ContextCleaner.

    Never release a frame that a returned or still-lazy plan reads;
    reading it fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


@contextmanager
def released_on_exit():
    """Free, on leaving the block, every settled table that
    :func:`frontier_rounds` returned inside it. For a caller whose
    result no longer reads them lazily when the block ends (it was
    checkpointed), e.g. one SPARQL Update operation."""
    held: list[DataFrame] = []
    token = _held.set(held)
    try:
        yield
    finally:
        _held.reset(token)
        for df in held:
            release(df)


def frontier_rounds(start: DataFrame, step: Callable,
                    max_rounds: int | None = None,
                    merge: Callable = DataFrame.unionByName) -> DataFrame:
    """Expand from ``start`` until a round adds nothing → settled table.

    Round ``i`` (from 1) checkpoints ``new = step(frontier, settled, i)``,
    which returns only unsettled rows; one ``limit(1).count()`` probe
    stops on an empty ``new``, else ``merge(settled, new)`` is the next
    settled checkpoint and ``new`` the next frontier. Superseded
    checkpoints are released; inside :func:`released_on_exit` the
    returned one is freed when that block ends. ``max_rounds`` is only
    for a cap that is part of the answer (a depth bound): reachability
    ends without one, since ``settled`` grows over a finite node set.

    Constraint propagation is off meanwhile: Spark 4.1's ``LogicalRDD``
    constraint rewrite fails on unions of checkpoints derived from
    anti-joins against checkpoints ("key not found: origin#N" from
    ``UnionBase.rewriteConstraints``)."""
    spark = start.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        settled = frontier = start.localCheckpoint(eager=True)
        for i in islice(count(1), max_rounds):
            new = step(frontier, settled, i).localCheckpoint(eager=True)
            if new.limit(1).count() == 0:
                release(new)
                break
            merged = merge(settled, new).localCheckpoint(eager=True)
            if frontier is not settled:
                release(frontier)
            release(settled)
            settled, frontier = merged, new
        if frontier is not settled:
            release(frontier)
    finally:
        spark.conf.set(key, prev)
    if (held := _held.get()) is not None:
        held.append(settled)
    return settled
