"""Stored intermediates (lineage cuts, persisted inputs) and release.

A round loop cuts its lineage every round with a ``localCheckpoint``,
or each round's plan re-embeds all earlier rounds. ``DataFrame
.unpersist()`` does not free such a cut; ``release`` does, but only
once the successor round's action has read it (earlier, that action
fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). ``fixpoint`` keeps that
order, and ``materialize`` ends an operator with its result's own cut
as the one stored RDD it leaves. This module is the package's only
``persist``/``localCheckpoint`` call and its only reach into a
DataFrame's JVM query execution.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame


class NotConverged(ValueError):
    """``fixpoint`` ran out of rounds."""


def round_parts(df: DataFrame) -> int:
    """Partition count of a round's table: one per core, at least 8."""
    return max(df.sparkSession.sparkContext.defaultParallelism, 8)


def cut(df: DataFrame, n_parts: int | None = None, *keys: str,
        eager: bool = False) -> DataFrame:
    """``df`` repartitioned on ``keys`` (given ``n_parts``), then cut;
    a lazy cut is stored by the first action that reads it."""
    if n_parts is not None:
        df = df.repartition(n_parts, *keys)
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the rows stored behind a cut; no-op on any other frame."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def materialize(result: DataFrame, *cuts: DataFrame) -> DataFrame:
    """``result`` cut now, then ``cuts`` (which it read) released: the
    result's own cut is the only stored RDD left."""
    out = cut(result, eager=True)
    for c in cuts:
        release(c)
    return out


def plan_size_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


@contextmanager
def persisted(df: DataFrame):
    """``df`` persisted for the block: an input several consumers read."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def unchanged(measure: Callable[[DataFrame], object]
              ) -> Callable[[DataFrame], bool]:
    """A ``fixpoint`` test: the round's ``measure`` (its one action)
    equals the previous round's."""
    last = [object()]

    def converged(df: DataFrame) -> bool:
        value = measure(df)
        done, last[0] = value == last[0], value
        return done

    return converged


def fixpoint(init: DataFrame, step: Callable[[DataFrame], DataFrame],
             converged: Callable[[DataFrame], bool], max_rounds: int,
             what: str, n_parts: int | None = None,
             *keys: str) -> DataFrame:
    """``cur = cut(step(cur), n_parts, *keys)`` from ``init`` until
    ``converged(cur)``, which runs on ``init`` and after each of at most
    ``max_rounds`` steps. As the round's action it stores ``cur``; the
    previous round is released after it. Out of rounds, every held
    round is released and ``NotConverged`` raised."""
    prev, cur = None, init
    for i in range(max_rounds + 1):
        done = converged(cur)
        if prev is not None:
            release(prev)
        if done:
            return cur
        if i == max_rounds:
            break
        prev, cur = cur, cut(step(cur), n_parts, *keys)
    release(cur)
    raise NotConverged(f"{what} did not converge in {max_rounds} rounds")
