"""The engine's two iteration shapes and its bounded driver pin, each
written once. The reference has no iterative operator (records flow
once through the transformer chain, OETLPipeline.java:98-139); every
loop belongs to an extension operator and takes one of these shapes:

- :func:`fixpoint` — repeat a step until a round reproduces its input;
- :func:`chain_cut` — a fixed number of single-consumer rounds chained
  lazily into one action, with the lineage cut every ``_CUT_EVERY``.

Bounded loop state (weights, domain tables, vocabularies, sketches) is
brought to the driver through :func:`pin`, which checks the bound
before anything is built from the rows.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

_CUT_EVERY = 8


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    what: str | None = None,
) -> DataFrame:
    """``state = step(state)`` until a round leaves the row set unchanged.

    ``state`` and every ``step`` output must be SETS of rows. Each one is
    read twice (by the convergence test and by the next round), so each
    is materialized with an eager ``localCheckpoint``, which also keeps
    the plan O(1) in the round count. Convergence is one job: in the
    union of the old and new sets, a row occurring once is a change.

    Reaching ``max_rounds`` raises ``RuntimeError`` naming ``what`` — a
    partial answer of such a loop is wrong, not approximate. With
    ``what=None`` the cap is part of the answer (e.g. paths of at most
    ``max_rounds`` edges) and the last state is returned."""
    state = state.localCheckpoint(eager=True)
    for _ in range(int(max_rounds)):
        new = step(state).localCheckpoint(eager=True)
        changed = (
            state.unionByName(new)
            .groupBy(*state.columns)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") == 1)
            .limit(1)
            .count()
        )
        state = new
        if not changed:
            return state
    if what is None:
        return state
    raise RuntimeError(
        f"{what} did not converge in {max_rounds} rounds; refusing to "
        "return a partial result"
    )


def chain_cut(df: DataFrame, rnd: int, rounds: int) -> DataFrame:
    """Round ``rnd`` (1-based) of a ``rounds``-round lazy chain whose
    state has one consumer: a lazy ``localCheckpoint`` every
    ``_CUT_EVERY`` rounds bounds the plan without a per-round job, and
    the last round's output is left uncut."""
    if rnd % _CUT_EVERY == 0 and rnd < rounds:
        return df.localCheckpoint(eager=False)
    return df


def pin(df: DataFrame, bound: int, what: str) -> tuple[list[Row], DataFrame]:
    """Collect a frame of at most ``bound`` rows and return the rows with
    the same rows as a literal table. Later consumers read the literal
    instead of re-running ``df``'s lineage, and no cache entry is left
    behind. At most ``bound + 1`` rows are collected; one over the bound
    raises ``RuntimeError`` naming ``what`` before anything is built."""
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise RuntimeError(
            f"{what}: more than {bound} rows, over its construction bound"
        )
    return rows, df.sparkSession.createDataFrame(rows, df.schema)
