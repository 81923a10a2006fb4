"""The engine's two iteration shapes and its bounded driver pin, each
written once. The reference has no iterative operator (records flow
once through the transformer chain, OETLPipeline.java:98-139); every
loop belongs to an extension operator and takes one of these shapes:

- :func:`fixpoint` — repeat a step until a round reports no change,
  read from an observation on the round's own job;
- :func:`chain_cut` — a fixed number of single-consumer rounds chained
  lazily into one action, with the lineage cut every ``_CUT_EVERY``.

Bounded loop state (weights, domain tables, vocabularies, sketches) is
brought to the driver through :func:`pin`, which checks the bound
before anything is built from the rows. :func:`materialize` cuts a
frame that outlives the caches it was built from and reports its size
from the same job.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F

_CUT_EVERY = 8


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, Callable[[DataFrame, Column], DataFrame]], DataFrame],
    max_rounds: int,
    what: str | None = None,
) -> DataFrame:
    """``state = step(state, changed)`` until a round changes nothing.

    A round's convergence signal is observed, not recomputed. The step
    calls ``changed(df, cond)`` exactly once and builds its output from
    the frame it returns: an ``Observation`` on ``df`` counts the rows
    where ``cond`` holds. Each step counts what its round changed, and
    the count must be 0 only when the round's output is the answer.
    ``df`` has to reach the output through single-input operators
    (project, filter, window, aggregate), never through a join: an
    observed node under a join is pruned by the adaptive planner when
    the other side turns out empty, and its rows then go uncounted.

    Each round's output is materialized by one eager ``localCheckpoint``
    job, which also fires the observation and keeps the plan O(1) in the
    round count. The next round reads that checkpoint; no second pass
    compares the two states. The input ``state`` is not cut: the first
    round computes it inside its own job.

    Reaching ``max_rounds`` raises ``RuntimeError`` naming ``what`` — a
    partial answer of such a loop is wrong, not approximate. With
    ``what=None`` the cap is part of the answer (e.g. paths of at most
    ``max_rounds`` edges) and the last state is returned."""
    for _ in range(int(max_rounds)):
        obs, marked = Observation(), []

        def changed(df: DataFrame, cond: Column) -> DataFrame:
            marked.append(cond)
            return df.observe(obs, F.count_if(cond).alias("n"))

        state = step(state, changed).localCheckpoint(eager=True)
        if len(marked) != 1:
            raise ValueError(
                f"a fixpoint step must mark its changes once, not {len(marked)} times"
            )
        if _observed(obs) == 0:
            return state
    if what is None:
        return state
    raise RuntimeError(
        f"{what} did not converge in {max_rounds} rounds; refusing to "
        "return a partial result"
    )


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` materialized by one eager ``localCheckpoint``, with its row
    count observed on that same job — no second pass counts it."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return df, _observed(obs)


def _observed(obs: Observation) -> int:
    """The one count ``obs`` holds after its job. Read on the JVM side:
    when the adaptive planner prunes an observed frame that turned out
    empty, the observation completes with an empty row, which pyspark's
    ``get`` rejects; no row reached it, so it reads as 0."""
    row = obs._jo.getRow()  # noqa: SLF001
    return int(row.getLong(0)) if row.length() else 0


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
