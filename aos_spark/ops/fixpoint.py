"""The one driver loop of the iterative operators (connected components,
PageRank, k-means): a step applied round by round to a state that an
eager localCheckpoint materializes, so the plan never grows with the
rounds, under a hard round bound. A convergence count is OBSERVED on the
checkpoint job (``DataFrame.observe``), never an action of its own."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


class NotConverged(RuntimeError):
    """The round bound ran out before the change count read 0; a partial
    state (half-propagated labels) would be a wrong answer."""


def observed_checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eagerly local-checkpoint DF and return it with the values of AGGS
    (name -> aggregate Column) observed on the job that materializes it,
    so a count needs no action of its own."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(name) for name, c in aggs.items())).localCheckpoint()
    return out, obs.get


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    changed: Column | None = None,
) -> tuple[DataFrame, list[int]]:
    """Run ``state = checkpoint(step(state))`` for at most ``max_rounds``
    rounds; return (state, per-round change counts). With ``changed``, an
    aggregate over the step's rows, stop at the first round that reads 0
    (a NULL sum counts as 0) and raise NotConverged if none does. Without
    it, run exactly ``max_rounds`` rounds."""
    changes: list[int] = []
    for _ in range(max_rounds):
        if changed is None:
            state = step(state).localCheckpoint()
            continue
        state, obs = observed_checkpoint(step(state), changed=changed)
        changes.append(obs["changed"] or 0)
        if changes[-1] == 0:
            return state, changes
    if changed is not None:
        raise NotConverged(f"still changing after {max_rounds} rounds: {changes[-3:]}")
    return state, changes
