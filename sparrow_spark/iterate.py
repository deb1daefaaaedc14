"""The driver loop of the iterative operators."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def iterate(
    state,
    step: Callable[..., DataFrame],
    rounds: int,
    converged: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Run `state = step(state, r)` for r = 1..rounds and return the
    last state, pinning each with an eager localCheckpoint. With
    `converged`, return the first state it accepts instead, and raise
    if none within `rounds` does.

    Why every round is pinned: a round usually references the previous
    state several times (symmetrize, join back, normalize), so a
    persist()-only loop grows a plan DAG whose printed form is
    exponential in the round count; CacheManager's plan logging alone
    OOMs the driver near round 8 (measured on a 10-node chain in
    alternating_cc). The eager pin truncates the plan to the
    materialized round, so every round plans in constant size. It
    keeps its blocks on the executors only: at cluster scale, where an
    executor can be lost, reliable checkpointing
    (sc.setCheckpointDir + .checkpoint()) is the swap.

    `step` may pin inside a round too, and appends any per-round
    output to a list it closes over."""
    for r in range(1, rounds + 1):
        state = step(state, r).localCheckpoint(eager=True)
        if converged is not None and converged(state):
            return state
    if converged is not None:
        raise RuntimeError(f"no convergence within {rounds} rounds")
    return state
