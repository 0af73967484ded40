"""The one fixed-point driver for data-driven Spark loops.

Every loop whose round count depends on the data runs through
``fixed_point``; the recursive-CTE shape (``UNION ALL`` of every level
until a level is empty) runs through ``closure``. The rules they apply
once, for every caller:

- Each round's state is a LAZY ``localCheckpoint``: the round's probe
  materializes it, so lineage is cut every round without the dedicated
  barrier job per round that an eager checkpoint costs.
- The caller's ``done(new, old)`` probe runs once per round and holds the
  round's driver actions (an ``isEmpty`` or a count, never a collect).
- ``max_rounds`` is a hard cap: reaching it raises instead of returning a
  state that has not converged.

A checkpointed frame scans with unknown partitioning (measured on Spark
4.1, eager and lazy alike), so a step that joins or aggregates its state
must repartition it explicitly. Loops whose round count is known before
they start (pointer doubling, pinned-iteration PageRank) stay plain
``for`` loops over a checkpointed step: they have no probe to share.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame


def fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    done: Callable[[DataFrame, DataFrame], bool],
    *,
    max_rounds: int,
) -> tuple[DataFrame, int]:
    """Apply ``step`` until ``done(new, old)`` holds; return the converged
    state and the number of rounds run. Raises ``RuntimeError`` when
    ``max_rounds`` rounds pass without convergence."""
    for rounds in range(1, max_rounds + 1):
        new = step(state).localCheckpoint(eager=False)
        if done(new, state):
            return new, rounds
        state = new
    raise RuntimeError(f"fixed_point: not converged after {max_rounds} rounds")


def closure(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
) -> DataFrame:
    """Semi-naive evaluation of a recursive ``UNION ALL``: ``seed``, then
    ``step`` applied to the previous level until a level is empty; returns
    the union of every level. The emptiness probe is the round's one job."""
    levels = [seed]

    def empty(new: DataFrame, _old: DataFrame) -> bool:
        if new.isEmpty():
            return True
        levels.append(new)
        return False

    fixed_point(seed, step, empty, max_rounds=max_rounds)
    return reduce(DataFrame.unionByName, levels)
