"""The iterative-fixpoint loop behind ``graph.ancestor_closure`` and
``dedup.neardup_clusters`` (and through it ``graph.connected_components``).

A round's state is one lazily ``localCheckpoint``-ed relation, so every
round's plan reads a single materialized leaf and lineage never grows.
The loop keeps no cache past its return except the relation it returns:
each checkpoint is unpersisted as soon as the next round's checkpoint no
longer needs it, and the caller's input checkpoints go when the loop ends,
on the raise path too.
"""

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release(df: DataFrame) -> None:
    """Unpersist the RDD behind a checkpointed DataFrame (the ``LogicalRDD``
    leaf its analyzed plan is). Raises on any other plan: a silent no-op
    would leak exactly the blocks this is meant to free."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError(f"not a checkpointed DataFrame: {plan.nodeName()} plan")
    plan.rdd().unpersist(False)


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    max_rounds: int,
    name: str,
    inputs: Sequence[DataFrame] = (),
) -> DataFrame:
    """Iterate ``state = step(state)`` from round 0's ``state`` until a
    round changes nothing.

    ``step`` returns the next state with a boolean ``_new`` column marking
    the rows the round added or changed; the loop stops at the first round
    with no ``_new`` row and returns that state without the column.
    ``inputs`` are checkpoints the caller made for ``step`` to read every
    round (loop invariants); they are released when the loop ends. Raises
    ``RuntimeError`` when ``max_rounds`` rounds do not converge.

    Each round's convergence probe is a ``count()``, which reads every
    partition: the probe is what materializes the round's lazy
    checkpoint, so the checkpoint costs no job of its own.
    """
    held = list(inputs)
    try:
        for i in range(max_rounds):
            state = step(state).localCheckpoint(eager=False)
            held.append(state)
            converged = state.filter(F.col("_new")).count() == 0
            if i:
                # once materialized, the new checkpoint no longer reads the
                # one it supersedes; round 0's state belongs to the caller
                _release(held.pop(-2))
            if converged:
                return held.pop().drop("_new")
        raise RuntimeError(f"{name} did not converge in {max_rounds} iterations")
    finally:
        for df in held:
            _release(df)
