"""Lineage truncation for iterative operators.

`localCheckpoint` is the only plan-truncation primitive that works for
loops (persist leaves the full logical tree in place, so a frame
referenced twice per round doubles its analyzed plan every iteration),
but its blocks live at the RDD level, OUTSIDE the CacheManager:
`DataFrame.unpersist()` is a no-op on them, so a loop that checkpoints
every round accumulates one round's worth of executor storage per
iteration until driver-side GC happens to collect the superseded JVM
Dataset.

`checkpointed_rounds` is the one loop protocol: checkpoint the round,
materialize it, free the previous round's blocks, hand the round (and an
optional convergence scalar) to the caller. A lazy checkpoint is only
safe once EVERY partition has been computed (a localCheckpoint cannot
recompute — its lineage is gone), so the driver materializes a lazy mark
only through a full-frame aggregate, and it is the only place in the
package that takes a lazy mark.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame


def free_local_checkpoint(df: DataFrame) -> bool:
    """Release the executor-storage blocks behind a localCheckpoint-ed
    DataFrame. Returns True if blocks were freed, False when the frame
    is not a checkpoint scan (callers pass frames they created, so this
    is defensive, not a mode). Only call it once every frame derived
    from `df` has been fully materialized.
    """
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getSimpleName() != "LogicalRDD":
            return False
        analyzed.rdd().unpersist(False)
        return True
    except Exception:
        # Best-effort: a torn-down context / unexpected plan shape must
        # never fail the algorithm that already produced its answer.
        return False


def checkpointed_rounds(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iter: int,
    probe: Column | None = None,
) -> Iterator[tuple[DataFrame, Any]]:
    """Yield `(state, value)` for up to `max_iter` rounds of
    `state = step(state)`, each round checkpointed and materialized
    before it is yielded, with the previous round's blocks (the initial
    `state`'s too, when it is a checkpoint) freed.

    - `probe is None`: an eager localCheckpoint — one job; `value` is
      None.
    - `probe` an aggregate Column: a lazy localCheckpoint materialized
      by `state.agg(probe)` — the same one job, and `value` is its
      scalar (a convergence flag or row count for free).

    Stop early by breaking out of the loop: the last yielded frame stays
    materialized and valid.
    """
    for _ in range(max_iter):
        new = step(state)
        if probe is None:
            new = new.localCheckpoint(eager=True)
            value = None
        else:
            new = new.localCheckpoint(eager=False)
            value = new.agg(probe).collect()[0][0]
        free_local_checkpoint(state)
        state = new
        yield state, value
