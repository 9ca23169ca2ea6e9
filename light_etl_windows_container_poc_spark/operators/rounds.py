"""The lineage cut shared by every round loop.

An iterative operator finishes a round, cuts the round's lineage so
plans stay bounded, and tests whether to go on. ``cut`` does all three
in one Spark action and releases the round it supersedes; ``release``
frees a checkpoint once nothing reads it, instead of leaving it
persisted until a JVM GC lets the ContextCleaner drop it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut(df: DataFrame, prev: DataFrame | None = None,
        ) -> tuple[DataFrame, int]:
    """Checkpoint ``df`` → (checkpoint, its row count), then release
    ``prev``.

    The lazy ``localCheckpoint`` is materialized by one action, a count
    of its RDD: the action an eager checkpoint runs, with the count kept
    instead of thrown away, so the round's size or emptiness test costs
    no second action (adaptive execution still runs each shuffle stage
    of ``df`` as a job of its own, as it does for an eager checkpoint).

    Do not ``cut`` a frame carrying an ``Observation``: the RDD count
    bypasses the Dataset action that completes it, so the observation
    reads NULL. A loop that observes its convergence flag (for
    ``dedup.connected_components_stats`` NULL means converged) keeps its
    eager checkpoint and calls ``release`` itself.
    """
    out = df.localCheckpoint(eager=False)
    n = out._jdf.queryExecution().analyzed().rdd().count()
    if prev is not None:
        release(prev)
    return out, n


def release(*frames: DataFrame) -> None:
    """Unpersist the checkpoint RDD behind each frame that is a bare
    checkpoint (analyzed plan ``LogicalRDD``); other frames are left
    alone. The caller must know that nothing still reads them."""
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
