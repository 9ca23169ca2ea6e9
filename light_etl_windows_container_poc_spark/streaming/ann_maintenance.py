"""Streaming ANN index maintenance: new embedding batches arrive
continuously (the 100 TB daily-arrival pattern) and land in the
persisted IVF-PQ index via foreachBatch + `append_to_ivfpq_index` —
assignment and encoding run against the FROZEN quantizers, so serving
never pauses for a retrain and query-after-append stays provably equal
to a rebuild at fixed quantizers (tests/test_ann_index.py).

Replay contract (the layered story, weakest guarantee first):
- foreachBatch gives at-least-once micro-batches; a parquet append is
  not atomic, so a crashed batch can replay and duplicate code rows.
- RESULT safety is unconditional: `exact_rerank_topk` dedupes
  candidates on (q_id, n_id), so duplicated codes can never corrupt a
  query (tested by double-appending).
- STORAGE growth is bounded by an applied-batches marker written AFTER
  a successful append: a clean replay skips the batch entirely. The
  crash window (append done, marker not yet written) can still leave
  one duplicate batch — the same marker-gap caveat the streaming DB
  sink documents (`streaming/sinks.py`); `scale_compaction` +
  dropDuplicates on n_id is the sweep. Markers use driver-side file
  I/O like the index builders — on an object store, swap in the
  Hadoop FS API.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.ann_index import APPLIED_SUBDIR  # noqa: E402 — shared
# with `refresh_ivfpq_index`, which carries the markers across a
# quantizer refresh so this maintainer's checkpoint survives it


def _marker_path(index_path: str, batch_id: int) -> str:
    return os.path.join(index_path, APPLIED_SUBDIR, f"batch_{batch_id}")


# what `load_ivfpq_quantizers` reads; anchors/ exists for residual
# indexes only
_QUANTIZER_ARTIFACTS = ("centroids", "books", "anchors", "_ivfpq_meta.json")


def _quantizer_generation(index_path: str) -> tuple:
    """(st_ino, st_mtime_ns) of the index directory's inode and of each
    quantizer artifact (None when absent)."""
    def ident(path: str) -> tuple[int, int] | None:
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns

    return (os.stat(index_path).st_ino,
            *(ident(os.path.join(index_path, a))
              for a in _QUANTIZER_ARTIFACTS))


def ann_append_batch_handler(index_path: str, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             ) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: append the micro-batch's vectors to the
    persisted IVF-PQ index unless this batch id already applied.

    The frozen quantizers (centroids/books/anchors) are loaded ONCE and
    reused across micro-batches (guide §4.5 — heavyweight init per task,
    not per batch; they are by contract immutable between refreshes).
    Cache key = `_quantizer_generation`: the artifacts the loader reads,
    plus the index directory's inode. Every refresh/rebuild swaps a
    freshly-created staging dir into ``index_path`` via rename
    (`_swap_in`), so a maintainer running across a refresh reloads the
    NEW quantizers on its next batch instead of encoding against stale
    ones; code appends, tombstones and markers leave the key alone."""
    from ..operators.ann_index import (append_to_ivfpq_index,
                                       load_ivfpq_quantizers)

    cache: dict = {}

    def handle(batch: DataFrame, batch_id: int) -> None:
        marker = _marker_path(index_path, batch_id)
        if os.path.exists(marker):
            return  # clean replay of an applied batch — skip
        gen = _quantizer_generation(index_path)
        if cache.get("gen") != gen:
            cache["q"] = load_ivfpq_quantizers(batch.sparkSession,
                                               index_path)
            cache["gen"] = gen
        append_to_ivfpq_index(batch, id_col, vec_col, index_path,
                              quantizers=cache["q"])
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("applied\n")

    return handle


def start_ann_index_maintenance(stream: DataFrame, index_path: str,
                                checkpoint_dir: str,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                available_now: bool = True,
                                ) -> StreamingQuery:
    """Wire a streaming DataFrame of (id, vector) rows into the index
    append handler. The index must already exist (`build_ivfpq_index`)
    — the quantizers are the frozen serving artifact; rebuilds are a
    scheduled batch job, not a streaming concern."""
    writer = (stream.writeStream
              .foreachBatch(ann_append_batch_handler(index_path, id_col,
                                                     vec_col))
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
