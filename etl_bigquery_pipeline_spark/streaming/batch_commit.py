"""Exactly-once micro-batches for the ``foreachBatch`` sinks.

foreachBatch is at-least-once: after a failure the stream replays a
micro-batch with the same ``batch_id``, and a replay must leave the
outputs as if the batch ran once. Sinks whose only outputs are
``batch_id=N`` directories written with overwrite are idempotent by
construction and need only ``start``. Sinks that also append to a
persisted index (an INSERT is not idempotent) wrap their batch work in
``once_per_batch``, which keeps two markers per batch under
``<checkpoint>/__applied_batches``:

- ``batch_N.__inserting`` (the pre-marker) lands before the batch work;
- ``batch_N`` (the commit marker) lands after it, written to
  ``batch_N.__tmp`` and renamed into place, and then the pre-marker is
  removed.

A replay that finds the commit marker skips the batch whole, sweeping a
pre-marker leaked by a crash between the rename and the removal. A
replay that finds only the pre-marker knows the previous attempt died
inside the batch work, possibly after its index append, and runs the
work with ``recovery=True``: appends anti-join against the index and
probes ignore the batch's own ids, so only that rare path pays an extra
index scan. Markers are one empty file per micro-batch, written with
local renames like the parquet sinks (object stores want a
transactional table format instead).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame


def start(stream: DataFrame, write_batch, checkpoint: str):
    """Run ``write_batch(batch_df, batch_id)`` over every micro-batch of
    ``stream`` available now; returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _touch(path: str) -> None:
    with open(path, "w"):
        pass


def once_per_batch(
    checkpoint: str,
    apply: Callable[[DataFrame, int, bool], None],
) -> Callable[[DataFrame, int], None]:
    """Wrap ``apply(batch_df, batch_id, recovery)`` as a ``write_batch``
    that runs it at most once to completion per ``batch_id``."""
    marker_dir = os.path.join(checkpoint, "__applied_batches")
    os.makedirs(marker_dir, exist_ok=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, f"batch_{batch_id}")
        pre_marker = marker + ".__inserting"
        if os.path.exists(marker):
            try:
                os.remove(pre_marker)
            except FileNotFoundError:
                pass
            return
        recovery = os.path.exists(pre_marker)
        _touch(pre_marker)
        apply(batch_df, batch_id, recovery)
        _touch(marker + ".__tmp")
        os.rename(marker + ".__tmp", marker)
        os.remove(pre_marker)

    return write_batch
