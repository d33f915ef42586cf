"""Forge the crash states of the streaming sinks' applied-batch markers
(streaming/batch_commit) in a finished stream's checkpoint."""

from __future__ import annotations

import os


def forge_crash_window(
    checkpoint: str, *, committed: bool = False
) -> list[str]:
    """Plant a pre-marker next to every commit marker under
    ``<checkpoint>/__applied_batches`` and clear the stream's commit log,
    so the next run replays every batch.

    ``committed=False`` also removes the commit markers: the crash between
    the batch work (index append included) and the commit.
    ``committed=True`` keeps them: the crash between the commit rename and
    the pre-marker removal. Returns the commit markers found."""
    marker_dir = os.path.join(checkpoint, "__applied_batches")
    markers = [
        m for m in os.listdir(marker_dir) if not m.endswith("__inserting")
    ]
    for m in markers:
        if not committed:
            os.remove(os.path.join(marker_dir, m))
        with open(os.path.join(marker_dir, m + ".__inserting"), "w"):
            pass
    commits = os.path.join(checkpoint, "commits")
    for f in os.listdir(commits):  # listdir includes the .crc sidecars
        os.remove(os.path.join(commits, f))
    return markers
