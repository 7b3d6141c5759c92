"""Structured Streaming checkpoint helpers: read the last committed
micro-batch id, and drop it to stage the at-least-once replay a durable
fold must absorb (``streaming/sketches.py::fold_stream``).

Batch ids are CHECKPOINT-scoped: a wiped or relocated checkpoint
restarts them at 0 while persisted fold state survives — the hazard
``fold_stream``'s watermark check raises on.
"""

from __future__ import annotations

import os


def last_committed_epoch(checkpoint_dir: str) -> int | None:
    """The highest COMMITTED micro-batch id of a Structured Streaming
    checkpoint (the ``commits/<batchId>`` files — a batch id appears
    there only after its foreachBatch body and offset log both
    succeeded). None if nothing has committed yet; a restart can only
    replay batch ``last_committed + 1``.
    """
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return None
    ids = [int(f) for f in os.listdir(commits) if f.isdigit()]
    return max(ids, default=None)


def drop_last_commit(checkpoint_dir: str) -> int:
    """Simulate a crash AFTER a foreachBatch body but BEFORE its
    streaming commit: remove the newest ``commits/<batchId>`` file.
    On restart Spark reconstructs that batch from the offset log and
    REPLAYS it — the exact at-least-once window a durable fold's
    watermark skip must absorb. Returns the dropped (to-be-replayed)
    batch id."""
    last = last_committed_epoch(checkpoint_dir)
    if last is None:
        raise ValueError(f"no committed batch under {checkpoint_dir}")
    commits = os.path.join(checkpoint_dir, "commits")
    os.remove(os.path.join(commits, str(last)))
    # the local-FS checkpoint manager writes a Hadoop .crc shadow per
    # commit file; a stale one blocks the replayed commit's rename
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return last
