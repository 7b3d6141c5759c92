"""Checkpoint/output coherence — the guard of the epoch-partitioned
foreachBatch sink (streaming/neardup.py near-dup).

Epoch ids are CHECKPOINT-scoped: a wiped/relocated checkpoint restarts
them at 0 while the epoch-partitioned outputs persist, and dynamic
partition overwrite would then clobber historical partitions (plus, for
screens filtered to ``epoch_id < current``, silently disable cross-epoch
dedup).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_epoch_coherence(ledger: DataFrame, epoch_id: int,
                          num_hashes: int) -> None:
    """Raise on checkpoint/ledger incoherence, and pin the MinHash
    sketch geometry (``num_hashes`` — the neardup ledger's
    ``sig array<bigint>`` column must have exactly that length, else
    zip_with pads with NULLs and every cross-epoch match silently
    drops).

    ONE aggregate pass over the ledger (scalar columns only); replay of
    the CURRENT max epoch is legitimate at-least-once delivery, so the
    check is strictly ``>``.
    """
    row = ledger.agg(
        F.max("epoch_id").alias("max_epoch"),
        F.count(F.lit(1)).alias("n"),
        F.sum((F.size("sig") != num_hashes).cast("long")).alias("bad"),
    ).collect()[0]
    if row["n"] == 0:
        return
    if row["max_epoch"] is not None and row["max_epoch"] > epoch_id:
        raise RuntimeError(
            f"signature ledger holds epoch_id={row['max_epoch']} > current "
            f"epoch {epoch_id}: the streaming checkpoint was reset or "
            "relocated independently of the output/ledger paths. "
            "Proceeding would overwrite historical epoch partitions "
            "(and disable cross-epoch screening where the screen filters "
            "to epoch_id < current) — wipe checkpoint AND all output/"
            "ledger paths together, or restore the original checkpoint."
        )
    if row["bad"]:
        raise RuntimeError(
            f"{row['bad']} ledger signatures have length != {num_hashes}: "
            "the ledger was written with a different num_hashes. "
            "Re-sketch the ledger or run with the original geometry — "
            "mixed geometries silently drop every cross-epoch match."
        )


def last_committed_epoch(checkpoint_dir: str) -> int | None:
    """The highest COMMITTED micro-batch id of a Structured Streaming
    checkpoint (the ``commits/<batchId>`` files — a batch id appears
    there only after its foreachBatch body and offset log both
    succeeded). None if nothing has committed yet.

    This is the safe ``upto_epoch`` bound for ledger compaction
    (``neardup.compact_sig_ledger``): a restart can only replay batch
    ``last_committed + 1``, so folding epochs ``<= last_committed``
    never changes any replayable epoch's visible ledger.
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
