"""Streaming sketch maintenance (the X6 × X7 bridge, r13; durable
fold r14).

A 24/7 ingest pipeline can't re-profile the whole corpus per
micro-batch; the mergeable sketches (operators/profiling.py) exist so
each batch contributes a BOUNDED summary that folds into a running
one. This module runs that fold through the real streaming engine:
``foreachBatch`` computes the batch-local sketch distributed, then
merges the ≤ k-row result into the running sketch driver-side (the
bounded-collect class — every collect here is capped at k or
depth·width rows by the sketch's own definition, never by the data).
The fold itself — and with it the versioned-watermark protocol below
— runs in exactly one place, :func:`fold_stream`; each public
``stream_*`` function is a thin caller supplying the batch sketch
(``batch_fn``) and a pure-Python merge over the state rows
(``merge_fn``).

Correctness is the merge LAW, not luck: bottom-k of a union equals
bottom-k of the concatenated member bottom-ks, and count-min counters
add linearly — so the final sketch is IDENTICAL no matter how the
backlog splits into micro-batches, which is what lets the x124/x127
faces sit behind the DuckDB oracle gate (the oracle computes the
one-shot batch sketch; the stream must reproduce it value-for-value).

**Replay-idempotency (r13 verdict item 1).** Structured Streaming is
at-least-once: a driver restart replays the last batch whose offsets
were logged but whose commit never landed. KMV's union-merge absorbs a
replay for free (idempotent), but count-min's ADDITIVE merge does not —
an in-memory-only fold would double-count the replayed batch. The
durable mode (``state_path``) applies the engine's exactly-once law
(SURVEY §2.7): the running
sketch is persisted as a versioned parquet table ``v=<batch_id>``
whose version IS the folded-batch high-watermark, and the fold

- **skips** a batch with ``batch_id == watermark`` (the legitimate
  at-least-once replay — its contribution is already inside the
  persisted sketch; Spark can replay at most ONE uncommitted batch, so
  exactly the watermark batch may reappear);
- **folds** ``batch_id > watermark`` and atomically publishes the new
  state (parquet ``_SUCCESS`` marker = commit point; a crash mid-write
  leaves the previous version the readable maximum, and the half-written
  batch replays and overwrites its own partial dir);
- **raises** on ``batch_id < watermark`` — batch ids are
  CHECKPOINT-scoped, so a batch id running BEHIND the persisted
  watermark means the checkpoint was wiped or relocated independently
  of the state path (the streaming/coherence.py hazard): proceeding
  would silently skip genuinely fresh data.

Crash-window audit: fold→publish→(Spark commit). Crash before publish:
replay refolds from the prior state — same result. Crash after publish,
before commit: replay hits the watermark skip — no double count. The
in-memory mode (``state_path=None``) remains for single-shot
availableNow runs, where the trigger's run-to-completion semantics make
it exact — its docstring no longer claims more than that.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_fold_state(spark: SparkSession, state_path: str,
                     schema: str) -> tuple[int | None, list]:
    """The persisted running sketch: ``(watermark, rows)`` from the
    highest COMPLETE ``v=<batch_id>`` version dir (``_SUCCESS`` marker
    present — parquet's commit protocol is the atomicity boundary), or
    ``(None, [])`` on first start / wiped state. Bounded by the sketch
    definition: ≤ k or depth·width rows."""
    if not os.path.isdir(state_path):
        return None, []
    vers = [
        int(d[2:]) for d in os.listdir(state_path)
        if d.startswith("v=") and d[2:].isdigit()
        and os.path.exists(os.path.join(state_path, d, "_SUCCESS"))
    ]
    if not vers:
        return None, []
    w = max(vers)
    rows = spark.read.schema(schema).parquet(
        os.path.join(state_path, f"v={w}")).collect()
    return w, rows


def _publish_fold_state(spark: SparkSession, state_path: str, schema: str,
                        rows: list, batch_id: int) -> None:
    """Atomically publish the post-fold sketch as ``v=<batch_id>``
    (the new high-watermark), then prune superseded versions — AFTER
    the new version is durable, so every moment has a readable maximum.
    One tiny single-file write (≤ k / depth·width rows).

    The single partition comes from ``parallelize(rows, 1)``, NOT
    ``createDataFrame(rows).coalesce(1)``: the latter parallelizes the
    driver rows across default-parallelism Python partitions and then
    makes ONE task drain all of them serially through the Python
    runner — measured ~5-7 s per publish for a 1024-row sketch vs
    ~0.4 s this way (r14 profiling; at 4+ publishes per backlog that
    was the entire fold cost)."""
    if rows:
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema)
    else:
        df = spark.createDataFrame([], schema)
    df.write.mode("overwrite").parquet(
        os.path.join(state_path, f"v={batch_id}"))
    for d in os.listdir(state_path):
        if d.startswith("v=") and d[2:].isdigit() and int(d[2:]) != batch_id:
            shutil.rmtree(os.path.join(state_path, d), ignore_errors=True)


def _check_fold_coherence(batch_id: int, watermark: int | None,
                          what: str) -> bool:
    """True = fold this batch; False = legitimate replay, skip.
    Raises on the checkpoint-reset signature (streaming/coherence.py
    discipline: ids restart behind the persisted watermark)."""
    if watermark is None or batch_id > watermark:
        return True
    if batch_id == watermark:
        return False  # the one replayable uncommitted batch
    raise RuntimeError(
        f"{what} fold state holds watermark={watermark} but the stream "
        f"delivered batch_id={batch_id}: the streaming checkpoint was "
        "reset or relocated independently of the sketch state path. "
        "Proceeding would silently skip fresh batches — wipe checkpoint "
        "AND state path together, or restore the original checkpoint."
    )


def fold_stream(stream_df: DataFrame,
                batch_fn: Callable[[DataFrame], DataFrame],
                merge_fn: Callable[[list, list], list], schema: str,
                what: str, state_path: str | None,
                checkpoint_dir: str | None) -> tuple[list, int, int]:
    """Run one sketch fold over a streaming DataFrame to completion
    (availableNow) — the ONE place the versioned-watermark protocol
    (module docstring) runs. The running sketch is the sorted list of
    row tuples that ``schema`` describes and the durable mode
    publishes. Per micro-batch: the coherence check (a replay skips
    with no Spark job), ONE bounded collect of ``batch_fn(batch_df)``
    (≤ k or depth·width rows by the sketch's definition), then
    ``rows = merge_fn(rows, batch_rows)`` driver-side, the publish,
    and the watermark advance. ``merge_fn`` must return the rows
    sorted, so the in-memory state and the published state are the
    same list. State is read only when ``state_path`` is set.

    Returns ``(rows, n_folded, n_skipped)``."""
    spark = stream_df.sparkSession
    wm, rows = (
        _read_fold_state(spark, state_path, schema)
        if state_path else (None, [])
    )
    state: dict = {"rows": [tuple(r) for r in rows], "wm": wm,
                   "folded": 0, "skipped": 0}

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _check_fold_coherence(batch_id, state["wm"], what):
            state["skipped"] += 1
            return
        batch_rows = [tuple(r) for r in batch_fn(batch_df).collect()]
        state["rows"] = merge_fn(state["rows"], batch_rows)
        if state_path:
            _publish_fold_state(
                spark, state_path, schema, state["rows"], batch_id)
        state["wm"] = batch_id
        state["folded"] += 1

    writer = stream_df.writeStream.foreachBatch(_fold)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.trigger(availableNow=True).start().awaitTermination()
    return state["rows"], state["folded"], state["skipped"]


def stream_kmv_sketch(stream_df: DataFrame, key_col: str, k: int,
                      prefilter_denom: int | None = None,
                      state_path: str | None = None,
                      checkpoint_dir: str | None = None,
                      ) -> tuple[list[int], int, int]:
    """Fold a KMV distinct sketch over a streaming DataFrame: run the
    backlog to completion (availableNow) with ``foreachBatch``
    computing each micro-batch's bottom-k (distributed — the same
    prefilter-pushed ``kmv_sketch_table`` plan the batch path uses) and
    merging it into the running sketch by union → re-bottom-k.

    With ``state_path`` the running sketch persists across restarts
    under the versioned-watermark protocol (module docstring); the
    union-merge is idempotent, so the watermark skip is belt-and-braces
    here (it spares the replayed batch's scan) — the durability is what
    a restart actually needs, since in-memory state dies with the
    driver. Without it, state is in-process only: exact for a single
    uninterrupted run.

    Returns ``(sorted sketch hashes — ≤ k, n_folded, n_skipped)``.
    State is O(k); per-batch work is one scan of the batch capped at
    k rows after TakeOrdered."""
    from ..operators.profiling import kmv_sketch_table  # noqa: PLC0415

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    rows, folded, skipped = fold_stream(
        stream_df,
        lambda b: kmv_sketch_table(b, key_col, k, prefilter_denom),
        lambda rows, new: sorted(set(rows) | set(new))[:k],
        "h long", "KMV", state_path, checkpoint_dir)
    return [h for (h,) in rows], folded, skipped


def stream_bottomk_sample(stream_df: DataFrame, key_cols: list[str],
                          value_col: str, k: int,
                          prefilter_denom: int | None = None,
                          state_path: str | None = None,
                          checkpoint_dir: str | None = None,
                          ) -> tuple[list[tuple[int, float]], int, int]:
    """Fold a deterministic uniform ROW sample over a streaming
    DataFrame — the third streaming sketch next to KMV (distinct) and
    count-min (frequency), maintaining the quantile-estimation sample
    of sampling.hash_bottomk_sample: per micro-batch, draw the batch's
    bottom-k rows by md5-derived key hash DISTRIBUTED (same
    prefilter-pushed TakeOrdered plan as the batch path, carrying
    ``value_col``), then merge by concatenate → re-bottom-k.

    The merge law holds for MULTISETS (every global bottom-k row is
    inside its own batch's bottom-k, since a batch keeps all rows below
    its own kth-minimum hash), so the folded sample is IDENTICAL to
    the one-shot batch sample regardless of the backlog split — which
    is what lets a sampled-quantile face sit behind the value-exact
    oracle gate (the x124 discipline). Keys must be unique across the
    whole stream (the hash_bottomk_sample precondition); a duplicate
    key arriving in two batches enters once per occurrence, exactly as
    it would in the one-shot sample.

    Durable mode (``state_path``): the k-row sample persists under the
    versioned-watermark protocol (module docstring). The concatenate
    merge is replay-idempotent only WITH the watermark skip (a
    replayed batch would re-append its rows), so durable mode applies
    the same skip/raise rules as the CMS fold.

    Returns ``(sorted (h, value) pairs — ≤ k, n_folded, n_skipped)``;
    driver state O(k); per-batch work one scan capped at k rows."""
    from ..operators.sampling import hash_bottomk_sample  # noqa: PLC0415

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return fold_stream(
        stream_df,
        lambda b: hash_bottomk_sample(b, key_cols, k, prefilter_denom)
        .select(F.col("__sample_h").alias("h"),
                F.col(value_col).cast("double").alias("v")),
        lambda rows, new: sorted(rows + new)[:k],
        "h long, v double", "bottom-k", state_path, checkpoint_dir)


def stream_cms_sketch(stream_df: DataFrame, key_col: str,
                      depth: int = 4, width: int = 256,
                      state_path: str | None = None,
                      checkpoint_dir: str | None = None,
                      ) -> tuple[list[tuple[int, int, int]], int, int]:
    """Fold a count-min sketch over a streaming DataFrame: per
    micro-batch, build the batch-local counter table distributed
    (operators/profiling.count_min_sketch_table — ≤ depth·width rows by
    construction) and ADD it counter-wise into the running sketch —
    the x54/x57 merge algebra for frequencies, exact by linearity:
    counter[i][b] = Σ over batches of the batch's counter, no matter
    how the backlog splits.

    Addition is NOT idempotent, so for anything beyond a single
    uninterrupted availableNow run pass ``state_path`` (+ a durable
    ``checkpoint_dir``): the versioned-watermark protocol (module
    docstring) makes a replayed batch a no-op and a restart resume from
    the persisted counters — certified by the restart-mid-backlog test
    (tests/test_streaming.py) and the x127 face's in-band replay
    exercise.

    Returns ``(sorted (i, b, cnt) rows, n_folded, n_skipped)``; driver
    state is O(depth·width); merge cost O(depth·width) per batch,
    independent of batch size."""
    from ..operators.profiling import count_min_sketch_table  # noqa: PLC0415

    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")

    def _add(rows: list, new: list) -> list:
        counters: Counter = Counter()
        for i, b, cnt in rows + new:
            counters[i, b] += cnt
        return sorted((i, b, cnt) for (i, b), cnt in counters.items())

    return fold_stream(
        stream_df,
        lambda b: count_min_sketch_table(b, key_col, depth, width),
        _add, "i int, b int, cnt long", "count-min", state_path,
        checkpoint_dir)


def stream_kmv_sketch_by_group(stream_df: DataFrame, group_col: str,
                               key_col: str, k: int,
                               prefilter_denom: int | None = None,
                               state_path: str | None = None,
                               checkpoint_dir: str | None = None,
                               ) -> tuple[dict, int, int]:
    """Fold PER-GROUP KMV distinct sketches over a streaming DataFrame
    — the grouped companion of :func:`stream_kmv_sketch` ("live
    distinct-users per source", "vocabulary per language", or several
    corpus membership lanes maintained in ONE backlog pass instead of
    one stream per lane — the x133 shape): ``foreachBatch`` computes
    each micro-batch's per-group bottom-k distributed
    (profiling.kmv_sketch_by_group — a group-partitioned rank window,
    never a global funnel) and merges per group by union →
    re-bottom-k. The per-group merge law is the plain KMV one applied
    group-wise, so each folded sketch equals its one-shot batch sketch
    regardless of the backlog split.

    Durable mode (``state_path``): the ≤ k·|groups|-row state persists
    under the versioned-watermark protocol (module docstring); the
    union-merge is replay-idempotent, so as with the ungrouped fold the
    watermark skip just spares the replayed batch's scan — durability
    is what a restart needs. Same coherence raise on a checkpoint
    reset behind the watermark.

    Returns ``({group: sorted hashes — ≤ k each}, n_folded,
    n_skipped)``. Driver state O(k·|groups|); per-batch work one scan
    capped at k·|groups| rows after the grouped rank.
    """
    from ..operators.profiling import kmv_sketch_by_group  # noqa: PLC0415

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    def _union(rows: list, new: list) -> list:
        lanes: dict = {}
        for g, h in set(rows) | set(new):
            lanes.setdefault(g, []).append(h)
        # a NULL group is a lane too: order it first instead of
        # comparing None with the other group values
        return sorted(((g, h) for g, hs in lanes.items()
                       for h in sorted(hs)[:k]),
                      key=lambda r: (r[0] is not None, r))

    rows, folded, skipped = fold_stream(
        stream_df,
        lambda b: kmv_sketch_by_group(b, group_col, key_col, k,
                                      prefilter_denom),
        _union, "g string, h long", "grouped-KMV", state_path,
        checkpoint_dir)
    groups: dict = {}
    for g, h in rows:
        groups.setdefault(g, []).append(h)
    return groups, folded, skipped
