"""Sequence packing for LLM pretraining (SURVEY.md §2.9 X4 family).

Two packing disciplines, picked by what the training loader needs:

- :func:`pack_sequences` (r2, x34's operator) — per-(source, shard)
  concat-then-split where each document belongs to the pack it STARTS
  in: one window cumulative sum, documents never split, packs may
  overrun ``seq_len`` by up to one document. Right when the loader
  re-chunks anyway and packing only needs locality per source.
  Scale posture: a single ``partitionBy(source)`` window would sort
  each source on ONE reducer, which serializes for giant sources; the
  caller's deterministic ``shard_col`` salts the window key — each
  (source, shard) packs independently and in parallel, at the cost of
  at most one underfilled pack per shard.

- :func:`pack_concat_chunks` (r8) — EXACT corpus-global GPT-style
  packing: documents ordered by content hash, the concatenated token
  stream cut every ``budget`` tokens, documents STRADDLE cut points and
  contribute a (doc, pack) SEGMENT per pack they overlap. Every pack
  except the last is exactly full; the output carries in-doc and
  in-pack offsets so the loader can slice without re-deriving anything.
  The global prefix sum is a two-phase distributed scan over fixed
  HASH BANDS of the ordering key (per-band running sum under a
  partitioned window + a |bands|-row exclusive band-offset table
  broadcast back) — never a single-partition ``Window.orderBy``
  funnel. Hash bands rather than ``repartitionByRange`` (r9): the
  range partitioner costs a separate SAMPLING pass over the input and
  a full-data shuffle for BOTH consumers of the clustered frame
  (column pruning makes the two subtrees non-identical, so the
  exchange is not reused — the r8 form paid the scan+shuffle twice);
  a band computed as ``hash DIV width`` is a pure projection, so the
  offsets side collapses to a map-side-combined partial aggregate
  (only |bands| rows shuffle) and the data shuffles exactly once, for
  the per-band window. The assignment is a pure function of (ids,
  token counts, budget, seed) — band count and cluster layout cannot
  change a single output value. All integer arithmetic over
  md5-derived hashes: an oracle can replay the exact assignment
  (window cumsum + generate_series).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .sampling import content_hash64


def pack_sequences(df: DataFrame, id_col: str, source_col: str,
                   n_tokens_col: str, shard_col: Column,
                   seq_len: int = 2048) -> DataFrame:
    """Assign every document a (shard, pack_id) within its source.

    Output: input columns + ``shard`` + ``pack_id``. Deterministic:
    ordering inside a shard is by ``id_col``; the shard is
    ``shard_col`` cast to int — any deterministic expression of the row
    (e.g. ``pmod(doc_id, 4)``, which a cross-engine oracle can
    reproduce), so the assignment is stable under reprocessing and
    independent of row order."""
    out = df.withColumn("shard", shard_col.cast("int"))
    w = (
        W.partitionBy(source_col, "shard").orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return out.withColumn(
        "pack_id",
        F.floor((F.sum(n_tokens_col).over(w) - F.col(n_tokens_col))
                / F.lit(seq_len)),
    )


def pack_concat_chunks(df: DataFrame, id_col: str, n_tokens_col: str,
                       budget: int, seed: int = 0,
                       validate: bool = True) -> DataFrame:
    """Assign every document its (pack, segment) spans under
    concat-then-chunk packing with ``budget`` tokens per pack.

    Documents with NULL or non-positive token counts are rejected
    loudly — silently dropping them would shift every later document's
    global offset and re-cut every pack downstream of the bad row
    (count tokens first; zero-token docs should be filtered by the
    caller as a curation decision, not vanish inside the packer).
    ``validate=True`` runs that check as an eager column-pruned pass;
    pass ``False`` only when the input provably satisfies the contract
    (e.g. it just came out of a quality filter that floors n_tokens).
    With ``validate=False`` a contract-violating row degrades to a
    SILENT DROP — never corrupt output: bad rows are filtered BEFORE
    the band totals and prefix sums (r9 ADVICE — zero and NULL counts
    are inert in SUM, but a negative count would otherwise subtract
    from every later document's offset), so the packing exactly equals
    packing the pre-filtered input. (Without the later ``__n > 0``
    fan-out guard, a zero-token row whose global start lands on a pack
    boundary would make ``__p1 < __p0`` and ``sequence()`` fan out a
    DESCENDING range — bogus negative-length segments, r8 ADVICE; it
    stays as a belt-and-suspenders no-op.)

    Returns ``id_col, pack_id, seg_start, seg_len, pack_offset`` with
    one row per (document, pack) segment, ordered arbitrarily (sort by
    (pack_id, pack_offset) to materialize training order).
    """
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    reserved = {"__ph", "__band", "__n", "__start", "__boff", "__btot",
                "__p0", "__p1", "pack_id", "seg_start", "seg_len",
                "pack_offset"}
    clash = [c for c in df.columns if c in reserved]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with pack_concat_chunks "
            "internals — rename them first (bloom.py reserved-name rule)"
        )

    h = content_hash64(
        F.concat_ws(":", F.col(id_col).cast("string"),
                    F.lit(str(int(seed))))
    )
    base = df.select(
        F.col(id_col),
        F.col(n_tokens_col).cast("bigint").alias("__n"),
    ).withColumn("__ph", h)

    # fail-loud contract on token counts (see docstring)
    bad = base.filter(F.col("__n").isNull() | (F.col("__n") <= 0))
    if validate and bad.take(1):
        raise ValueError(
            f"pack_concat_chunks: {n_tokens_col} must be a positive "
            "token count for every row — found NULL or <= 0; filter or "
            "fix upstream (a silent drop would shift every later "
            "document's pack assignment)"
        )
    # Drop contract-violating rows BEFORE the band totals and prefix
    # sums (r9 ADVICE): NULL and zero counts are inert in SUM, but a
    # NEGATIVE count would subtract from every later document's global
    # offset — filtering here makes the validate=False silent-drop
    # semantics exactly equal packing the pre-filtered input. Under
    # validate=True the filter matches no rows (the check above raised
    # otherwise).
    base = base.filter(F.col("__n") > 0)

    # phase 1: assign each row a fixed-width HASH BAND of the ordering
    # key — a pure projection (no range partitioner, no sampling pass;
    # see module docstring). Band widths follow the epoch_shuffle md5
    # band arithmetic (content_hash64 spans [0, 2^60)); any band count
    # yields the identical output, so it only tunes parallelism.
    from .sampling import md5_band_width

    parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    n_bands = parts * 4
    width = md5_band_width(n_bands)
    banded = base.withColumn(
        "__band", F.expr(f"__ph DIV {width}").cast("int")
    )

    # phase 2: per-band totals → exclusive band offsets. The partial
    # aggregate combines map-side, so only |bands| rows shuffle; the
    # single-partition window over them is a few KB, then broadcast
    # back.
    offsets = (
        banded.groupBy("__band")
        .agg(F.sum("__n").alias("__btot"))
        .withColumn(
            "__boff",
            F.coalesce(
                F.sum("__btot").over(
                    W.orderBy("__band")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__band", "__boff")
    )

    # phase 3: within-band running sum (parallel — partitioned window,
    # the ONE full-data shuffle), plus the band offset ⇒ exclusive
    # global start.
    w_in = W.partitionBy("__band").orderBy("__ph", id_col)
    spans = (
        banded.join(F.broadcast(offsets), "__band")
        .withColumn(
            "__start",
            F.col("__boff")
            + F.coalesce(
                F.sum("__n").over(
                    w_in.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .select(id_col, "__n", "__start")
    )

    # segment fan-out: doc spans [start, start+n) → one row per pack it
    # overlaps; pure long arithmetic, identical in any engine. The
    # __n > 0 guard makes validate=False degrade to a silent drop of
    # contract-violating rows instead of emitting corrupt descending
    # sequences (see docstring); under validate=True it matches no row.
    b = F.lit(int(budget))
    seg = (
        spans.filter(F.col("__n") > 0)
        .withColumn("__p0", F.expr(f"__start DIV {int(budget)}"))
        .withColumn("__p1", F.expr(f"(__start + __n - 1) DIV {int(budget)}"))
        .withColumn("pack_id", F.explode(F.sequence("__p0", "__p1")))
        .withColumn(
            "seg_start",
            F.greatest(F.lit(0), F.col("pack_id") * b - F.col("__start")),
        )
        .withColumn(
            "seg_len",
            F.least(F.col("__n"),
                    (F.col("pack_id") + 1) * b - F.col("__start"))
            - F.col("seg_start"),
        )
        .withColumn(
            "pack_offset",
            F.col("__start") + F.col("seg_start") - F.col("pack_id") * b,
        )
    )
    return seg.select(id_col, "pack_id", "seg_start", "seg_len",
                      "pack_offset")
