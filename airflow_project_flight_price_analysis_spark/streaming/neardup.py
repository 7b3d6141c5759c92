"""Streaming near-duplicate ingest — incremental MinHash/LSH dedup of a
document stream against the already-ingested corpus.

The batch near-dup operators (operators/dedup.py) answer "which pairs
inside THIS table are near-duplicates". An ingest pipeline needs the
incremental question: "which NEW documents are near-duplicates of
anything the corpus already holds (or of each other), and how do the
corpus sketches grow as clean documents land" — without ever
re-sketching the 100 TB corpus per batch. Reference analog:
``dags/tasks/ingestion.py:88-127`` keeps an md5 ledger for EXACT
replay dedup (our ``operators/star.py`` hash ledger); this module is the
extension-surface near-dup version of the same ledger discipline
(SURVEY.md §2.9), with the signature table playing the ledger.

Mechanics per micro-batch (foreachBatch — the join
topology here: explode-to-bands + two joins + groupBy is beyond what
an append-mode streaming plan may contain, and the ledger must be
re-READ each epoch, which a stream-static join would freeze at query
start):

- sketch ONLY the batch: ``minhash_signatures`` over the new docs
  (|batch| × num_hashes longs);
- LSH against the ledger: band the batch signatures and the ledger
  signatures, equi-join on (band, bucket) — per-bucket joins, the
  |batch| × |corpus| pair space never materializes — then verify
  candidates on estimated Jaccard ≥ threshold;
- in-batch screen: the same banding self-joined (a < b), so two
  near-identical documents arriving in one epoch cannot both pass
  (keep-lowest-id survives, matching ``minhash_dedup``);
- split: flagged rows carry (matched_id, est_jaccard, reason); clean
  rows append to the corpus sink and their SIGNATURES append to the
  ledger — the corpus is never re-sketched.

Exactly-once: all three writes key on ``epoch_id`` with dynamic
partition overwrite (replay-idempotent), and the screen
reads the ledger restricted to ``epoch_id < current`` — so an epoch
replay sees exactly the pre-epoch corpus (not its own first-attempt
signatures, which would flag every replayed doc as a dup of itself),
recomputes the identical split, and overwrites identical partitions
instead of appending duplicates.

**Operational invariant**: epoch ids are CHECKPOINT-scoped, so the
checkpoint and the three output paths (clean/flagged/ledger) form one
unit — wipe or relocate them TOGETHER, never separately. The sink
enforces this (``check_ledger_coherence``): a ledger already holding
epochs beyond the current one means the checkpoint was reset
underneath persisted outputs, and the sink raises instead of silently
screening against an empty ledger and clobbering prior partitions.
The same pre-write check pins sketch geometry (every ledger signature
must have exactly ``num_hashes`` elements).

Scale notes: the per-epoch cost is |batch|·num_hashes sketching plus a
bucket join whose ledger side is partition-pruned only by bucket — at
very large corpora, bucket the ledger table on (band, bucket) so the
join co-locates (operators/partitioning.py), and raise ``num_bands``
cautiously (recall ↑, candidate volume ↑). The est-Jaccard verify
bounds false flags exactly as in the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _banded,
    minhash_signatures,
    require_band_geometry,
)
from ..operators.star import path_exists

SIG_SCHEMA = "id bigint, sig array<bigint>, epoch_id bigint"


def read_sig_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """The corpus signature table; empty-but-typed only when the path
    is GENUINELY absent (first epoch / wiped warehouse). Any other
    failure — corrupt parquet, permissions — must surface (the
    operators/star.py ``read_ledger`` discipline): swallowing it would
    silently disable screening for the epoch and pollute the corpus
    with near-duplicates."""
    if not path_exists(spark, ledger_path):
        return spark.createDataFrame([], SIG_SCHEMA)
    return spark.read.schema(SIG_SCHEMA).parquet(ledger_path)


def check_ledger_coherence(ledger: DataFrame, epoch_id: int,
                           num_hashes: int) -> None:
    """Fail LOUDLY on the two silent-corruption modes (ADVICE r7):

    - **Checkpoint/ledger incoherence.** Epoch ids are checkpoint-scoped:
      if the checkpoint is wiped/relocated while the clean/flagged/ledger
      parquet persists, epoch ids restart at 0, the ``epoch_id <
      current`` screen filter silently empties the ledger (screening
      disabled — near-dups admitted), and dynamic partition overwrite
      clobbers the prior epoch-0/1/... partitions in all three sinks.
      A ledger already holding ``epoch_id >= current`` beyond the replay
      window is exactly that signature; raise instead of proceeding.
      (Replay of the CURRENT epoch is legitimate — its own first-attempt
      partition may exist — so the check is ``> epoch_id``, not ``>=``.)
    - **Sketch-geometry drift.** A ledger written with a different
      ``num_hashes`` makes ``zip_with`` pad with NULLs, est_jaccard goes
      NULL, and every cross-epoch match is silently DROPPED instead of
      failing. Assert every ledger signature has exactly ``num_hashes``
      elements.

    One aggregate pass over the ledger per epoch (three scalar
    columns); the screen's bucket join reads the same table anyway, so
    the marginal cost is one extra columnar scan of (epoch_id,
    size(sig)) — and max(epoch_id) prunes to partition metadata.

    The guard itself lives in streaming/coherence.py."""
    from .coherence import check_epoch_coherence

    check_epoch_coherence(ledger, epoch_id, num_hashes)


def _est_jaccard(num_hashes: int):
    return (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0), lambda acc, v: acc + v,
        ) / F.lit(num_hashes)
    )


def _best_match_per_id(cands: DataFrame) -> DataFrame:
    """Collapse (id, cand_id, est_jaccard) candidates to one row per
    id: max estimate, min cand_id as the deterministic tie-break."""
    best = F.struct(
        F.col("est_jaccard"), (-F.col("cand_id")).alias("neg_id")
    )
    return (
        cands.groupBy("id")
        .agg(F.max(best).alias("b"))
        .select(
            "id",
            (-F.col("b.neg_id")).cast("bigint").alias("matched_id"),
            F.round("b.est_jaccard", 6).alias("est_jaccard"),
        )
    )


def _screen(probe_banded: DataFrame, index_banded: DataFrame,
            pair_cond, probe_id, index_id, *,
            threshold: float, num_hashes: int) -> DataFrame:
    """Shared core of both screens: band-bucket equi-join under
    ``pair_cond``, est-Jaccard verify, best match per probe id."""
    cands = (
        probe_banded.join(index_banded, pair_cond)
        .select(probe_id.alias("id"), index_id.alias("cand_id"),
                F.col("p.sig").alias("sig_a"), F.col("x.sig").alias("sig_b"))
        .distinct()
        .withColumn("est_jaccard", _est_jaccard(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
    )
    return _best_match_per_id(cands)


def screen_against_ledger(new_sigs: DataFrame, ledger_sigs: DataFrame,
                          *, threshold: float = 0.7,
                          num_hashes: int = 32,
                          num_bands: int = 8) -> DataFrame:
    """(id, matched_id, est_jaccard) for every new document whose
    estimated Jaccard against SOME ledger document clears the
    threshold. One row per flagged new id (best match: max estimate,
    min matched_id as the deterministic tie-break)."""
    require_band_geometry(num_hashes, num_bands)
    p = _banded(new_sigs, num_bands).alias("p")
    x = _banded(ledger_sigs.select("id", "sig"), num_bands).alias("x")
    return _screen(
        p, x,
        (F.col("p.band") == F.col("x.band"))
        & (F.col("p.bucket") == F.col("x.bucket")),
        F.col("p.id"), F.col("x.id"),
        threshold=threshold, num_hashes=num_hashes,
    )


def screen_within_batch(new_sigs: DataFrame, *, threshold: float = 0.7,
                        num_hashes: int = 32,
                        num_bands: int = 8) -> DataFrame:
    """(id, matched_id, est_jaccard) for the HIGHER id of every
    verified in-batch near-dup pair — keep-lowest-id, matching
    ``minhash_dedup``'s survivor rule."""
    require_band_geometry(num_hashes, num_bands)
    banded = _banded(new_sigs, num_bands)
    p, x = banded.alias("p"), banded.alias("x")
    return _screen(
        p, x,
        (F.col("p.band") == F.col("x.band"))
        & (F.col("p.bucket") == F.col("x.bucket"))
        & (F.col("x.id") < F.col("p.id")),
        F.col("p.id"), F.col("x.id"),
        threshold=threshold, num_hashes=num_hashes,
    )


def make_neardup_sink(clean_path: str, flagged_path: str, ledger_path: str,
                      *, text_col: str = "text", id_col: str = "doc_id",
                      threshold: float = 0.7, num_hashes: int = 32,
                      num_bands: int = 8, shingle_n: int = 3):
    """foreachBatch sink (exposed so tests can replay an epoch directly —
    the exactly-once claim is a replay property, which a happy-path
    stream run never exercises)."""

    def sink(batch: DataFrame, epoch_id: int) -> None:
        sess = batch.sparkSession
        # replay discipline: screen against the PRE-epoch ledger state.
        # An at-least-once replay of epoch N finds N's own signatures
        # already in the ledger (they land partitioned by epoch_id), and
        # screening against them would flag every replayed doc as a
        # near-dup of itself — the epoch filter restores the exact
        # ledger the first attempt saw, so the replay recomputes the
        # identical split and overwrites identical partitions.
        full_ledger = read_sig_ledger(sess, ledger_path)
        # fail loudly on checkpoint/ledger incoherence or geometry drift
        # BEFORE any write — see check_ledger_coherence
        check_ledger_coherence(full_ledger, int(epoch_id), num_hashes)
        ledger = full_ledger.filter(F.col("epoch_id") < int(epoch_id))
        # minhash_signatures already normalizes the id column to "id"
        sigs = minhash_signatures(
            batch, text_col, id_col, num_hashes, shingle_n
        )
        sigs.persist()
        flagged_ids = None
        try:
            vs_corpus = screen_against_ledger(
                sigs, ledger, threshold=threshold,
                num_hashes=num_hashes, num_bands=num_bands,
            ).withColumn("reason", F.lit("corpus_neardup"))
            in_batch = screen_within_batch(
                sigs, threshold=threshold,
                num_hashes=num_hashes, num_bands=num_bands,
            ).withColumn("reason", F.lit("batch_neardup"))
            # corpus match wins the reason; one row per flagged id
            best = F.struct(
                (F.col("reason") == "corpus_neardup").cast("int").alias("pri"),
                F.col("est_jaccard"),
                (-F.col("matched_id")).alias("neg_id"),
                F.col("reason"),
            )
            # persist (r7 review): THREE downstream actions consume
            # flagged_ids (clean write, flagged write, ledger write) —
            # unpersisted, each would recompute BOTH LSH screens
            # including the full corpus-ledger bucket join, tripling
            # the dominant per-epoch cost
            flagged_ids = (
                vs_corpus.unionByName(in_batch)
                .groupBy("id")
                .agg(F.max(best).alias("b"))
                .select(
                    "id",
                    (-F.col("b.neg_id")).cast("bigint").alias("matched_id"),
                    F.col("b.est_jaccard").alias("est_jaccard"),
                    F.col("b.reason").alias("reason"),
                )
            ).persist()
            if id_col == "id":
                flagged = batch.join(flagged_ids, "id")
            else:
                # drop ONLY the join helper column, not any legitimate
                # batch column that happens to be named "id" —
                # drop("id") by name would take both
                fi = flagged_ids.withColumnRenamed("id", "__flag_id")
                flagged = batch.join(
                    fi, F.col(id_col) == F.col("__flag_id")
                ).drop("__flag_id")
            clean = batch.join(
                flagged_ids.select(flagged_ids.id.alias(id_col)),
                id_col, "left_anti",
            )
            ep = F.lit(int(epoch_id))
            for df, path in (
                (clean.withColumn("epoch_id", ep), clean_path),
                (flagged.withColumn("epoch_id", ep), flagged_path),
            ):
                (df.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("epoch_id")
                 .parquet(path))
            clean_ids = clean.select(F.col(id_col).alias("id"))
            (sigs.join(clean_ids, "id")
             .withColumn("epoch_id", ep)
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch_id")
             .parquet(ledger_path))
        finally:
            sigs.unpersist()
            if flagged_ids is not None:
                flagged_ids.unpersist()

    return sink


def start_neardup_stream(docs_stream: DataFrame, clean_path: str,
                         flagged_path: str, ledger_path: str,
                         checkpoint: str, **kw) -> StreamingQuery:
    """Wire the sink to a document stream with availableNow semantics
    (drain-what-exists; production runs the same query continuously)."""
    return (
        docs_stream.writeStream
        .foreachBatch(
            make_neardup_sink(clean_path, flagged_path, ledger_path, **kw)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_sig_ledger(spark: SparkSession, ledger_path: str, out_path: str,
                       upto_epoch: int,
                       target_file_bytes: int = 128 * 1024 * 1024,
                       checkpoint_dir: str | None = None) -> int:
    """Ledger maintenance (r6 verdict item 7): the sink appends one
    epoch partition per micro-batch forever — across months of epochs
    the screen's ledger scan degrades into a many-small-files listing
    problem (operators/compaction.py rationale). Fold every epoch
    ``<= upto_epoch`` into ONE base partition stamped ``upto_epoch``,
    carry later epochs through unchanged, and write a complete NEW
    ledger directory at ``out_path`` (atomic swap is the caller's
    rename — same contract as ``compact_parquet``; never compact in
    place under a running stream).

    Correctness: the screen only ever reads ``epoch_id < current``, so
    collapsing history onto the max compacted epoch preserves every
    future epoch's visible signature set EXACTLY. The one constraint:
    ``upto_epoch`` must be <= the checkpoint's last COMMITTED epoch —
    a replay can only target the epoch after the last commit, which
    sees base + tail identically. (Replaying an epoch <= upto_epoch
    can't happen under an intact checkpoint; if the checkpoint is
    gone, check_ledger_coherence already refuses the restart.) Pass
    ``checkpoint_dir`` to ENFORCE the constraint instead of trusting
    the caller — the r7 review found the scheduled maintenance path
    had no validation at all.

    Returns the base-partition file count — sized from the BASE
    epochs' on-disk bytes only (sizing from the whole ledger would
    over-partition a small base under a large tail, re-creating the
    small-files problem this exists to fix)."""
    import math
    import os

    from ..operators.compaction import dir_bytes

    if checkpoint_dir is not None:
        from .coherence import last_committed_epoch

        last = last_committed_epoch(checkpoint_dir)
        if last is None or upto_epoch > last:
            raise ValueError(
                f"upto_epoch={upto_epoch} exceeds the checkpoint's last "
                f"committed epoch ({last}): folding a replayable epoch "
                "would change its visible ledger on replay. Pass "
                f"upto_epoch <= {last if last is not None else 'N/A'}."
            )
    ledger = read_sig_ledger(spark, ledger_path)
    base = (
        ledger.filter(F.col("epoch_id") <= upto_epoch)
        .withColumn("epoch_id", F.lit(int(upto_epoch)))
    )
    tail = ledger.filter(F.col("epoch_id") > upto_epoch)
    base_bytes = sum(
        dir_bytes(os.path.join(ledger_path, d))
        for d in os.listdir(ledger_path)
        if d.startswith("epoch_id=")
        and int(d.split("=", 1)[1]) <= upto_epoch
    )
    n = max(1, math.ceil(base_bytes / target_file_bytes))
    (base.repartition(n).unionByName(tail)
     .write.mode("overwrite").partitionBy("epoch_id").parquet(out_path))
    return n
