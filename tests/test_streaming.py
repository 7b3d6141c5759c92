"""Structured Streaming tests: memory sink + processAllAvailable drives a
bounded stream to completion synchronously (guide pattern)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.sources import load_table
from airflow_project_flight_price_analysis_spark.streaming import windows as SW
from airflow_project_flight_price_analysis_spark.streaming.coherence import (
    drop_last_commit,
    last_committed_epoch,
)


def _events_stream(spark, tmp_path):
    """Events parquet re-written with micro timestamps, then readStream."""
    src = str(tmp_path / "events_src")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    batch = spark.read.parquet(src)
    return spark.readStream.schema(batch.schema).parquet(src), batch


def _run_to_memory(stream_df, name, output_mode="append"):
    q = (stream_df.writeStream.outputMode(output_mode)
         .format("memory").queryName(name).start())
    q.processAllAvailable()
    q.stop()
    return name


def test_tumbling_counts_match_batch(spark, tmp_path):
    stream, batch = _events_stream(spark, tmp_path)
    name = f"t_{uuid.uuid4().hex[:8]}"
    # complete mode: append would hold back windows above the final
    # watermark (they'd emit on the *next* batch in a live stream)
    _run_to_memory(SW.tumbling_counts(stream, "1 hour"), name, "complete")
    got = spark.sql(f"SELECT * FROM {name}")
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    assert got.count() == expected.count() > 0
    # spot-check one cell end-to-end
    g = {(r.window_start, r.event_type): (r.n, r.total_value) for r in got.collect()}
    e = {(r.win.start, r.event_type): (r.n, r.total_value) for r in expected.collect()}
    assert g == e


def test_session_counts_runs(spark, tmp_path):
    stream, batch = _events_stream(spark, tmp_path)
    name = f"s_{uuid.uuid4().hex[:8]}"
    _run_to_memory(SW.session_counts(stream, gap="30 minutes"), name, "complete")
    got = spark.sql(f"SELECT * FROM {name}")
    n_sessions_stream = got.count()
    assert n_sessions_stream > 0
    # total events across sessions == total events
    assert got.agg(F.sum("n_events")).collect()[0][0] == batch.count()


def test_dedup_within_watermark(spark, tmp_path):
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    dup_src = str(tmp_path / "dup_events")
    events.unionAll(events).write.parquet(dup_src)  # every event twice
    stream = spark.readStream.schema(events.schema).parquet(dup_src)
    name = f"d_{uuid.uuid4().hex[:8]}"
    _run_to_memory(SW.dedup_within_watermark(stream), name)
    got = spark.sql(f"SELECT * FROM {name}")
    assert got.count() == 100
    assert got.select("event_id").distinct().count() == 100


def test_stateful_running_totals_match_batch(spark, tmp_path):
    from airflow_project_flight_price_analysis_spark.streaming.stateful import (
        user_running_totals,
    )

    stream, batch = _events_stream(spark, tmp_path)
    name = f"st_{uuid.uuid4().hex[:8]}"
    _run_to_memory(user_running_totals(stream), name, "update")
    # update mode emits one row per (user, batch-with-data); the LAST
    # emission per user is the lifetime total
    got = spark.sql(
        f"""SELECT user_id, n_events, total_value FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY n_events DESC) rn FROM {name})
            WHERE rn = 1"""
    )
    # the operator accumulates exact integer micro-units (replay-exact,
    # order-independent) and emits micros/1e6 — mirror that arithmetic
    expected = batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.expr("CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) "
                "AS DOUBLE)") / F.lit(1e6)).alias("total_value"),
    )
    g = {r.user_id: (r.n_events, r.total_value) for r in got.collect()}
    e = {r.user_id: (r.n_events, r.total_value) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_memory_sink_face_leaves_no_temp_view(spark):
    """A face drained through the memory sink drops the sink's view once
    its result is resolved (the rows would otherwise stay in the driver
    for the life of the session), and the result still holds them."""
    from airflow_project_flight_price_analysis_spark.plans.extensions import (
        x111_stateful_running_totals,
    )
    from tests.conftest import SF_SMALL

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    out = x111_stateful_running_totals(spark, SF_SMALL)
    assert temp_views() == before
    assert out.count() > 0


def test_stream_static_join(spark, tmp_path):
    """Stream-static join: per-microbatch the static side behaves like a
    broadcast dim — the streaming form of the star schema's FK resolution."""
    stream, batch = _events_stream(spark, tmp_path)
    static_dim = (
        batch.select("user_id").distinct()
        .withColumn("user_tier", F.when(F.col("user_id") % 2 == 0, "even")
                    .otherwise("odd"))
    )
    joined = stream.join(static_dim, "user_id").groupBy("user_tier").count()
    name = f"ss_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, "complete")
    got = {r.user_tier: r["count"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    expected = {
        r.user_tier: r["count"]
        for r in batch.join(static_dim, "user_id").groupBy("user_tier").count().collect()
    }
    assert got == expected and len(got) == 2


def test_stream_interval_join_boundaries(spark, tmp_path):
    """Crafted-data edge cases for the stream-stream interval join: both
    interval endpoints are INCLUSIVE ([left.ts - lookback, left.ts]),
    keys never cross, and out-of-window rows never match."""
    import uuid

    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.streaming.windows import (
        stream_interval_join,
    )

    from datetime import datetime

    def ts(s):
        return datetime.fromisoformat(f"2024-01-01 {s}")

    left_rows = [(100, ts("10:00:00"), 1)]
    right_rows = [
        (200, ts("09:29:59"), 1),  # 1s before the window opens -> out
        (201, ts("09:30:00"), 1),  # exactly lookback before -> in
        (202, ts("10:00:00"), 1),  # equal timestamps -> in
        (203, ts("10:00:01"), 1),  # after the error -> out
        (204, ts("09:45:00"), 2),  # right time, wrong user -> out
    ]
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    schema = "event_id long, ts timestamp, user_id long"
    spark.createDataFrame(left_rows, schema).write.parquet(ldir)
    spark.createDataFrame(right_rows, schema).write.parquet(rdir)
    lstream = spark.readStream.schema(schema).parquet(ldir)
    rstream = spark.readStream.schema(schema).parquet(rdir)

    joined = stream_interval_join(lstream, rstream, key="user_id",
                                  lookback="30 minutes")
    name = "tij_" + uuid.uuid4().hex[:8]
    q = (
        joined.select(F.col("l_event_id").alias("l"), F.col("r_event_id").alias("r"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.l, r.r) for r in spark.table(name).collect()}
    assert got == {(100, 201), (100, 202)}, got


# --------------------------------------------------------------------------
# incremental near-dup screen (operators/dedup.py::screen_against_ledger)
# --------------------------------------------------------------------------

def _doc(i, text):
    return (i, text, "en", "web")


_DOC_SCHEMA = "doc_id long, text string, lang string, source string"

_T1 = ("the quick brown fox jumps over the lazy dog and then runs far "
       "away into the deep green forest before sunset tonight")
_T2 = ("completely different content about database engines and "
       "distributed query planning with cost based optimizers at scale")
_T3 = ("a third unrelated passage describing mountain weather patterns "
       "and the formation of orographic clouds above high ridges")


def test_neardup_screens_have_fixed_points(spark):
    """Two algebraic anchors of the screens: against an EMPTY ledger
    nothing flags; against a ledger equal to the batch every doc flags
    itself at estimated Jaccard exactly 1.0."""
    from airflow_project_flight_price_analysis_spark.operators.dedup import (
        minhash_signatures,
        screen_against_ledger,
    )

    docs = spark.createDataFrame(
        [_doc(1, _T1), _doc(2, _T2), _doc(3, _T3)], _DOC_SCHEMA)
    sigs = minhash_signatures(docs, "text", "doc_id")
    empty = spark.createDataFrame([], "id bigint, sig array<bigint>")
    assert screen_against_ledger(sigs, empty, threshold=0.1).count() == 0
    self_hits = screen_against_ledger(sigs, sigs, threshold=0.99).collect()
    assert sorted((r.id, r.matched_id, r.est_jaccard) for r in self_hits) \
        == [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 1.0)]


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """A Spark-written events.parquet DIRECTORY must stream its rows —
    the old pathGlobFilter matched zero part-files and started a
    silently empty stream."""
    from airflow_project_flight_price_analysis_spark.sources.testdata import (
        events_stream,
    )

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sf = str(tmp_path / "sf")
    batch.limit(50).write.parquet(f"{sf}/events.parquet")  # directory layout
    q = (events_stream(spark, sf)
         .writeStream.format("memory").queryName("evdir")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)  # False = timed out
    assert spark.table("evdir").count() == 50


# --- streaming KMV sketch maintenance (streaming/sketches.py, x124) ----------

def test_stream_kmv_sketch_equals_batch_sketch(spark, tmp_path):
    """The folded streaming sketch must equal the one-shot batch sketch
    REGARDLESS of how the backlog splits into micro-batches (the merge
    law) — here three files with overlapping key ranges, one file per
    trigger."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        kmv_sketch_table,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_kmv_sketch,
    )

    root = str(tmp_path / "backlog")
    whole = spark.range(0, 900).select(F.col("id").alias("key"))
    # overlapping thirds (0-399, 300-699, 500-899): duplicates across
    # batches exercise the distinct-merge, not just concatenation
    for i, (lo, hi) in enumerate([(0, 400), (300, 700), (500, 900)]):
        (whole.filter((F.col("key") >= lo) & (F.col("key") < hi))
         .coalesce(1).write.mode("overwrite").parquet(f"{root}/f{i}"))
    files = spark.read.parquet(f"{root}/f0", f"{root}/f1", f"{root}/f2")
    staged = str(tmp_path / "staged")
    # re-stage as exactly 3 files so maxFilesPerTrigger=1 -> 3 batches
    for i in range(3):
        (spark.read.parquet(f"{root}/f{i}").coalesce(1)
         .write.mode("append").parquet(staged))
    stream = (spark.readStream.schema("key long")
              .option("maxFilesPerTrigger", 1).parquet(staged))
    hs, n_batches, n_skipped = stream_kmv_sketch(stream, "key", 64)
    assert n_batches == 3
    assert n_skipped == 0
    batch = [r.h for r in kmv_sketch_table(files, "key", 64).collect()]
    assert hs == sorted(batch)
    assert len(hs) == 64
    with pytest.raises(ValueError, match="k must be"):
        stream_kmv_sketch(stream, "key", 1)


def test_stream_cms_sketch_equals_batch_sketch(spark, tmp_path):
    """Counter-wise fold across micro-batches == one-shot batch sketch
    (linearity), for a 3-file split with overlapping key ranges."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        count_min_sketch_table,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_cms_sketch,
    )

    whole = spark.range(0, 600).select((F.col("id") % 37).alias("key"))
    staged = str(tmp_path / "staged")
    for lo, hi in [(0, 250), (250, 450), (450, 600)]:
        (whole.filter((F.col("id") >= lo) & (F.col("id") < hi))
         .coalesce(1).write.mode("append").parquet(staged))
    stream = (spark.readStream.schema("key long")
              .option("maxFilesPerTrigger", 1).parquet(staged))
    # the files PARTITION [0,600) exactly — unlike the KMV fold
    # (idempotent set union), CMS counts the multiset, so overlapping
    # file ranges would legitimately double-count; duplicates here
    # exist only in KEYS (id % 37), which is what the counters count
    counters, n_batches, n_skipped = stream_cms_sketch(stream, "key", 3, 32)
    assert n_batches == 3
    assert n_skipped == 0
    batch = sorted((r.i, r.b, r.cnt) for r in
                   count_min_sketch_table(whole, "key", 3, 32).collect())
    assert counters == batch
    with pytest.raises(ValueError, match="depth/width"):
        stream_cms_sketch(stream, "key", 0, 32)


def test_stream_cms_sketch_restart_mid_backlog(spark, tmp_path):
    """The r13 verdict's weak item: kill after N batches, restart, and
    the counters must equal the one-shot sketch — the replayed
    uncommitted batch must NOT double-count (count-min addition is not
    idempotent). Staged as: fold 2 files durably, crash between fold
    and commit, land 2 more files, restart — the replay is skipped via
    the persisted watermark, the fresh files fold on top."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        count_min_sketch_table,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_cms_sketch,
    )

    whole = spark.range(0, 800).select((F.col("id") % 53).alias("key"))
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    spans = [(0, 200), (200, 450), (450, 650), (650, 800)]
    for lo, hi in spans[:2]:
        (whole.filter((F.col("id") >= lo) & (F.col("id") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long")
                .option("maxFilesPerTrigger", 1).parquet(staged))

    c1, folded1, skipped1 = stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt)
    assert (folded1, skipped1) == (2, 0)
    drop_last_commit(ckpt)
    for lo, hi in spans[2:]:
        (whole.filter((F.col("id") >= lo) & (F.col("id") < hi))
         .coalesce(1).write.mode("append").parquet(staged))
    c2, folded2, skipped2 = stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt)
    # batch 1 replayed (skipped via watermark), batches 2-3 are fresh
    assert (folded2, skipped2) == (2, 1)
    one_shot = sorted((r.i, r.b, r.cnt) for r in
                      count_min_sketch_table(whole, "key", 3, 32).collect())
    assert c2 == one_shot
    # and the in-memory fold WOULD have double-counted: the replayed
    # batch is non-empty, so skipping it changed the outcome
    assert c2 != c1


def test_stream_cms_sketch_replay_without_new_data(spark, tmp_path):
    """Pure-replay restart (crash after the LAST batch's fold): the
    second run folds nothing, skips the replayed batch, and the
    persisted counters already equal the one-shot sketch."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        count_min_sketch_table,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_cms_sketch,
    )

    whole = spark.range(0, 300).select((F.col("id") % 29).alias("key"))
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    for lo, hi in [(0, 150), (150, 300)]:
        (whole.filter((F.col("id") >= lo) & (F.col("id") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long")
                .option("maxFilesPerTrigger", 1).parquet(staged))

    assert last_committed_epoch(ckpt) is None  # no checkpoint yet
    c1, folded1, _ = stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt)
    assert folded1 == 2
    assert drop_last_commit(ckpt) == 1
    assert last_committed_epoch(ckpt) == 0  # batch 0's commit is left
    c2, folded2, skipped2 = stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt)
    assert (folded2, skipped2) == (0, 1)
    one_shot = sorted((r.i, r.b, r.cnt) for r in
                      count_min_sketch_table(whole, "key", 3, 32).collect())
    assert c1 == one_shot
    assert c2 == one_shot


def test_stream_kmv_sketch_durable_restart(spark, tmp_path):
    """KMV durable mode: restart resumes from the persisted bottom-k
    (in-memory state dies with the driver) and the watermark skip
    spares the replayed batch's scan; result equals the one-shot
    sketch."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        kmv_sketch_table,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_kmv_sketch,
    )

    whole = spark.range(0, 600).select(F.col("id").alias("key"))
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    for lo, hi in [(0, 300), (200, 600)]:
        (whole.filter((F.col("key") >= lo) & (F.col("key") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long")
                .option("maxFilesPerTrigger", 1).parquet(staged))

    hs1, folded1, _ = stream_kmv_sketch(
        _stream(), "key", 64, state_path=state, checkpoint_dir=ckpt)
    assert folded1 == 2
    drop_last_commit(ckpt)
    hs2, folded2, skipped2 = stream_kmv_sketch(
        _stream(), "key", 64, state_path=state, checkpoint_dir=ckpt)
    assert (folded2, skipped2) == (0, 1)
    batch = sorted(r.h for r in kmv_sketch_table(whole, "key", 64).collect())
    assert hs1 == batch
    assert hs2 == batch


def test_stream_sketch_fold_checkpoint_coherence(spark, tmp_path):
    """Wiping the checkpoint while the sketch state persists restarts
    batch ids at 0 BEHIND the watermark — the fold must raise (the
    streaming/coherence.py hazard), not silently skip fresh data."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_cms_sketch,
    )

    whole = spark.range(0, 200).select((F.col("id") % 17).alias("key"))
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    for lo, hi in [(0, 100), (100, 200)]:
        (whole.filter((F.col("id") >= lo) & (F.col("id") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long")
                .option("maxFilesPerTrigger", 1).parquet(staged))

    from pyspark.errors.exceptions.captured import StreamingQueryException

    _, folded1, _ = stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt)
    assert folded1 == 2
    shutil.rmtree(ckpt)
    # the RuntimeError surfaces wrapped in the engine's query-failure
    # envelope; the coherence message must ride through it
    with pytest.raises(StreamingQueryException, match="reset or relocated"):
        stream_cms_sketch(
            _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt)


def test_stream_bottomk_sample_equals_batch_sample(spark, tmp_path):
    """The folded streaming sample must equal the one-shot batch
    bottom-k sample (multiset merge law) regardless of the backlog
    split; durable restart resumes from the persisted sample and skips
    the replayed batch (concatenate-merge is NOT replay-idempotent
    without the watermark)."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        hash_bottomk_sample,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_bottomk_sample,
    )

    whole = spark.range(0, 900).select(
        F.col("id").alias("key"), (F.col("id") * 1.5).alias("v"))
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    for lo, hi in [(0, 300), (300, 600), (600, 900)]:
        (whole.filter((F.col("key") >= lo) & (F.col("key") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long, v double")
                .option("maxFilesPerTrigger", 1).parquet(staged))

    s1, folded1, _ = stream_bottomk_sample(
        _stream(), ["key"], "v", 64, state_path=state, checkpoint_dir=ckpt)
    assert folded1 == 3
    one_shot = sorted(
        (r["__sample_h"], r["v"]) for r in hash_bottomk_sample(
            whole, ["key"], 64).select("__sample_h", "v").collect())
    assert s1 == one_shot
    assert len(s1) == 64
    # crash after last fold, before commit: replay must be skipped
    drop_last_commit(ckpt)
    s2, folded2, skipped2 = stream_bottomk_sample(
        _stream(), ["key"], "v", 64, state_path=state, checkpoint_dir=ckpt)
    assert (folded2, skipped2) == (0, 1)
    assert s2 == one_shot


def test_stream_kmv_sketch_by_group_equals_batch_sketch(spark, tmp_path):
    """Grouped fold: each lane's folded sketch equals its one-shot
    batch sketch (the merge law per group), for a 3-file backlog with
    overlapping key ranges and uneven lane membership."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        kmv_sketch_by_group,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_kmv_sketch_by_group,
    )

    whole = spark.range(0, 900).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 3 == 0, "m3").otherwise("other").alias("g"),
    )
    staged = str(tmp_path / "staged")
    for lo, hi in [(0, 400), (300, 700), (500, 900)]:
        (whole.filter((F.col("key") >= lo) & (F.col("key") < hi))
         .coalesce(1).write.mode("append").parquet(staged))
    stream = (spark.readStream.schema("key long, g string")
              .option("maxFilesPerTrigger", 1).parquet(staged))
    folded, n_batches, n_skipped = stream_kmv_sketch_by_group(
        stream, "g", "key", 64)
    assert n_batches == 3 and n_skipped == 0
    batch = {}
    for r in kmv_sketch_by_group(whole, "g", "key", 64).collect():
        batch.setdefault(r.g, []).append(r.h)
    assert set(folded) == set(batch)
    for g in batch:
        assert folded[g] == sorted(batch[g]), g
        assert len(folded[g]) == 64
    with pytest.raises(ValueError, match="k must be"):
        stream_kmv_sketch_by_group(stream, "g", "key", 1)


def test_stream_kmv_sketch_by_group_durable_restart(spark, tmp_path):
    """Grouped durable mode: restart resumes every lane from the
    persisted state and the watermark skip spares the replayed batch;
    result equals the one-shot grouped sketch."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        kmv_sketch_by_group,
    )
    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_kmv_sketch_by_group,
    )

    whole = spark.range(0, 600).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("g"),
    )
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    for lo, hi in [(0, 300), (200, 600)]:
        (whole.filter((F.col("key") >= lo) & (F.col("key") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long, g string")
                .option("maxFilesPerTrigger", 1).parquet(staged))

    f1, folded1, _ = stream_kmv_sketch_by_group(
        _stream(), "g", "key", 32, state_path=state, checkpoint_dir=ckpt)
    assert folded1 == 2
    drop_last_commit(ckpt)
    f2, folded2, skipped2 = stream_kmv_sketch_by_group(
        _stream(), "g", "key", 32, state_path=state, checkpoint_dir=ckpt)
    assert (folded2, skipped2) == (0, 1)
    batch = {}
    for r in kmv_sketch_by_group(whole, "g", "key", 32).collect():
        batch.setdefault(r.g, []).append(r.h)
    want = {g: sorted(hs) for g, hs in batch.items()}
    assert f1 == want
    assert f2 == want


def test_stream_sketch_fold_empty_state_is_durable(spark, tmp_path):
    """Batches that filter to ZERO rows still fold: the durable state
    publishes an EMPTY versioned table (the ``createDataFrame([],
    schema)`` branch), its watermark survives a restart so the replay
    is skipped, and the grouped fold returns no lanes at all."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.streaming.sketches import (
        stream_cms_sketch,
        stream_kmv_sketch_by_group,
    )

    whole = spark.range(0, 200).select(
        F.col("id").alias("key"), F.lit("g").alias("g"))
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    for lo, hi in [(0, 100), (100, 200)]:
        (whole.filter((F.col("key") >= lo) & (F.col("key") < hi))
         .coalesce(1).write.mode("append").parquet(staged))

    def _stream():
        return (spark.readStream.schema("key long, g string")
                .option("maxFilesPerTrigger", 1).parquet(staged)
                .filter(F.col("key") < 0))

    assert stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt,
    ) == ([], 2, 0)
    drop_last_commit(ckpt)
    assert stream_cms_sketch(
        _stream(), "key", 3, 32, state_path=state, checkpoint_dir=ckpt,
    ) == ([], 0, 1)
    assert stream_kmv_sketch_by_group(
        _stream(), "g", "key", 32,
        state_path=str(tmp_path / "gstate"),
        checkpoint_dir=str(tmp_path / "gckpt"),
    ) == ({}, 2, 0)


def test_kmv_sketch_by_group_prefilter_lossless_and_validated(spark):
    """The per-group prefilter is lossless while every group keeps
    >= k survivors (same self-certification as kmv_sketch_table), and
    the denom validates."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.profiling import (
        kmv_sketch_by_group,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("key"),
        (F.col("id") % 2).cast("string").alias("g"),
    )
    plain = {(r.g, r.h) for r in
             kmv_sketch_by_group(df, "g", "key", 32).collect()}
    pre = {(r.g, r.h) for r in
           kmv_sketch_by_group(df, "g", "key", 32, 4).collect()}
    assert plain == pre
    with pytest.raises(ValueError, match="prefilter_denom"):
        kmv_sketch_by_group(df, "g", "key", 32, 0)
