"""Concurrency semantics of the bucketed copy-on-write MERGE table
(operators/transactional.py — r2 VERDICT missing #1).

The dangerous interleaving is: writer B reads state N, writer A commits
N+1, writer B commits its diff computed against the now-stale N. A naive
read-diff-append duplicates every key both writers saw as new. The
protocol must instead force B into a conflict + rebase.
"""

from __future__ import annotations

import pytest

from airflow_project_flight_price_analysis_spark.operators.transactional import (
    BucketedMergeTable,
    CommitConflict,
)


# --- BucketedMergeTable: bucket-granular copy-on-write MERGE (r7) ----------

def _bm(tmp_path, n_buckets=8):
    return BucketedMergeTable(str(tmp_path / "bm"), "k", n_buckets=n_buckets)


def _rows(t, spark):
    df = t.read(spark)
    return sorted((r.k, r.v) for r in df.collect()) if df is not None else []


def test_merge_update_and_insert_semantics(spark, tmp_path):
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    # update 2, insert 4
    t.merge(spark, spark.createDataFrame(
        [(2, "B"), (4, "d")], "k long, v string"))
    assert _rows(t, spark) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]


def test_merge_delete_semantics(spark, tmp_path):
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    t.merge(spark, spark.createDataFrame(
        [(2, "ignored", "delete"), (9, "no-op", "delete")],
        "k long, v string, op string"), op_col="op")
    assert _rows(t, spark) == [(1, "a"), (3, "c")]


def test_merge_rewrites_only_changed_buckets(spark, tmp_path):
    """The copy-on-write contract: buckets without source keys carry
    forward BY REFERENCE — their manifest entries are byte-identical
    across the commit."""
    t = _bm(tmp_path, n_buckets=16)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(64)],
                                 "k long, v string")
    t.merge(spark, base)
    man1 = t._manifest(t.latest_version())
    t.merge(spark, spark.createDataFrame([(5, "V5")], "k long, v string"))
    man2 = t._manifest(t.latest_version())
    changed = [b for b in man1 if man1[b] != man2.get(b)]
    assert len(changed) == 1  # exactly key 5's bucket rewrote
    carried = [b for b in man1 if man1[b] == man2.get(b)]
    assert len(carried) == len(man1) - 1
    assert _rows(t, spark)[5] == (5, "V5")


def test_merge_conflict_rebases_and_both_commits_land(spark, tmp_path):
    """Concurrent-writer seam: writer A reads v1, writer B commits v2,
    A's first commit attempt conflicts, A rebases onto B's state —
    both merges are visible in the final table."""
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame([(1, "a")], "k long, v string"))

    def interleave():
        t2 = _bm(tmp_path)
        t2.merge(spark, spark.createDataFrame(
            [(2, "b")], "k long, v string"))

    v = t.merge(
        spark, spark.createDataFrame([(3, "c")], "k long, v string"),
        _test_between_read_and_commit=interleave,
    )
    assert v == 3
    assert _rows(t, spark) == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_time_travel_and_empty_delete(spark, tmp_path):
    t = _bm(tmp_path, n_buckets=4)
    t.merge(spark, spark.createDataFrame([(1, "a"), (2, "b")],
                                         "k long, v string"))
    t.merge(spark, spark.createDataFrame([(1, "x", "delete"),
                                          (2, "x", "delete")],
                                         "k long, v string, op string"),
            op_col="op")
    assert _rows(t, spark) == []                      # emptied
    old = t.read(spark, version=1)
    assert sorted((r.k, r.v) for r in old.collect()) == [(1, "a"), (2, "b")]


def test_in_batch_duplicate_keys_deduped_deterministically(spark, tmp_path):
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame(
        [(1, "Zeta"), (1, "Alpha"), (1, "Mid")], "k long, v string"))
    assert _rows(t, spark) == [(1, "Alpha")]  # min-struct, order-free


def test_interleaved_upserts_do_not_duplicate_keys(spark, tmp_path):
    """Writer B reads the base, writer A commits in between touching a key
    B also merges; B must conflict, rebase onto A's state and retry — the
    shared key lands once, with B's later value, and A's other write
    survives."""
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame([(1, "a")], "k long, v string"))

    def concurrent_writer_a():
        _bm(tmp_path).merge(spark, spark.createDataFrame(
            [(2, "b-from-A"), (3, "shared-from-A")], "k long, v string"))

    v = t.merge(
        spark,
        spark.createDataFrame([(3, "shared-from-B"), (4, "d")],
                              "k long, v string"),
        _test_between_read_and_commit=concurrent_writer_a,
    )
    assert v == 3  # base was 1, A took 2, B rebased onto 2 and committed 3
    assert _rows(t, spark) == [
        (1, "a"), (2, "b-from-A"), (3, "shared-from-B"), (4, "d")]


def test_reader_never_sees_uncommitted_snapshot(spark, tmp_path):
    """A crashed writer leaves snapshot data and a manifest but never
    links its commit marker: readers keep seeing the last commit."""
    import json
    import os

    t = _bm(tmp_path, n_buckets=4)
    t.merge(spark, spark.createDataFrame([(1, "a")], "k long, v string"))
    ghost = os.path.join("data", "deadbeef", "__bucket=0")
    spark.createDataFrame([(99, "ghost")], "k long, v string").write.parquet(
        os.path.join(t.root, ghost))
    with open(os.path.join(t.root, "manifests", "deadbeef.json"), "w",
              encoding="utf-8") as f:
        json.dump({"0": ghost}, f)
    assert t.latest_version() == 1
    assert _rows(t, spark) == [(1, "a")]


def test_commit_conflict_exhausts_retries(spark, tmp_path):
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame([(1, "a")], "k long, v string"))

    class AlwaysConflict(BucketedMergeTable):
        def _try_commit(self, manifest, version):
            raise CommitConflict("forced")

    t2 = AlwaysConflict(t.root, t.key, t.n_buckets)
    with pytest.raises(CommitConflict, match="gave up"):
        t2.merge(spark, spark.createDataFrame([(5, "e")], "k long, v string"),
                 max_retries=2)
    assert t.latest_version() == 1


def test_merge_null_key_is_null_safe(spark, tmp_path):
    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame([(None, "a"), (1, "b")],
                                         "k long, v string"))
    t.merge(spark, spark.createDataFrame([(None, "A")], "k long, v string"))
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(None, "A"), (1, "b")}


def test_table_properties_pin_and_reject_mismatch(spark, tmp_path):
    """r7 ADVICE: (key, n_buckets) define bucket routing, so they are
    pinned in table_properties.json on first open; a mismatched reopen
    fails loudly instead of silently mis-routing."""
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.transactional import (
        BucketedMergeTable,
    )

    root = str(tmp_path / "bm")
    t = BucketedMergeTable(root, "k", n_buckets=4)
    t.merge(spark, spark.createDataFrame([(1, "a")], "k long, v string"))

    # mismatched n_buckets → routing would split keys across handles
    with pytest.raises(ValueError, match="mis-route"):
        BucketedMergeTable(root, "k", n_buckets=16)
    # mismatched key → same failure
    with pytest.raises(ValueError, match="mis-route"):
        BucketedMergeTable(root, "other", n_buckets=4)
    # a layout this code does not read
    props = tmp_path / "bm" / "table_properties.json"
    props.write_text(props.read_text().replace('"format_version": 1', '"format_version": 2'))
    with pytest.raises(ValueError, match="format_version 2"):
        BucketedMergeTable(root, "k", n_buckets=4)


# --- snapshot_diff (q87) ------------------------------------------------------

def test_snapshot_diff_statuses_and_flags(spark, tmp_path):
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.transactional import (
        BucketedMergeTable,
        snapshot_diff,
    )

    t = BucketedMergeTable(str(tmp_path / "t"), "k", n_buckets=4)
    v1_rows = [(1, 10, "a"), (2, 20, None), (3, 30, "c"), (4, 40, "d")]
    t.merge(spark, spark.createDataFrame(v1_rows, "k long, v long, s string"))
    # v2: change k=1 (value), change k=2 (NULL -> non-NULL: null-safe
    # struct compare must call this 'changed', not 'unchanged'),
    # delete k=3, add k=9
    t.merge(spark, spark.createDataFrame(
        [(1, 11, "a"), (2, 20, "z"), (9, 90, "i")],
        "k long, v long, s string"))
    t.merge(spark, spark.createDataFrame([(3, 0, "", "delete")],
                                         "k long, v long, s string, op string"),
            op_col="op")
    got = {r.k: r for r in snapshot_diff(spark, t, 1, 3).collect()}
    # the unchanged k=4 is excluded
    assert {k: r.diff_status for k, r in got.items()} == \
        {1: "changed", 2: "changed", 3: "removed", 9: "added"}
    assert got[1].old_v == 10 and got[1].new_v == 11
    assert got[2].old_s is None and got[2].new_s == "z"
    assert got[3].new_v is None and got[9].old_v is None
    # identical versions diff to empty
    assert snapshot_diff(spark, t, 2, 2).count() == 0
    # missing version raises
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_diff(spark, t, 1, 99)


def test_merge_mixed_op_batch(spark, tmp_path):
    """op_col routes a single CDC batch: upsert rows update/insert,
    delete rows remove their matched base row and never insert; the
    op column itself is never stored (r13 verdict item 7)."""
    from pyspark.sql import functions as F

    t = _bm(tmp_path)
    t.merge(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    mixed = spark.createDataFrame(
        [(2, "B", "upsert"),    # update
         (4, "d", "upsert"),    # insert
         (3, "x", "delete"),    # delete matched
         (9, "y", "delete")],   # delete unmatched: no-op, never inserts
        "k long, v string, __op string")
    v = t.merge(spark, mixed, op_col="__op")
    assert v == 2  # ONE commit for the whole batch
    assert _rows(t, spark) == [(1, "a"), (2, "B"), (4, "d")]
    assert t.read(spark).columns == ["k", "v"]  # op col not stored


def test_merge_writes_one_file_per_bucket(spark, tmp_path):
    """The bucket-clustered write: each commit lands exactly one data
    file per non-empty bucket, not one per (task x bucket) — the r13
    small-files finding (1500+ files across a three-commit history)."""
    import glob
    import os

    t = _bm(tmp_path, n_buckets=4)
    src = spark.createDataFrame([(i, f"v{i}") for i in range(100)],
                                "k long, v string").repartition(16)
    t.merge(spark, src)
    man = t._manifest(t.latest_version())
    for rel in man.values():
        files = glob.glob(os.path.join(str(tmp_path / "bm"), rel,
                                       "part-*.parquet"))
        assert len(files) == 1, rel
