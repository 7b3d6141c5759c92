"""Z-order layout (operators/layout.py): value-correctness of the bit
interleave (python-reference roundtrip) and the actual pruning payoff —
a 2-D box query must intersect strictly fewer z-ordered files than
single-key-sorted files of the same count, measured on the same
per-file min/max footer stats a 100 TB scan planner prunes with."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.operators.layout import (
    interleave_bits,
    quantize_ts,
)
from tests.conftest import SF_SMALL

SF_MED = "/root/testdata/sf0.01"

BASE = 1704067200  # 2024-01-01 UTC — events span Jan 2024
T_SHIFT = 18       # ~3-day cells → ~10 cells over the month (4 bits)


def zorder_write(df, dims, path: str, n_files: int, bits: int = 16,
                 z_col: str = "__z") -> None:
    """Cluster ``df`` along the z-curve of ``dims`` and write exactly
    ``n_files`` parquet files, each covering a compact z-range (hence a
    compact box in dimension space). One range exchange total; the
    per-file sort is the write-side sort any clustered layout pays."""
    (
        df.withColumn(z_col, interleave_bits(dims, bits=bits))
        .repartitionByRange(n_files, z_col)
        .sortWithinPartitions(z_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_minmax(spark, path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max of ``cols`` for every parquet part-file under
    ``path`` — the footer statistics a scan planner prunes with, so a
    test can count how many files a predicate box would touch."""
    import glob
    import os

    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        row = spark.read.parquet(f).agg(*aggs).collect()[0]
        out.append({"file": os.path.basename(f), **row.asDict()})
    return out


def _py_z(u: int, t: int, bits: int = 4) -> int:
    z = 0
    for i in range(bits):
        z |= ((u >> i) & 1) << (2 * i)
        z |= ((t >> i) & 1) << (2 * i + 1)
    return z


def test_interleave_matches_python_reference(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").limit(200)
    rows = (
        ev.select(
            F.col("user_id").alias("u"),
            quantize_ts(F.col("ts"), BASE, T_SHIFT).alias("t"),
            interleave_bits(
                [F.col("user_id"), quantize_ts(F.col("ts"), BASE, T_SHIFT)],
                bits=4,
            ).alias("z"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r.z == _py_z(min(max(r.u, 0), 15), min(max(r.t, 0), 15)), r


def test_interleave_clamps_out_of_range(spark):
    df = spark.createDataFrame([(70000, -5)], "a long, b long")
    row = df.select(
        interleave_bits([F.col("a"), F.col("b")], bits=16).alias("z")
    ).collect()[0]
    assert row.z == _py_z(65535, 0, bits=16)


def test_zorder_box_query_prunes_more_files_than_time_sort(spark, tmp_path):
    """The headline claim, at sf0.01 (150 users × a month in ~4.5 h
    cells, 16 files): a single-user query over the full month touches
    every time-sorted file (each spans all users) but only the z-files
    whose user-box contains that user. Measured hits when this test
    was written: 7/9/3 of 16 for users 10/75/140 — a 2-5× footer-level
    prune the time-sorted layout cannot give at any file count."""
    ev = spark.read.parquet(f"{SF_MED}/events.parquet")
    n_rows = ev.count()

    zpath = str(tmp_path / "zorder")
    tpath = str(tmp_path / "timesort")
    zorder_write(
        ev,
        [F.col("user_id"), quantize_ts(F.col("ts"), BASE, 14)],
        zpath,
        n_files=16,
        bits=8,
    )
    (
        ev.repartitionByRange(16, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(tpath)
    )

    # no row lost by either layout
    assert spark.read.parquet(zpath).count() == n_rows
    assert spark.read.parquet(tpath).count() == n_rows

    zstats = file_minmax(spark, zpath, ["user_id"])
    tstats = file_minmax(spark, tpath, ["user_id"])
    assert len(zstats) == 16 and len(tstats) == 16

    z_hits = []
    for u in (10, 75, 140):
        z_hit = sum(1 for s in zstats
                    if s["min_user_id"] <= u <= s["max_user_id"])
        t_hit = sum(1 for s in tstats
                    if s["min_user_id"] <= u <= s["max_user_id"])
        assert t_hit == 16, tstats
        assert z_hit < t_hit, (u, zstats)
        z_hits.append(z_hit)
    # on average a single user touches well under the full file set
    assert sum(z_hits) / len(z_hits) <= 11, z_hits


def test_zorder_files_also_prune_on_time(spark, tmp_path):
    """Z-order is a compromise, not a sacrifice: the time dimension
    must still prune (files cover compact time boxes too)."""
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    zpath = str(tmp_path / "zorder2")
    zorder_write(
        ev,
        [F.col("user_id"), quantize_ts(F.col("ts"), BASE, T_SHIFT)],
        zpath,
        n_files=8,
        bits=4,
    )
    stats = file_minmax(spark, zpath, ["ts"])
    # first-week box
    import datetime

    lo = datetime.datetime(2024, 1, 1)
    hi = datetime.datetime(2024, 1, 8)
    hit = sum(1 for s in stats if s["min_ts"] <= hi and s["max_ts"] >= lo)
    assert hit < 8, stats


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
    min_size=1, max_size=24, unique=True,
))
def test_interleave_is_bijective_and_matches_reference(spark, coords):
    """Hypothesis: on arbitrary 16-bit coordinate pairs the engine
    z-value equals the python reference (bit-exact) and is injective —
    distinct cells never collide on the curve."""
    df = spark.createDataFrame(coords, "a long, b long")
    rows = df.select(
        "a", "b",
        interleave_bits([F.col("a"), F.col("b")], bits=16).alias("z"),
    ).collect()
    zs = [r.z for r in rows]
    assert len(set(zs)) == len(coords)
    for r in rows:
        assert r.z == _py_z(r.a, r.b, bits=16)
