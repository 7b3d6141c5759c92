"""Shared plan-construction helpers (ADVICE r14: the footer-count
logic x83 and x131 both use lived as a private function in
plans/insights.py, creating a cross-module dependency on another plan
file's underscore-private name)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def parquet_num_rows(path: str) -> int | None:
    """Row count from parquet footers only (driver-side, a few KiB of
    metadata IO — the bounded file-footer-stats pattern). Returns
    ``None`` when the footers can't be read locally (non-local
    ``sf_dir`` such as s3:// or hdfs://, or an unexpected layout) —
    callers must treat ``None`` as over-cap and take their shuffled
    fallback rather than fail the plan build (ADVICE r12)."""
    import glob
    import os

    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            parts = sorted(glob.glob(f"{path}/*.parquet")) or sorted(
                glob.glob(f"{path}/part-*"))
            if not parts:
                return None
            return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — any unreadable footer ⇒ size unknown
        return None


def drain_to_memory(stream: DataFrame, prefix: str,
                    output_mode: str) -> DataFrame:
    """Run ``stream`` to completion into the memory sink with an
    ``availableNow`` trigger and return the sink's rows as a batch
    DataFrame, so a streaming face sits behind the same oracle gate as a
    batch one. The sink's temporary view is dropped before returning:
    the returned DataFrame keeps the rows it was resolved against, and
    nothing of the query outlives that DataFrame in the session."""
    import uuid

    spark = stream.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.table(name)
    spark.catalog.dropTempView(name)
    return rows
