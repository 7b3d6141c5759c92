"""Small-file compaction — the table-maintenance operator every long-lived
100 TB lake needs.

Micro-batch ingestion (streaming/neardup.py appends per trigger) and
fine-grained upserts produce many small files; small files poison scan
parallelism (one task per file), NameNode/listing pressure, and parquet
footer overhead. Compaction rewrites a table directory into
size-targeted files.

Mechanism: size the output file count from the actual on-disk bytes
(``target_file_bytes``), then rewrite via ``repartition(n)`` — a round-
robin shuffle yielding evenly-sized files — or ``coalesce(n)`` (no
shuffle, but uneven and only merges within existing locality) when the
caller prefers shuffle-avoidance over balance. Partitioned tables compact
per partition-directory in real deployments; this operator handles one
directory = one partition's worth, the unit a maintenance job schedules.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_parquet(spark: SparkSession, path: str, out_path: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    shuffle: bool = True) -> int:
    """Rewrite the parquet directory at ``path`` into ``out_path`` with
    ~``target_file_bytes`` files. Returns the chosen file count.

    Writes to a NEW directory (atomic swap is the caller's move/rename —
    never compact in place; readers must see either the old or the new
    file set, and parquet directories aren't transactional)."""
    n = max(1, math.ceil(dir_bytes(path) / target_file_bytes))
    df: DataFrame = spark.read.parquet(path)
    df = df.repartition(n) if shuffle else df.coalesce(n)
    df.write.mode("overwrite").parquet(out_path)
    return n
