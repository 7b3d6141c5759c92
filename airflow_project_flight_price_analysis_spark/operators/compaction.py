"""Small-file compaction — the table-maintenance operator every long-lived
100 TB lake needs.

Incremental appends (the flight pipeline's bronze table grows by one
batch of files per run) and fine-grained upserts produce many small
files; small files poison scan parallelism (one task per file),
NameNode/listing pressure, and parquet footer overhead. Compaction
rewrites a table directory into size-targeted files.

Mechanism: size the output file count from the actual stored bytes
(``target_file_bytes``), as the path's Hadoop ``FileSystem`` reports
them — so a plain path, a ``file://`` URI and an object-store URI size
alike — then rewrite via ``repartition(n)``, a round-robin shuffle
yielding evenly-sized files. Partitioned tables compact per
partition-directory in real deployments; this operator handles one
directory = one partition's worth, the unit a maintenance job schedules.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from ..session import hadoop_fs


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of the data files under ``path`` (recursive), skipping
    ``_``/``.`` metadata files such as ``_SUCCESS`` and checksums."""
    fs, jpath = hadoop_fs(spark, path)
    files = fs.listFiles(jpath, True)
    total = 0
    while files.hasNext():
        status = files.next()
        if not status.getPath().getName().startswith(("_", ".")):
            total += status.getLen()
    return total


def compact_parquet(spark: SparkSession, path: str, out_path: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Rewrite the parquet directory at ``path`` into ``out_path`` with
    ~``target_file_bytes`` files. Returns the chosen file count.

    Writes to a NEW directory (atomic swap is the caller's move/rename —
    never compact in place; readers must see either the old or the new
    file set, and parquet directories aren't transactional)."""
    n = max(1, math.ceil(dir_bytes(spark, path) / target_file_bytes))
    spark.read.parquet(path).repartition(n) \
        .write.mode("overwrite").parquet(out_path)
    return n
