"""Z-order (Morton-curve) data layout — multi-dimensional clustering
for scan pruning.

A 100 TB table is usually range-partitioned (and min/max-indexed by the
parquet footers) along ONE dimension — whatever the writer sorted by.
Queries that filter on a *different* dimension then read every file.
Interleaving the bits of two (or more) dimension keys into a single
Morton z-value and range-partitioning + sorting by that z-value gives
every file a small bounding BOX in dimension space instead of a thin
slab: a query box then intersects O(perimeter) files instead of all of
them, and both dimensions prune at the footer level with zero extra
index structures. This is the same layout discipline Delta/Iceberg
``OPTIMIZE ZORDER BY`` applies; here it is a first-class operator over
plain parquet, built from JVM-side bit expressions (no UDFs, no
shuffle beyond the one range-exchange any clustered write needs).

Reference analog: none (extension surface — SURVEY.md §2.9; the
reference's warehouse loads are single-key ``ORDER BY`` inserts).

Design notes:

- ``interleave_bits`` is a pure Column expression (shift/AND/OR chain,
  whole-stage codegen folds it into one projection). ``bits`` per
  dimension is bounded so the z-value fits a signed 64-bit long.
- Quantization is the CALLER's contract: dimensions must already be
  non-negative ints that fit ``bits`` (clamped here for safety, since
  a wrapped coordinate would silently teleport a row across the
  curve). ``quantize_ts`` derives such a coordinate from a timestamp
  against a FIXED epoch base — a constant, not a data-dependent min,
  so the layout is stable across incremental writes.
- A z-ordered write = assign z → ``repartitionByRange`` on z (one
  range exchange, sampled bounds, same cost as any clustered write) →
  ``sortWithinPartitions`` on z → write, with the z column persisted
  so the footer carries its min/max too. x101 certifies the curve
  values against DuckDB.
- The payoff is measurable without a cluster: ``tests/test_layout.py``
  writes that layout, reads each output file's per-dimension min/max
  (the exact stats a scan planner prunes on) and asserts a 2-D box
  query intersects strictly fewer z-ordered files than time-sorted
  files of the same count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(dims: list[Column], bits: int = 16) -> Column:
    """Morton z-value: bit-interleave ``dims`` (each a non-negative
    integral Column using at most ``bits`` low bits) into one long.

    Bit ``i`` of dimension ``j`` lands at position ``i*ndims + j``, so
    ``ndims * bits`` must stay below 63. Coordinates are clamped into
    ``[0, 2^bits)`` first — out-of-range inputs would otherwise alias
    distant cells onto the same curve position.
    """
    ndims = len(dims)
    if not dims:
        raise ValueError("interleave_bits needs at least one dimension")
    if ndims * bits > 62:
        raise ValueError(f"{ndims} dims × {bits} bits overflows a long")
    top = F.lit((1 << bits) - 1).cast("long")
    parts = []
    for j, d in enumerate(dims):
        c = F.greatest(F.lit(0).cast("long"),
                       F.least(d.cast("long"), top))
        for i in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1).cast("long")),
                    i * ndims + j,
                )
            )
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def quantize_ts(ts: Column, base_epoch: int, shift: int) -> Column:
    """Timestamp → curve coordinate: seconds since a FIXED ``base_epoch``
    (a constant — data-dependent bases would re-grid every incremental
    write), right-shifted ``shift`` bits (cell width ``2^shift`` s).
    Negative (pre-base) values clamp to cell 0 inside
    ``interleave_bits``."""
    return F.shiftright(
        F.unix_timestamp(ts).cast("long") - F.lit(base_epoch).cast("long"),
        shift,
    )

