"""Multi-dimensional data layout: Z-order clustering for file/row-group skipping.

Hive partitioning (``sources/parquet_sink.py``) prunes on ONE coarse column
chain. At 100 TB the second predicate ("this service AND this user", "this
time range AND this value band") still scans every file inside the partition.
Z-ordering fixes that layer: normalize each clustering column to a fixed-width
integer rank, interleave the bits into a single z-value, then range-partition
and sort the write by it. Files then own small hyper-rectangles of the
clustered space, so parquet min/max stats on EVERY clustered column are
narrow per file, and a selective filter on ANY of them skips most files —
the same mechanism Delta/Iceberg expose as OPTIMIZE ZORDER BY, built here
from public DataFrame primitives:

- per-column min/max: one columnar aggregate (2 scalars per column collected
  to the driver — bounded by contract);
- z-value: a static bit-interleave expression tree (shifts + ORs), JVM-side,
  whole-stage codegen — zero Python in the hot path;
- layout: ``repartitionByRange(n_files, z)`` (range exchange = the one
  shuffle a clustering rewrite fundamentally needs) + ``sortWithinPartitions``
  so row groups inside each file are also z-locally sorted (row-group-level
  skipping inside files, not just file-level).

The skipping benefit is engine-agnostic (file min/max is a parquet property,
not a Spark one) and is asserted by ``tests/test_layout.py`` by measuring how
many files a range predicate actually touches vs a single-column-sorted
layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def _normalize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Min/max-scale a numeric/timestamp column to an integer rank in
    [0, 2^bits). Constant columns (hi == lo) map to 0."""
    span = hi - lo
    if span <= 0:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(lo)) / F.lit(span) * F.lit((1 << bits) - 1)
    return F.least(
        F.greatest(F.floor(scaled), F.lit(0)), F.lit((1 << bits) - 1)
    ).cast("long")


def zorder_column(
    df: DataFrame, cols: list[str], bits: int = DEFAULT_BITS
) -> Column:
    """Build the interleaved z-value expression for ``cols``.

    Interleaving takes bit b of column c to output position ``b * k + c``
    (k = number of columns), so all columns contribute equally at every
    granularity level. k * bits must fit in a signed long (<= 62).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("z-ordering needs >= 2 columns (1 column: just sort)")
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits overflows a signed long")
    # one pass for all ranges; timestamps compare as doubles (epoch seconds)
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
    row = df.agg(*aggs).collect()[0]
    ranges = [(row[2 * i], row[2 * i + 1]) for i in range(k)]
    z = F.lit(0).cast("long")
    for ci, (c, (lo, hi)) in enumerate(zip(cols, ranges)):
        r = _normalize(F.col(c), lo, hi, bits)
        for b in range(bits):
            bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + ci))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = DEFAULT_BITS,
) -> None:
    """Rewrite ``df`` as ``n_files`` z-clustered parquet files at ``path``.

    Range partitioning on z gives equal-sized files (sampled range bounds
    absorb skew); the within-partition sort makes parquet write one
    monotone z-run per file, so per-file AND per-row-group min/max are tight
    on every clustered column.
    """
    z = zorder_column(df, cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )

