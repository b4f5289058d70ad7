"""Storage layout operators: file compaction and Z-ordered layout.

The reference's at-rest layout is ClickHouse MergeTree with
``ORDER BY (window_start, key)`` (ddl.py:11,24,35). The Spark-native
equivalents, in increasing strength:

1. partition + sortWithinPartitions parquet (streaming sink,
   streaming/sinks.py) — pruning on the partition key, clustered rows
   inside files for scan locality;
2. bucketed tables (``DataFrameWriter.bucketBy``) — pre-shuffled
   storage by join key: two tables bucketed identically join with ZERO
   exchange. At 100 TB this is the difference between re-shuffling a
   fact table per query and never shuffling it at all.

This module adds small-file compaction and a Z-order (Morton) layout
whose footer min/max statistics prune on two columns at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact_files(
    spark,
    in_dir: str,
    out_dir: str,
    target_rows_per_file: int,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a directory of many small
    parquet files into ~ceil(rows / target) size-balanced files,
    optionally range-sorted so min/max footer stats support pruning.

    The 100 TB operational reality behind it: streaming sinks and
    over-parallel writers produce thousands of KB-sized files per
    partition; every downstream scan then pays file-open + footer
    overhead per file and the driver pays listing. Periodic compaction
    is the standard fix (public practice across warehouse/lakehouse
    systems). Row-count-based sizing keeps this deterministic for
    tests; production would size by bytes.

    Returns the number of output files written.
    """
    import math
    import os

    df = spark.read.parquet(in_dir)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    writer = (
        df.repartitionByRange(files, sort_col)
        if sort_col
        else df.repartition(files)
    )
    writer.write.mode("overwrite").parquet(out_dir)
    return len(
        [f for f in os.listdir(out_dir) if f.startswith("part-")]
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Append a Z-order (Morton) key over ``cols``: each column is
    min-max scaled to a ``bits``-wide integer and the bit planes are
    interleaved, so rows close in the key are close in EVERY listed
    dimension at once.

    The lakehouse multi-dimensional clustering primitive: a linear
    sort gives perfect file skipping on the leading column and none on
    the others; Z-ordering gives partial skipping on all of them —
    each file's min/max footer range covers ~2^(-bits_per_dim·level)
    of every dimension instead of 100% of the non-leading ones.

    Pure Column arithmetic (shifts/masks, no UDF); the bounds are a
    one-row aggregate broadcast back to the scan.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(F.col(c)).cast("double").alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c)).cast("double").alias(f"__mx_{c}") for c in cols],
    )
    scaled = df.crossJoin(F.broadcast(bounds))
    max_code = (1 << bits) - 1
    codes = []
    for c in cols:
        span = F.col(f"__mx_{c}") - F.col(f"__mn_{c}")
        frac = F.when(span > 0, (F.col(c) - F.col(f"__mn_{c}")) / span).otherwise(
            F.lit(0.0)
        )
        codes.append(
            F.least(
                F.lit(max_code),
                F.floor(frac * F.lit(max_code + 1)).cast("long"),
            )
        )
    n = len(cols)
    terms = [
        F.shiftleft(
            F.shiftright(codes[i], b).bitwiseAND(F.lit(1)), b * n + i
        )
        for i in range(n)
        for b in range(bits)
    ]
    zkey = reduce(lambda a, t: a + t, terms[1:], terms[0])
    return scaled.withColumn("__zkey", zkey).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]
    )


def write_zordered(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    cols: list[str],
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted by the Z-order key over ``cols`` — every file's footer then
    carries a narrow min/max band on EACH clustered column, so scans
    filtered on any of them prune files (a linear sort only prunes on
    its leading column)."""
    zorder_key(df, cols, bits).repartitionByRange(
        n_files, "__zkey"
    ).sortWithinPartitions("__zkey").drop("__zkey").write.mode(
        "overwrite"
    ).parquet(out_dir)


def zorder_key_int(
    df: DataFrame, cols: list[str], bits: int = 8
) -> DataFrame:
    """Integer-exact Z-order key over INTEGER columns — the oracle-able
    twin of ``zorder_key`` (whose min-max float scaling is fine for
    layout but awkward to hash-compare cross-engine).

    code_c = ((v − min) · 2^bits) div (max − min + 1) — pure integer
    division, exact in any engine — then bit planes interleave exactly
    as in ``zorder_key``. Bounds are a broadcast 1-row aggregate.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(F.col(c)).cast("long").alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c)).cast("long").alias(f"__mx_{c}") for c in cols],
    )
    scaled = df.crossJoin(F.broadcast(bounds))
    codes = [
        F.expr(
            f"(({c} - __mn_{c}) * {1 << bits})"
            f" div (__mx_{c} - __mn_{c} + 1)"
        )
        for c in cols
    ]
    n = len(cols)
    terms = [
        F.shiftleft(
            F.shiftright(codes[i], b).bitwiseAND(F.lit(1)), b * n + i
        )
        for i in range(n)
        for b in range(bits)
    ]
    zkey = reduce(lambda a, t: a + t, terms[1:], terms[0])
    return scaled.withColumn("__zkey", zkey).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]
    )
