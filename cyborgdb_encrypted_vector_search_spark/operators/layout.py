"""Storage-layout operators: time-partitioned (hypertable-style) tables.

The 100 TB relational counterpart of the IVF centroid-partitioned
layout (operators/ann.build_ivf_layout): event/fact tables written as
``event_date=YYYY-MM-DD/`` partition directories so time-range
predicates become PARTITION PRUNING — a 3-day query against a 10-year
table lists and reads 3 directories, zero bytes from the rest. This is
the standard lakehouse ingest layout (one partition per day/hour);
compaction and retention become per-directory operations.

No custom machinery: the layout IS Spark's partitioned parquet write,
and the pruning IS Catalyst's PartitionFilters — the operator exists to
state the layout contract in one place and keep the gate/test honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_time_partitioned(
    df: DataFrame, ts_col: str, path: str, granularity: str = "day"
) -> None:
    """Materialize ``df`` partitioned by the date (or hour) of
    ``ts_col``. The partition column is derived, kept alongside the
    original timestamp (queries still see full precision)."""
    if granularity == "day":
        part = F.to_date(F.col(ts_col))
    elif granularity == "hour":
        part = F.date_trunc("hour", F.col(ts_col))
    else:
        raise ValueError(f"unsupported granularity: {granularity!r}")
    (
        df.withColumn("event_date", part)
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def read_time_range(
    spark: SparkSession, path: str, start_date: str, end_date: str
) -> DataFrame:
    """Scan a time-partitioned table for [start_date, end_date]
    (inclusive): the ``event_date`` predicate is satisfied by partition
    pruning before any file IO — PartitionFilters in the scan, same
    mechanism as the IVF layout's centroid probe.

    The bounds are DAY-inclusive for both granularities: comparing
    ``to_date(event_date)`` (not the raw partition value) keeps the
    contract when the layout is hour-partitioned, where a raw
    ``event_date <= '2024-01-12'`` would cast the bound to midnight and
    silently drop the end day's later hours. ``to_date`` over a
    partition column is deterministic and references only partition
    values, so it stays in PartitionFilters and still prunes."""
    t = spark.read.parquet(path)
    day = F.to_date(F.col("event_date"))
    return t.filter(
        (day >= F.to_date(F.lit(start_date)))
        & (day <= F.to_date(F.lit(end_date)))
    )


# -- Z-order (multi-dimensional clustering) layout --------------------
#
# Partition-by-column solves pruning for ONE dimension; a 100 TB fact
# table is queried by several (ship date AND part, time AND user, ...).
# The lakehouse answer is multi-dimensional clustering: map each row's
# (x, y) to a point on the Z-order space-filling curve and sort the
# table by that curve position before writing. Rows close in BOTH
# dimensions land in the same parquet file, so every file covers a
# tight (x, y) rectangle and its footer min/max statistics exclude it
# from any query box it doesn't intersect — two-dimensional data
# skipping from plain one-dimensional sorting, no custom reader. This
# is the same layout OPTIMIZE ZORDER BY produces in Delta/Iceberg;
# here it is just arithmetic + repartitionByRange + parquet footers.


def zvalue(x: "F.Column", y: "F.Column", bits: int = 14) -> "F.Column":
    """Interleave the low ``bits`` bits of two non-negative ints into
    one Z-order curve position (x in even positions, y in odd). Pure
    built-in bit arithmetic — 2*bits shift/and/or terms, all inside
    whole-stage codegen; no UDF."""
    from functools import reduce

    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), terms).cast("long")


def build_zorder_layout(
    df: DataFrame,
    col_x: str,
    col_y: str,
    path: str,
    bits: int = 14,
    n_files: int = 64,
) -> None:
    """Write ``df`` clustered on the Z-order curve over two numeric
    columns.

    Each dimension is rank-normalized to [0, 2^bits) from its global
    min/max (one tiny agg — a single collected row, bounded at any
    scale), interleaved into a z-value, then ``repartitionByRange`` on
    the z-value + sort-within-partitions lays rows out in curve order
    across ``n_files`` range partitions (range, not hash: contiguous
    curve segments per file is the whole point). The helper z column is
    dropped before the write — the layout needs no extra stored bytes;
    its effect lives entirely in the per-file min/max footer stats of
    the ORIGINAL columns, which the pruned read exploits.

    At 100 TB this is the compaction-time layout job: size n_files so
    each file is ~128 MB-1 GB, and re-run per ingest partition. The
    build is one full shuffle of the table — the same cost as any
    repartition — paid once per compaction, amortized over every
    subsequent multi-dimension query.
    """
    mnx, mxx, mny, mxy = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    top = (1 << bits) - 1

    def norm(col: str, mn, mx) -> "F.Column":
        span = float(max(int(mx) - int(mn), 1))
        return F.floor(
            (F.col(col).cast("double") - float(int(mn))) * (top / span)
        ).cast("int")

    z = zvalue(norm(col_x, mnx, mxx), norm(col_y, mny, mxy), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_zorder_box(
    spark: SparkSession,
    path: str,
    col_x: str,
    col_y: str,
    x_lo,
    x_hi,
    y_lo,
    y_hi,
) -> DataFrame:
    """Scan a z-ordered table for the [x_lo,x_hi] × [y_lo,y_hi] box.

    Nothing layout-specific happens at read time — the predicates are
    ordinary pushed filters (PushedFilters in the scan). The layout
    makes them effective: because each file covers a tight rectangle,
    parquet row-group min/max stats reject most of the table without
    decoding a page. tests/test_layout.py pins the skipping rate from
    the footers themselves."""
    t = spark.read.parquet(path)
    return t.filter(
        (F.col(col_x) >= F.lit(x_lo))
        & (F.col(col_x) <= F.lit(x_hi))
        & (F.col(col_y) >= F.lit(y_lo))
        & (F.col(col_y) <= F.lit(y_hi))
    )


def drop_partitions_before(path: str, cutoff_date: str) -> list[str]:
    """RETENTION for a time-partitioned layout: delete every
    ``event_date=`` partition directory strictly older than
    ``cutoff_date``, returning the dropped partition values.

    This is the lifecycle payoff of partitioning by time: expiring old
    data is a METADATA operation — unlink whole directories — that
    never reads, rewrites, or shuffles surviving rows (contrast with a
    DELETE over an unpartitioned table, which rewrites everything).
    Hour-grain layouts compare on the date prefix of the partition
    value, so a cutoff drops whole days. Concurrent readers that
    already listed files may see missing-file errors for in-flight
    scans of dropped partitions — the same semantics as any object-
    store retention job; run it between query windows or rely on
    ignoreMissingFiles at the session level."""
    import os
    import shutil
    from datetime import date

    cut = date.fromisoformat(cutoff_date)
    dropped: list[str] = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("event_date="):
            continue
        value = name.split("=", 1)[1]
        day = date.fromisoformat(value[:10])
        if day < cut:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(value)
    return dropped


def compact_partitioned_layout(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    partition_col: str = "event_date",
    max_tasks: int = 4,
) -> None:
    """Generic small-file compaction for a partitioned layout (the
    OPTIMIZE of Delta/Iceberg): a long-running ingest appends at least
    one file per touched partition per batch, so directories accumulate
    small files and every later scan pays listing + open + footer cost
    per file — the classic lakehouse small-files problem.

    Compaction is a SHUFFLE-FREE maintenance job: read →
    ``coalesce(max_tasks)`` (narrow, no Exchange — pinned by test) →
    rewrite ``partitionBy(partition_col)``, leaving at most
    ``max_tasks`` files per partition directory. Content is preserved
    byte-for-byte (the gate fingerprints the compacted layout against
    the raw source cross-engine). ``src_path`` is left as it was;
    at cluster scale run one compaction per partition subtree to bound
    task memory and preserve intra-file ordering locality. Serves the
    date-partitioned tables, IVF ``centroid_id=`` layouts grown by
    ann.append_to_ivf_layout, and (with its stats merge)
    retrieval.compact_postings."""
    df = spark.read.parquet(src_path)
    (
        df.coalesce(max_tasks)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dest_path)
    )
