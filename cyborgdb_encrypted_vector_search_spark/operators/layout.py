"""Storage-layout operators: small-file compaction of partitioned layouts.

The partitioned layouts here are the IVF ``centroid_id=`` lists
(operators/ann.build_ivf_layout, grown by ann.append_to_ivf_layout and
streaming ingest) and the BM25 ``term_bucket=`` postings
(operators/retrieval.build_postings). Appends add at least one file per
touched partition per batch, so each directory accumulates small files.

No custom machinery: the layout IS Spark's partitioned parquet write,
and the rewrite below is a plain coalesce + ``partitionBy``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_partitioned_layout(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    partition_col: str,
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
    ``max_tasks`` files per partition directory with the same rows.
    ``src_path`` is left as it was; at cluster scale run one compaction
    per partition subtree to bound task memory and preserve intra-file
    ordering locality. Serves IVF ``centroid_id=`` layouts grown by
    ann.append_to_ivf_layout and (with its stats merge)
    retrieval.compact_postings."""
    df = spark.read.parquet(src_path)
    (
        df.coalesce(max_tasks)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dest_path)
    )
