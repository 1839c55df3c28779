"""Testdata table registry: load the driver's Parquet tables.

One reader per table keeps pushdown intact: callers ``.select``/
``.filter`` on what this returns, and Catalyst pushes projection and
predicates into the Parquet scan (verify with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Testdata embeddings are fixed 64-dim (FIXTURES.md); the reference's
# model implies 384 (reference src/embeddings.py:3) — dim is a table
# property here, not a constant.
EMBEDDING_DIM = 64


def load(spark: SparkSession, table: str, sf_dir: str | None = None) -> DataFrame:
    """Read one testdata table as a DataFrame."""
    d = sf_dir or DEFAULT_SF_DIR
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(d, f"{table}.parquet"))
    # events.ts is TIMESTAMP(NANOS) parquet. Spark 4 reads that as
    # TIMESTAMP_NTZ (nanos truncated to micros — values are
    # micro-aligned in TESTDATA, so lossless) in ANY session; the
    # legacy nanosAsLong conf is ignored unless set at session BUILD
    # time, so we never rely on it. Normalize the two possible foreign
    # shapes back to TIMESTAMP_NTZ so every downstream query sees ONE
    # type regardless of which session loaded the table.
    if table == "events":
        from pyspark.sql import functions as F

        dt = dict(df.dtypes).get("ts")
        # Both normalizations below are pure integer math anchored at
        # the NTZ epoch — exact in ANY session timezone. (A plain
        # cast('timestamp_ntz') would convert via the session tz and
        # silently shift wall-clock values on a non-UTC driver.)
        if dt == "bigint":
            # A session built with nanosAsLong=true: long nanos.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif dt == "timestamp":
            # LTZ is an absolute instant; unix_micros reads it without
            # tz interpretation, and the NTZ rebuild keeps that exact
            # instant as UTC wall-clock (what the parquet stores).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def _cached_view(spark: SparkSession, name: str, build) -> DataFrame:
    """Session-scoped materialized view: build once, cache, reuse."""
    existing = [t.name for t in spark.catalog.listTables() if t.name == name]
    if existing:
        return spark.table(name)
    df = build()
    df.createOrReplaceTempView(name)
    spark.catalog.cacheTable(name)
    return spark.table(name)


def _tag(d: str) -> str:
    return "".join(c if c.isalnum() else "_" for c in d)


def lsh_index(
    spark: SparkSession,
    sf_dir: str | None = None,
    n_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """unit_embeddings + the LSH bucket column, cached per session.

    Bucket assignment is a BUILD-time artifact (at 100 TB: a column
    written next to the vectors, doubling as the cluster/partition
    key), not per-query work — probe queries reuse this index frame the
    way they'd read the materialized layout."""
    from cyborgdb_encrypted_vector_search_spark.operators import ann

    d = sf_dir or DEFAULT_SF_DIR
    view = f"lsh_index_{n_planes}_{seed}_{_tag(d)}"
    return _cached_view(
        spark,
        view,
        lambda: ann.with_lsh_buckets(
            unit_embeddings(spark, d), "embedding", n_planes=n_planes,
            seed=seed, dim=EMBEDDING_DIM,
        ),
    )


def ivf_index(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """embeddings + nearest-centroid assignment (centroids = vectors of
    ids 0..7, the deterministic oracle-replicable choice), cached per
    session — the in-memory stand-in for the centroid-partitioned
    layout that build_ivf_layout materializes on disk."""
    from pyspark.sql import functions as F

    from cyborgdb_encrypted_vector_search_spark.operators import ann

    d = sf_dir or DEFAULT_SF_DIR
    view = f"ivf_index_{_tag(d)}"

    def build() -> DataFrame:
        emb = load(spark, "embeddings", d)
        cent = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
        return ann.assign_centroids(
            emb.select("vec_id", "embedding"), cent, "embedding"
        )

    return _cached_view(spark, view, build)


def minhash_band_index(
    spark: SparkSession,
    sf_dir: str | None = None,
    shingle_len: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
) -> DataFrame:
    """Cached MinHash band index over documents — the persisted corpus
    signature structure every incremental-dedup batch probes (built
    once per corpus version, never re-shingled per query)."""
    from cyborgdb_encrypted_vector_search_spark.operators import dedup

    d = sf_dir or DEFAULT_SF_DIR
    view = f"mh_band_index_{shingle_len}_{num_hashes}_{num_bands}_{_tag(d)}"

    def build() -> DataFrame:
        docs = load(spark, "documents", d).select("doc_id", "text")
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return dedup.band_index(
            docs, "doc_id", "text", shingle_len, num_hashes, num_bands
        )

    return _cached_view(spark, view, build)


def window_hash_index(
    spark: SparkSession, sf_dir: str | None = None, window: int = 40
) -> DataFrame:
    """Cached (doc_id, wh) rolling-window hash index over documents —
    the persisted corpus artifact every incremental exact-substring
    batch probes (built once per corpus version, never re-windowed)."""
    from cyborgdb_encrypted_vector_search_spark.operators import dedup

    d = sf_dir or DEFAULT_SF_DIR
    view = f"window_hash_index_{window}_{_tag(d)}"

    def build() -> DataFrame:
        docs = load(spark, "documents", d).select("doc_id", "text")
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return dedup.window_hashes(docs, window).distinct()

    return _cached_view(spark, view, build)


def shingle_index(
    spark: SparkSession, sf_dir: str | None = None, shingle_len: int = 3
) -> DataFrame:
    """Cached distinct n-gram shingle sets over documents — the
    corpus-side artifact every n-gram-overlap op (decontamination,
    Jaccard verification) probes. Shingling is interpreted
    higher-order-function work, so it is done once per corpus version
    (at 100 TB: a column written next to the text at ingest), never
    re-derived per query."""
    from pyspark.sql import functions as F

    from cyborgdb_encrypted_vector_search_spark.functions import hashing as H

    d = sf_dir or DEFAULT_SF_DIR
    view = f"shingle_index_{shingle_len}_{_tag(d)}"

    def build() -> DataFrame:
        docs = load(spark, "documents", d).select("doc_id", "text")
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return docs.select(
            "doc_id",
            F.array_distinct(
                H.word_shingles(F.col("text"), shingle_len)
            ).alias("sh"),
        )

    return _cached_view(spark, view, build)


def unit_embeddings(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The embeddings table with per-row unit vector + norm, cached.

    Every vector query needs (vec_id, embedding, unit, vnorm); this is
    the engine's materialized 'index column' — computed once per
    session per sf_dir, shared across queries via a cached temp view.
    At cluster scale this is a maintained projection/materialized view
    next to the base table, not a per-query recompute.
    """
    from cyborgdb_encrypted_vector_search_spark.functions import vector as V

    d = sf_dir or DEFAULT_SF_DIR
    view = "unit_embeddings_" + "".join(
        c if c.isalnum() else "_" for c in d
    )
    existing = [t.name for t in spark.catalog.listTables() if t.name == view]
    if existing:
        return spark.table(view)
    un = V.with_unit_vectors(
        load(spark, "embeddings", d).select("vec_id", "label", "embedding"),
        "embedding",
    )
    un.createOrReplaceTempView(view)
    spark.catalog.cacheTable(view)
    return spark.table(view)
