"""Sparse ranked retrieval: BM25 over an inverted-postings dataflow.

The reference retrieves by dense-vector similarity only (ChromaDB kNN,
src/cod.py:124-129). A production RAG stack pairs that with SPARSE
lexical retrieval — BM25 over an inverted index — and fuses or reranks
the two. This module is the Spark-first formulation of the sparse leg:

- postings/doc-stats are plain aggregations over the tokenized corpus
  (one shuffle on (doc, term), map-side partial counts);
- a query batch joins INTO the postings on term, with the query-term
  side broadcast — the classic inverted-index probe: only postings for
  query terms are touched, never the whole index;
- per-(query, doc) scores sum term contributions through
  DECIMAL(18,6), so partial-aggregation order cannot change a score
  (the same determinism rule the relational gates use for sums);
- top-k per query is a rank-limited window (WindowGroupLimit —
  per-partition partial top-k before the shuffle).

At 100 TB the postings table is the big side and stays put, bucketed
by term; each query batch is small and broadcasts. Nothing here is
per-row Python — tokenize, tf, idf, and the BM25 formula are all
built-in-function codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import text as X
from cyborgdb_encrypted_vector_search_spark.operators.layout import (
    compact_partitioned_layout,
)

K1 = 1.2
B = 0.75


def doc_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf, dl): term frequencies plus the document's token
    length, from one tokenize + explode + two-level aggregate."""
    toks = docs.select(
        F.col(id_col).alias("doc"), X.tokens(text_col).alias("toks")
    )
    return (
        toks.select("doc", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .groupBy("doc", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


N_TERM_BUCKETS = 64


def term_bucket(col) -> "F.Column":
    return F.pmod(F.xxhash64(col), F.lit(N_TERM_BUCKETS)).cast("int")


def _partial_df(p: DataFrame) -> DataFrame:
    """Per-term document frequencies for a postings frame — standard
    inverted-index metadata, written as a MERGEABLE sidecar (batches
    are doc-disjoint, so per-term counts ADD across build/appends).
    Serving reads df from here instead of re-counting the postings,
    and uses it for max-df pruning before any postings are touched."""
    return p.groupBy("term").agg(
        F.countDistinct("doc").cast("bigint").alias("df")
    )


def read_term_df(spark, path: str) -> DataFrame:
    """(term, df) merged across build + append partial rows."""
    return (
        spark.read.parquet(f"{path}/_df")
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )


def _partial_stats(p: DataFrame) -> DataFrame:
    """One MERGEABLE stats row for a postings frame: (n_docs, sum_dl).
    Integer sums merge exactly (order-free in double up to 2^53), so
    avgdl derived at read time is bit-identical however many partial
    rows the sidecar accumulates."""
    return (
        p.groupBy("doc")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        )
    )


def build_postings(docs: DataFrame, id_col: str, text_col: str, path: str) -> None:
    """Materialize the inverted index once (the build side of sparse
    retrieval), PARTITIONED by a term-hash bucket — the sparse twin of
    the IVF centroid layout: a query batch touches only the
    ``term_bucket=`` directories its terms hash into (PartitionFilters,
    zero bytes read elsewhere), so probe cost scales with query terms,
    not index size. At 100 TB this is the one-time index job; corpus
    stats land as mergeable sidecar rows (the leading underscore keeps
    the sidecar invisible to a parquet read of the index root)."""
    p = doc_postings(docs, id_col, text_col)
    (
        p.withColumn("term_bucket", term_bucket(F.col("term")))
        .write.partitionBy("term_bucket")
        .parquet(path)
    )
    _partial_stats(p).write.parquet(f"{path}/_stats")
    _partial_df(p).write.parquet(f"{path}/_df")


def append_postings(
    docs_batch: DataFrame, id_col: str, text_col: str, path: str
) -> None:
    """O(batch) incremental index maintenance: tokenize ONLY the new
    documents, append their postings under the term buckets they touch
    (partitioned append — resident postings are never read or
    rewritten, the same ingest shape as append_to_ivf_layout), and
    append one partial-stats row. Batches must carry previously-unseen
    doc ids (append, not upsert); because per-doc postings are disjoint
    across batches, the grown index is row-identical to a from-scratch
    rebuild — which is exactly what the incremental gate asserts."""
    p = doc_postings(docs_batch, id_col, text_col)
    (
        p.withColumn("term_bucket", term_bucket(F.col("term")))
        .write.mode("append")
        .partitionBy("term_bucket")
        .parquet(path)
    )
    _partial_stats(p).write.mode("append").parquet(f"{path}/_stats")
    _partial_df(p).write.mode("append").parquet(f"{path}/_df")


def read_postings(spark, path: str) -> tuple[DataFrame, int, float]:
    """Open a persisted index: (postings, n_docs, avgdl), stats merged
    across however many partial rows build + appends left behind."""
    st = (
        spark.read.parquet(f"{path}/_stats")
        .agg(F.sum("n_docs"), F.sum("sum_dl"))
        .first()
    )
    n = int(st[0] or 0)
    return (
        spark.read.parquet(path),
        n,
        (float(st[1]) / n) if n else 1.0,
    )


def bm25_topk(
    queries: DataFrame,
    docs: DataFrame = None,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    doc_id_col: str = "doc_id",
    doc_text_col: str = "text",
    postings: DataFrame = None,
    corpus_stats: tuple = None,
    term_df: DataFrame = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-k docs per query by BM25 (k1=1.2, b=0.75, the Robertson/
    Lucene idf ln(1 + (N-df+0.5)/(df+0.5))).

    Returns (query_id, doc, score DOUBLE, rank). Ties break on doc id
    ascending. ``queries`` is assumed small (a serving batch): its
    exploded terms broadcast into the postings join, so the probe
    touches only matching postings — the inverted-index access path,
    not a corpus scan per query. Pass a prebuilt ``postings`` frame
    (build_postings) to probe a persisted index; deriving it inline
    from ``docs`` re-tokenizes the corpus once per downstream branch
    and is only for small/ad-hoc use.

    ``term_df`` (read_term_df) supplies document frequencies from
    index metadata so serving never re-counts postings for idf.
    ``max_df_frac`` enables standard MAX-DF PRUNING: query terms
    appearing in more than that fraction of documents are dropped
    BEFORE the postings join. This is the lever that keeps probe cost
    sublinear in corpus size — a near-stopword term's posting list is
    O(corpus) while its idf ≈ ln(1+ε) contributes ~nothing to the
    ranking; Lucene/WAND engines cut the same work via stopword lists
    and impact ordering. The threshold comparison is integer-exact
    (df <= floor(frac·N)) so both engines agree on the cut."""
    if postings is None:
        postings = doc_postings(docs, doc_id_col, doc_text_col)
    if corpus_stats is not None:
        # persisted index: (N, avgdl) come from build-time metadata —
        # serving never scans the index for its constants
        n_docs, avgdl = corpus_stats
    else:
        stats = postings.groupBy("doc").agg(F.first("dl").alias("dl"))
        n_docs, avgdl = stats.agg(F.count(F.lit(1)), F.avg("dl")).first()
    n_docs = int(n_docs)
    avgdl = float(avgdl) if avgdl else 1.0

    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.array_distinct(X.tokens(query_text_col))).alias("term"),
        )
    )
    # document frequency per query term: from index metadata when
    # available (no postings scan), else counted from the postings
    if term_df is not None:
        df_t = term_df.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        ).select("term", "df")
    else:
        df_t = (
            postings.join(
                F.broadcast(qterms.select("term").distinct()), "term"
            )
            .groupBy("term")
            .agg(F.countDistinct("doc").alias("df"))
        )
    if max_df_frac is not None:
        import math as _math

        cut = int(_math.floor(max_df_frac * n_docs))
        df_t = df_t.filter(F.col("df") <= cut)
        qterms = qterms.join(F.broadcast(df_t.select("term")), "term")
    if "term_bucket" in postings.columns:
        # persisted bucketed index: prune to the (surviving) query
        # terms' buckets BEFORE any join — the serving batch is small,
        # so collecting its distinct bucket ids is bounded
        # (≤ N_TERM_BUCKETS), and the IN-list lands in PartitionFilters
        buckets = [
            r[0]
            for r in qterms.select(term_bucket(F.col("term")))
            .distinct()
            .collect()
        ]
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    matched = postings.join(F.broadcast(qterms), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(avgdl))
    )
    contrib = (idf * tf_norm).cast("decimal(18,6)")
    scored = (
        matched.join(F.broadcast(df_t), "term")
        .withColumn("contrib", contrib)
        .groupBy("query_id", "doc")
        .agg(F.sum("contrib").cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    rankings: list, k_const: int = 60, topk: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings — the standard hybrid-
    retrieval combiner (sparse BM25 + dense ANN in production; any
    frames with (query_id, doc, rank) fuse identically).

    score(q, d) = Σ_rankers 1/(k + rank_i(q, d)), summed through
    DECIMAL(18,8) so ranker order can't change a score. RRF needs no
    score calibration between rankers — only ranks — which is why it
    is the default fusion in hybrid search engines. Cost: the inputs
    are already top-k shortlists (k·|queries| rows each), so fusion is
    a toy-sized groupBy + window regardless of corpus size."""
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [r.select("query_id", "doc", "rank") for r in rankings],
    )
    contrib = (F.lit(1.0) / (F.lit(k_const) + F.col("rank"))).cast(
        "decimal(18,8)"
    )
    scored = (
        u.withColumn("c", contrib)
        .groupBy("query_id", "doc")
        .agg(F.sum("c").cast("double").alias("rrf_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def sql_bm25_scored(
    queries_cte: str,
    docs_table: str = "documents",
    doc_id: str = "doc_id",
    doc_text: str = "text",
) -> str:
    """DuckDB CTE chain computing the identical BM25 scores, for
    two-sided oracles: given a CTE ``q(query_id, query_text)`` named by
    ``queries_cte``, defines ``bm25(query_id, doc, score)``."""
    toks = X.sql_tokens(doc_text)
    qtoks = X.sql_tokens("query_text")
    return f"""
    postings AS (
      SELECT {doc_id} AS doc, t.term, len({toks}) AS dl,
             CAST(count(*) AS BIGINT) AS tf
      FROM {docs_table}, unnest({toks}) AS t(term)
      GROUP BY doc, t.term, dl
    ),
    corpus AS (
      SELECT CAST(count(DISTINCT doc) AS DOUBLE) AS n,
             (SELECT avg(dl) FROM (SELECT DISTINCT doc, dl FROM postings))
               AS avgdl
      FROM postings
    ),
    qterms AS (
      SELECT DISTINCT query_id, t.term
      FROM {queries_cte}, unnest({qtoks}) AS t(term)
    ),
    df_t AS (
      SELECT term, CAST(count(DISTINCT doc) AS DOUBLE) AS df
      FROM postings WHERE term IN (SELECT term FROM qterms)
      GROUP BY term
    ),
    bm25 AS (
      SELECT q.query_id, p.doc,
             CAST(sum(CAST(
               ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * ({K1} + 1))
               / (p.tf + {K1} * (1 - {B} + {B} * p.dl / c.avgdl))
             AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM qterms q
      JOIN postings p ON p.term = q.term
      JOIN df_t d ON d.term = q.term, corpus c
      GROUP BY q.query_id, p.doc
    )
    """


def compact_postings(spark, src_path: str, dest_path: str, max_tasks: int = 8) -> None:
    """Compact an append-grown postings index into ``dest_path``.

    Every append_postings batch (and every streaming micro-batch) adds
    at least one file per touched ``term_bucket=`` directory plus one
    sidecar stats row, so a long-running ingest accumulates small
    files and probe-time listing cost creeps up. The data files go
    through layout.compact_partitioned_layout (shuffle-free, at most
    ``max_tasks`` files per ``term_bucket=`` directory); the
    accumulated partial-stats rows collapse to ONE merged row (integer
    sums — exact). ``src_path`` is left as it was."""
    compact_partitioned_layout(spark, src_path, dest_path, "term_bucket", max_tasks)
    (
        spark.read.parquet(f"{src_path}/_stats")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        )
        .write.parquet(f"{dest_path}/_stats")
    )
    read_term_df(spark, src_path).write.parquet(f"{dest_path}/_df")
