"""Recall@k evaluation: every ANN variant vs exact brute-force kNN.

Offline index-quality report (the accuracy half of the ANN story;
perfbench/ is the speed half). For Q deterministic query vectors, takes
exact cosine top-k as ground truth and measures each approximate
method's overlap. Prints one JSON line:

  {"metric": "recall_at_k", "k": 10, "queries": Q, "sf_dir": ...,
   "methods": {"lsh_single": 0.4, "lsh_multiprobe": 0.7, ...}}

Method knobs mirror the catalog queries' defaults (8 hyperplanes, 8
IVF centroids, PQ m=8 nbits=4 with 4x exact re-rank) so the numbers
describe the gate-checked configurations. Usage:
  python tools/recall.py [sf_dir] [k] [num_queries]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    num_q = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from cyborgdb_encrypted_vector_search_spark.functions import vector as V
    from cyborgdb_encrypted_vector_search_spark.operators import ann, knn, pq
    from cyborgdb_encrypted_vector_search_spark.session import get_spark
    from cyborgdb_encrypted_vector_search_spark.sources import registry as R

    spark = get_spark(
        app_name="cyborgdb-recall", master="local[8]", shuffle_partitions=8
    )
    emb = R.load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = emb.count()
    # deterministic spread of query ids across the corpus
    qids = [int(i * n / num_q) + 1 for i in range(num_q)]
    targets = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }

    from cyborgdb_encrypted_vector_search_spark.operators import quant

    sq_mins, sq_maxs = quant.sq8_train(emb)
    sq_codes = quant.sq8_encode(emb, sq_mins, sq_maxs).persist()

    lsh = R.lsh_index(spark, sf_dir)          # (.., unit, vnorm, bucket)
    ivf = R.ivf_index(spark, sf_dir)          # (.., centroid_id)
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    books = pq.train_codebooks(emb, m=8, nbits=4)
    codes = pq.encode(emb, books).persist()
    ivf_codes = pq.encode(
        ivf.select("vec_id", "embedding", "centroid_id"),
        books,
        keep_cols=("centroid_id",),
    ).persist()
    resid = pq.residual_frame(emb, cent)
    res_books = pq.train_codebooks(resid, vec_col="residual", m=8, nbits=4)
    res_codes = pq.encode(
        resid, res_books, vec_col="residual", keep_cols=("centroid_id",)
    ).persist()

    def ids(df) -> set:
        return {r["vec_id"] for r in df.select("vec_id").collect()}

    hits: dict[str, int] = {}
    truths: dict[int, set] = {}
    for qid, t in targets.items():
        truth = ids(knn.topk_against_target(emb, t, k))
        truths[qid] = truth
        tgt_bucket = lsh.filter(F.col("vec_id") == qid).select("bucket")
        tgt_unit = [
            float(x)
            for x in lsh.filter(F.col("vec_id") == qid).collect()[0]["unit"]
        ]
        tu = V.literal_vector(tgt_unit)
        methods = {
            "lsh_single": lambda: lsh.join(F.broadcast(tgt_bucket), "bucket")
                .withColumn("score", F.when(F.col("vnorm") == 0, F.lit(-1.0))
                            .otherwise(V.dot("unit", tu)))
                .orderBy(F.desc("score"), F.asc("vec_id")).limit(k),
            "lsh_multiprobe": lambda: ann.lsh_probe_search(
                lsh, tgt_unit, tgt_bucket, k=k
            ),
            "ivf_nprobe2": lambda: ann.ivf_search(ivf, cent, t, k=k, nprobe=2),
            "ivf_nprobe4": lambda: ann.ivf_search(ivf, cent, t, k=k, nprobe=4),
            "pq_adc_rerank": lambda: pq.search_adc(
                codes, books, t, k=k, rerank_df=emb
            ),
            "ivfpq_nprobe4": lambda: pq.ivfpq_search(
                ivf_codes, cent, books, t, k=k, nprobe=4, rerank_df=emb
            ),
        }
        methods["ivfadc_nprobe4"] = lambda: pq.ivfadc_search(
            res_codes, cent, res_books, t, k=k, nprobe=4, rerank_df=emb
        )
        methods["sq8_rerank"] = lambda: quant.sq8_search(
            sq_codes, sq_mins, sq_maxs, t, k=k, oversample=8
        )
        for name, fn in methods.items():
            hits[name] = hits.get(name, 0) + len(ids(fn()) & truth)

    # Batch variants: all queries in ONE plan each; recall must match
    # the per-query paths (unit tests pin exact equality of results).
    queries_df = emb.filter(F.col("vec_id").isin(list(targets))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch_results = {
        "ivf_batch_nprobe4": ann.ivf_search_batch(
            queries_df, ivf, cent, k=k, nprobe=4
        ),
        "ivfpq_batch_nprobe4": pq.ivfpq_search_batch(
            ivf_codes, cent, books, queries_df, k=k, nprobe=4, rerank_df=emb
        ),
        "sq8_batch": quant.sq8_batch_search(
            sq_codes, sq_mins, sq_maxs,
            queries_df.select(
                F.col("query_id").alias("qid"),
                F.col("query_vec").alias("qvec"),
            ),
            k=k, oversample=8,
        ).withColumnsRenamed({"qid": "query_id"}),
    }
    for name, df in batch_results.items():
        rows = df.select("query_id", "vec_id").collect()
        hits[name] = sum(
            1 for r in rows if r["vec_id"] in truths.get(r["query_id"], ())
        )

    print(
        json.dumps(
            {
                "metric": "recall_at_k",
                "k": k,
                "queries": len(targets),
                "sf_dir": sf_dir,
                "methods": {
                    m: round(h / (k * len(targets)), 3)
                    for m, h in sorted(hits.items())
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
