"""Vector collections: the reference's data model as Parquet tables.

Reference semantics re-created batch-first (SURVEY.md §1, §2.1):

- create / create-or-get collection  (reference src/chromadb_store.py:4,
  src/cod.py:79-84)            → Parquet directory + declared schema
- row-at-a-time ``add`` loop   (reference src/chromadb_store.py:7-8)
                               → batch append writes
- full-scan extract ("the leak", reference src/chromadb_store.py:10-12)
                               → column-pruned scan
- point get by id              (reference src/cod.py:107-120)
                               → pushed-down key-equality filter
- encrypted store/extract stub (reference src/cyborgdb_store.py:4-11)
                               → real AES-GCM ciphertext (base64 text)

Scale design: a collection written with ``save`` is repartitioned by a
hash of the id so point-gets and id-joins hit a bounded set of files;
ids are generated distributedly (no driver-side enumeration). Online
per-record CRUD is an explicit non-goal (batch append/compact model).
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pa_ds
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyborgdb_encrypted_vector_search_spark.functions import crypto
from cyborgdb_encrypted_vector_search_spark.functions.vector import dim_check

# collection(id STRING, document STRING, embedding ARRAY<FLOAT>,
#            metadata MAP<STRING,STRING>)  — SURVEY.md §1.3
COLLECTION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("document", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


@dataclass
class Collection:
    """A named, Parquet-backed vector collection.

    Two layouts:

    - flat (default): a plain parquet dir; delete/upsert/compact
      rewrite the whole table — fine for small/medium tables.
    - bucket-partitioned (``create(..., buckets=N)``): rows land under
      ``id_bucket=pmod(xxhash64(id), N)/`` partition dirs. Point-gets
      prune to one bucket's files, and delete/upsert REWRITE ONLY THE
      TOUCHED BUCKETS — at 100 TB a batch of deletes costs O(touched
      buckets), never a full-table rewrite. The bucket count is
      recorded in a ``_coll_meta.json`` sidecar (underscore-prefixed:
      invisible to Spark's file listing) so any later opener sees the
      layout.

    Every rewrite on either layout is one staged write and one commit
    (:meth:`_rewrite`, :meth:`_commit`); appends write in place.
    """

    spark: SparkSession
    name: str
    path: str
    dim: int | None = None
    buckets: int | None = None

    _META_FILE = "_coll_meta.json"

    # -- DDL ------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        name: str,
        base_dir: str,
        dim: int | None = None,
        exist_ok: bool = True,
        buckets: int | None = None,
    ) -> "Collection":
        """Create-or-get (reference create→get fallback, src/cod.py:82-84)."""
        path = os.path.join(base_dir, name)
        exists = os.path.isdir(path)
        if exists and not exist_ok:
            raise FileExistsError(f"collection {name!r} already exists at {path}")
        coll = cls(spark, name, path, dim, buckets)
        if not exists:
            init = spark.createDataFrame([], COLLECTION_SCHEMA)
            if buckets:
                init = init.withColumn("id_bucket", F.lit(0).cast("int"))
                init.write.mode("overwrite").partitionBy("id_bucket").parquet(
                    path
                )
                import json as _json

                with open(os.path.join(path, cls._META_FILE), "w") as fh:
                    _json.dump({"buckets": buckets, "dim": dim}, fh)
            else:
                init.write.mode("overwrite").parquet(path)
        return coll

    @property
    def bucket_count(self) -> int | None:
        """Bucket count of the layout (from the sidecar if this handle
        was opened without one); None for flat collections."""
        if self.buckets is None:
            meta = os.path.join(self.path, self._META_FILE)
            if os.path.isfile(meta):
                import json as _json

                with open(meta) as fh:
                    self.buckets = _json.load(fh).get("buckets")
        return self.buckets

    def _bucket_expr(self, id_col: str = "id") -> Column:
        return F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(self.bucket_count)
        ).cast("int")

    def _buckets_of(self, ids_df: DataFrame, id_col: str = "id") -> list[int]:
        """The bucket set a batch of ids lands in — computed WITH
        Spark's own xxhash64 (never re-implemented driver-side). A local
        frame (an Arrow LocalRelation such as :meth:`_id_frame`) is
        constant-folded by the optimizer, so its collect runs no job and
        dedup is in Python; any other frame is deduplicated first, so
        the collect stays bounded by the bucket count."""
        b = ids_df.select(self._bucket_expr(id_col))
        if not ids_df.isLocal():
            b = b.distinct()
        return sorted({r[0] for r in b.collect()})

    def _id_frame(self, ids: list[str]) -> DataFrame:
        """A caller's id list as a local frame (an Arrow LocalRelation:
        reading it back costs no Spark job)."""
        return self.spark.createDataFrame(pa.table({"id": pa.array(ids, pa.string())}))

    # -- writes ---------------------------------------------------------
    def _project_rows(
        self,
        df: DataFrame,
        id_col: str | None = None,
        document_col: str = "document",
        embedding_col: str = "embedding",
        metadata_col: str | None = None,
    ) -> DataFrame:
        """Normalize arbitrary input columns to the collection schema
        (shared by add and upsert)."""
        out = df
        if id_col is None:
            out = out.withColumn("id", F.expr("uuid()"))
            id_col = "id"
        sel = [
            F.col(id_col).cast("string").alias("id"),
            F.col(document_col).cast("string").alias("document"),
            F.col(embedding_col).cast("array<float>").alias("embedding"),
        ]
        if metadata_col is None:
            sel.append(F.lit(None).cast("map<string,string>").alias("metadata"))
        else:
            sel.append(F.col(metadata_col).alias("metadata"))
        return self._keep_dim(out.select(*sel), "embedding")

    def _keep_dim(self, df: DataFrame, embedding_col: str) -> DataFrame:
        """Drop rows whose non-null embedding breaks the collection's
        dim constraint (every write path: add, upsert, add_encrypted)."""
        if self.dim is None:
            return df
        return df.filter(
            F.col(embedding_col).isNull() | dim_check(embedding_col, self.dim)
        )

    def add(
        self,
        df: DataFrame,
        id_col: str | None = None,
        document_col: str = "document",
        embedding_col: str = "embedding",
        metadata_col: str | None = None,
    ) -> None:
        """Batch append (replaces the reference's per-record add loop,
        src/chromadb_store.py:7-8). Generates UUID ids when none given
        (reference src/cod.py:68); enforces the dim constraint the
        reference never checked."""
        self._write(
            self._project_rows(df, id_col, document_col, embedding_col, metadata_col),
            self.path,
            "append",
        )

    def _write(
        self, rows: DataFrame, dest: str, mode: str, files: int | None = None
    ) -> None:
        """The one physical write of both layouts (appends and staged
        rewrites). Bucketed rows shuffle once by bucket before the
        partitioned write, so each write lands ONE file per touched
        bucket instead of (input partitions x buckets) small files;
        ``files`` caps the shuffle's partitions (default: the bucket
        count). A flat write repartitions only when ``files`` is set."""
        if self.bucket_count:
            (
                rows.withColumn("id_bucket", self._bucket_expr())
                .repartition(files or self.bucket_count, F.col("id_bucket"))
                .write.mode(mode)
                .partitionBy("id_bucket")
                .parquet(dest)
            )
        else:
            (rows.repartition(files) if files else rows).write.mode(mode).parquet(dest)

    # -- reads ----------------------------------------------------------
    def scan(self) -> DataFrame:
        """Full scan, layout-independent schema: the bucketed layout's
        partition column is dropped so consumers see the same four
        columns either way (use _scan_raw for bucket-aware plans)."""
        df = self._scan_raw()
        return df.drop("id_bucket") if "id_bucket" in df.columns else df

    def _scan_raw(self) -> DataFrame:
        # the declared schema, never an inferred one: inference costs a
        # Spark job per call and fails on a bucketed table with no
        # partition dirs yet (fresh create, or every bucket deleted)
        schema = COLLECTION_SCHEMA
        if self.bucket_count:
            schema = T.StructType(
                [*schema.fields, T.StructField("id_bucket", T.IntegerType())]
            )
        return self.spark.read.schema(schema).parquet(self.path)

    def extract_embeddings(self) -> DataFrame:
        """The 'leak': full scan of all vectors (reference
        src/chromadb_store.py:10-12). Column-pruned to the embedding."""
        return self.scan().select("id", "embedding")

    def count(self) -> int:
        """Record count (Chroma's ``collection.count()``): a
        column-pruned count(*) over the parquet footers."""
        return self.scan().count()

    def peek(self, n: int = 10) -> DataFrame:
        """First ``n`` records by id (Chroma's ``collection.peek()``);
        ordered so the result is deterministic — plans as a global
        top-k (TakeOrderedAndProject), never a full sort."""
        return self.scan().orderBy(F.asc("id")).limit(n)

    def get_where(
        self,
        where: dict[str, str],
        include: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Metadata-filtered get (Chroma's ``collection.get(where=...,
        limit=...)``): every (key, value) pair must match the record's
        metadata map. The map-lookup equality is a codegen'd scan
        predicate — no join, no shuffle."""
        cols = include or ["id", "document", "embedding", "metadata"]
        if "id" not in cols:
            cols = ["id", *cols]
        df = self.scan()
        for k, v in where.items():
            df = df.filter(F.col("metadata")[k] == F.lit(v))
        df = df.select(*cols)
        return df.orderBy(F.asc("id")).limit(limit) if limit else df

    def get(self, ids: list[str], include: list[str] | None = None) -> DataFrame:
        """Point lookup by id(s) (reference src/cod.py:107-120).

        The IN-predicate is pushed into the Parquet scan; with the
        id-hash layout written by ``save`` this prunes to few files.
        """
        cols = include or ["id", "document", "embedding", "metadata"]
        if "id" not in cols:
            cols = ["id", *cols]
        if self.bucket_count:
            # prune to the buckets the requested ids hash into: the
            # id_bucket IN (...) predicate is a PartitionFilter, so the
            # point-get reads only those buckets' files
            buckets = self._buckets_of(self._id_frame(ids))
            src = self._scan_raw().filter(F.col("id_bucket").isin(buckets))
            return src.select(*cols).filter(F.col("id").isin(ids))
        return self.scan().select(*cols).filter(F.col("id").isin(ids))

    def query(
        self,
        query_embeddings: list[list[float]] | None = None,
        query_texts: list[str] | None = None,
        n_results: int = 3,
        embedder=None,
        include: list[str] | None = None,
        where: dict[str, str] | None = None,
    ) -> DataFrame:
        """Similarity query — the reference's one serving call
        (``collection.query(query_embeddings=..., n_results=...)``,
        src/cod.py:124-129), answered with ONE Spark job for the whole
        query batch.

        Exact cosine kNN through the Arrow scoring kernel
        (operators/knn.topk_candidates): the collection is scanned
        once, never shuffled, and each partition sends back at most
        ``n_results`` candidates per query; the driver merges them with
        the (score desc, id asc) tie-break. The call runs that job
        eagerly and returns a LOCAL frame (an Arrow LocalRelation), so
        collecting it costs no further job. One row per
        (query_idx, rank) with ``id``, ``distance`` (cosine distance,
        1 − cosine similarity) and, when included, ``document`` —
        the relational shape of Chroma's parallel-lists payload.

        ``query_texts`` embeds driver-side through the D1 seam
        (``embedder`` defaults to the stub; pass a real model's encode
        there the same way make_embed_udf takes a model_factory).

        ``where`` is Chroma's metadata equality filter
        (``where={"source": "demo"}``): every (key, value) pair must
        match the record's metadata map. It is applied BEFORE scoring,
        so at scale the predicate prunes the corpus ahead of the
        cosine work — and with a metadata-partitioned layout it prunes
        files, the filtered-search shape vector stores implement with
        per-segment metadata indexes.

        Bad input fails before any job: neither or both query inputs,
        no queries, ``n_results < 1``, or query vectors whose length
        differs from the collection's ``dim`` (or, without a declared
        ``dim``, from each other).
        """
        cols = include or ["documents", "distances"]
        corpus = self.scan()
        if where:
            for k, v in where.items():
                corpus = corpus.filter(
                    F.col("metadata")[k] == F.lit(str(v))
                )
        corpus = corpus.select(
            "id", "embedding", *(["document"] if "documents" in cols else [])
        )
        return self._query_over(
            corpus, query_embeddings, query_texts, n_results, embedder, cols
        )

    def query_encrypted(
        self,
        key: str,
        query_embeddings: list[list[float]] | None = None,
        query_texts: list[str] | None = None,
        n_results: int = 3,
        embedder=None,
        include: list[str] | None = None,
    ) -> DataFrame:
        """Similarity query against an AES-GCM-encrypted collection —
        the reference's core thesis (encrypted store + retrieval,
        src/cyborgdb_store.py + src/cod.py:124-129) as ONE Spark job:
        the same Arrow scoring kernel and driver merge as :meth:`query`,
        scoring the stored ciphertext directly. Each partition decrypts
        its rows inside the kernel (the decode hook
        ``crypto.vector_decoder``, the key in its closure, never in the
        plan) and scores them in the same pass, so no decrypted
        intermediate exists outside a task. Of the documents, only the
        returned hits' are decrypted, on the driver. Like :meth:`query`,
        the call runs its job eagerly and returns a local frame of the
        hits."""
        cols = include or ["documents", "distances"]
        corpus = self.scan().select(
            "id",
            F.unbase64(F.col("metadata")["embedding_ct"]).alias("embedding"),
            *([F.unbase64("document").alias("document")] if "documents" in cols else []),
        )
        return self._query_over(
            corpus, query_embeddings, query_texts, n_results, embedder, cols, key
        )

    def _query_over(
        self,
        corpus: DataFrame,
        query_embeddings,
        query_texts,
        n_results: int,
        embedder,
        cols: list[str],
        key: str | None = None,
    ) -> DataFrame:
        """The kernel pass and driver merge of every query kind; with a
        ``key`` the corpus's ``embedding`` and ``document`` columns hold
        ciphertext, decoded in the kernel and on the driver."""
        from cyborgdb_encrypted_vector_search_spark.functions import embed as E
        from cyborgdb_encrypted_vector_search_spark.operators import knn

        decode = None if key is None else crypto.vector_decoder(key)
        if (query_embeddings is None) == (query_texts is None):
            raise ValueError(
                "pass exactly one of query_embeddings / query_texts"
            )
        if n_results < 1:
            raise ValueError(f"n_results must be >= 1, got {n_results}")
        if query_texts is not None:
            dim = self.dim or E.DEFAULT_DIM
            enc = embedder or (lambda ts: E.embed_texts(ts, dim))
            query_embeddings = [list(map(float, v)) for v in enc(query_texts)]
        if not query_embeddings:
            raise ValueError("no queries: query_embeddings is empty")
        if self.dim is not None:
            for i, v in enumerate(query_embeddings):
                if len(v) != self.dim:
                    raise ValueError(
                        f"query {i} has dim {len(v)}, collection dim {self.dim}"
                    )
        cands = knn.topk_candidates(
            corpus,
            range(len(query_embeddings)),
            query_embeddings,
            n_results,
            corpus_id_col="id",
            corpus_vec_col="embedding",
            query_id_col="query_idx",
            decode=decode,
        ).drop("embedding")
        hits = knn.merge_topk(cands.toArrow(), n_results, "query_idx", "id")
        out = {c: hits.column(c) for c in ("query_idx", "rank", "id")}
        if "documents" in cols:
            doc = hits.column("document")
            out["document"] = doc if key is None else crypto.decrypt_texts(doc, key)
        if "distances" in cols:
            out["distance"] = pc.subtract(pa.scalar(1.0), hits.column("score"))
        return self.spark.createDataFrame(pa.table(out))

    # -- batch maintenance (append/compact model; online CRUD is an
    #    explicit non-goal — SURVEY.md §7 hard parts (d)) ---------------
    def compact(self, target_partitions: int = 8) -> int:
        """Rewrite the collection into ``target_partitions`` files (a
        bucketed layout: one file per bucket). Batch appends accumulate
        small files (each ``add`` writes >=1); periodic compaction
        restores scan efficiency. Returns the row count."""
        if self.bucket_count:
            live = [d for d in os.listdir(self.path) if d.startswith("id_bucket=")]
            return self._rewrite(None, buckets=sorted(int(d.split("=")[1]) for d in live))
        return self._rewrite(None, files=target_partitions)

    def delete(self, ids: list[str]) -> int:
        """Batch delete by a SMALL caller-provided id list: the
        NOT-IN predicate pushes into the scan. For id sets of
        DataFrame scale use ``delete_matching`` — never materialize a
        big id list on the driver. Returns rows remaining (flat) or
        touched buckets (bucketed)."""
        if not self.bucket_count:
            return self._rewrite(ids)
        buckets = self._buckets_of(self._id_frame(ids))
        self._rewrite(ids, buckets=buckets)
        return len(buckets)

    def delete_matching(self, ids_df: DataFrame, id_col: str = "id") -> int:
        """Batch delete of every id present in ``ids_df`` via a
        broadcast left-anti join — the ids never land on the driver.
        Returns rows remaining (flat) or touched buckets (bucketed)."""
        drop = ids_df.select(F.col(id_col).cast("string").alias("id"))
        if not self.bucket_count:
            return self._rewrite(drop)
        buckets = self._buckets_of(ids_df, id_col)
        self._rewrite(drop, buckets=buckets)
        return len(buckets)

    def upsert(self, df: DataFrame, id_col: str = "id", **kwargs) -> None:
        """Batch upsert: the removal of the incoming ids (a broadcast
        left-anti join) and the insert of the new rows are ONE staged
        rewrite and one commit, on both layouts."""
        self._rewrite(
            df.select(F.col(id_col).cast("string").alias("id")),
            self._project_rows(df, id_col=id_col, **kwargs),
            self._buckets_of(df, id_col) if self.bucket_count else None,
        )

    def _rewrite(
        self,
        drop: list[str] | DataFrame | None,
        new_rows: DataFrame | None = None,
        buckets: list[int] | None = None,
        files: int | None = None,
    ) -> int:
        """The one rewrite path of every collection write. Reads the
        touched part — the ``buckets`` (``id_bucket IN (...)`` is a
        PartitionFilter: untouched buckets are never read or rewritten)
        or the whole flat table — drops the ``drop`` ids (a pushed
        NOT IN for a list, a broadcast left-anti join for a frame),
        unions ``new_rows``, writes the result to a sibling staging dir
        and commits it part by part. Returns the staged row count, read
        from the Parquet footers on the driver (no Spark job)."""
        if buckets is None:
            rows = self.scan()
        elif not buckets:
            return 0
        else:
            rows = self._scan_raw().filter(F.col("id_bucket").isin(buckets))
            rows, files = rows.drop("id_bucket"), len(buckets)
        if isinstance(drop, list):
            rows = rows.filter(~F.col("id").isin(drop))
        elif drop is not None:
            rows = rows.join(F.broadcast(drop), "id", "left_anti")
        if new_rows is not None:
            rows = rows.unionByName(new_rows)
        # pid-suffixed: two concurrent writers never share a stage
        # (last-writer-wins per part is the concurrency model)
        staged = f"{self.path}.stage{os.getpid()}"
        self._write(rows, staged, "overwrite", files)
        n = pa_ds.dataset(staged, format="parquet").count_rows()
        if buckets is not None:
            self._commit(staged, [f"id_bucket={b}" for b in buckets])
            return n
        # the flat commit replaces the whole dir: carry its sidecars
        # (``_stream_commits/`` replay markers, ``_coll_meta.json``)
        for entry in os.listdir(self.path):
            src = os.path.join(self.path, entry)
            if entry.startswith("_") and entry != "_SUCCESS":
                copy = shutil.copytree if os.path.isdir(src) else shutil.copy2
                copy(src, os.path.join(staged, entry))
        self._commit(staged, [""])
        return n

    def _commit(self, staged: str, parts: list[str]) -> None:
        """Swap each staged part in for the live one — a part is an
        ``id_bucket=b`` dir or, as ``""``, the whole flat dir. Per part:
        rename the live dir aside, rename the staged one in; the aside
        copies are removed last, so a failure at any rename leaves every
        committed row on disk (in the live part or under
        ``{path}.aside{pid}``). A bucket the rewrite left empty has no
        staged dir and simply disappears. The only place collection
        data is renamed."""
        aside = f"{self.path}.aside{os.getpid()}"
        if os.path.exists(aside):  # an unfinished commit's rows: keep them
            raise FileExistsError(f"{aside} is left from a failed commit")
        for part in parts:
            live, new, old = (
                os.path.join(d, part) if part else d for d in (self.path, staged, aside)
            )
            if os.path.isdir(live):
                os.makedirs(os.path.dirname(old), exist_ok=True)
                os.rename(live, old)
            if os.path.isdir(new):
                os.rename(new, live)
        shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)

    # -- layouts ---------------------------------------------------------
    def save_bucketed(
        self, table_name: str, n_buckets: int = 16, df: DataFrame | None = None
    ) -> None:
        """Materialize the collection as a bucketed catalog table
        (bucketBy id, sorted within buckets).

        Two collections bucketed the same way join on id with NO
        shuffle on either side (SortMergeJoin over pre-bucketed files) —
        the layout you give a 100 TB collection that serves id-joins and
        point-gets. Verified by tests/test_ann_collections.py asserting
        the join plan has no Exchange.
        """
        src = df if df is not None else self.scan()
        (
            src.write.mode("overwrite")
            .bucketBy(n_buckets, "id")
            .sortBy("id")
            .format("parquet")
            .saveAsTable(table_name)
        )

    # -- interchange formats (reference S1/S3 read text/JSON files;
    #    SURVEY.md §2.1 S1-S3) ---------------------------------------------
    def export_json(self, path: str) -> None:
        """Write the collection as JSON lines — arrays and the metadata
        map serialize natively; a distributed write, one file per
        partition (the portable interchange dump)."""
        self.scan().write.mode("overwrite").json(path)

    def export_csv(self, path: str) -> None:
        """Write as headered CSV. CSV has no nested types, so the
        embedding and metadata columns travel as JSON strings — the
        standard flat-file escape hatch."""
        self.scan().select(
            "id",
            "document",
            F.to_json("embedding").alias("embedding_json"),
            F.to_json("metadata").alias("metadata_json"),
        ).write.mode("overwrite").option("header", True).csv(path)

    @staticmethod
    def read_json_export(spark: SparkSession, path: str) -> DataFrame:
        """Read a JSON export back with the declared collection schema
        (never inferred — schema inference is a full extra pass and can
        drift on sparse nulls)."""
        return spark.read.schema(COLLECTION_SCHEMA).json(path)

    @staticmethod
    def read_csv_export(spark: SparkSession, path: str) -> DataFrame:
        """Read a CSV export back, rehydrating the nested columns with
        from_json — JVM-side parsing, no Python in the pipeline."""
        return (
            spark.read.option("header", True)
            .csv(path)
            .select(
                F.col("id").cast("string"),
                F.col("document").cast("string"),
                F.from_json(
                    "embedding_json", T.ArrayType(T.FloatType())
                ).alias("embedding"),
                F.from_json(
                    "metadata_json",
                    T.MapType(T.StringType(), T.StringType()),
                ).alias("metadata"),
            )
        )

    @classmethod
    def import_file(
        cls,
        spark: SparkSession,
        name: str,
        base_dir: str,
        src_path: str,
        fmt: str = "json",
        dim: int | None = None,
    ) -> "Collection":
        """Create a collection from a JSON/CSV export (batch import)."""
        if fmt == "json":
            df = cls.read_json_export(spark, src_path)
        elif fmt == "csv":
            df = cls.read_csv_export(spark, src_path)
        else:
            raise ValueError(f"unsupported import format: {fmt!r}")
        coll = cls.create(spark, name, base_dir, dim=dim)
        coll.add(df, id_col="id", metadata_col="metadata")
        return coll

    # -- encrypted variant (reference src/cyborgdb_store.py) -------------
    def add_encrypted(self, df: DataFrame, key: str, **kwargs) -> None:
        """Store with AES-GCM-encrypted embedding + document columns
        (``functions/crypto.py``: the vector as tagged float64
        plaintext, both ciphertexts base64 text in the collection
        schema). A local input frame (rows the driver already holds)
        is encrypted in one task.

        ``metadata_col`` (optional) names a MAP<STRING,STRING> column of
        plaintext metadata to carry alongside the ciphertext; the
        reserved ``embedding_ct`` entry is stripped from it first so a
        round-trip (decrypt → re-encrypt, e.g. key rotation) can't
        smuggle a stale ciphertext through."""
        emb = kwargs.pop("embedding_col", "embedding")
        doc = kwargs.pop("document_col", "document")
        meta = kwargs.pop("metadata_col", None)
        emb_ct = crypto.encrypt_vector(emb, key)
        doc_ct = crypto.encrypt_text(doc, key)
        staged = self._keep_dim(df, emb)
        if df.isLocal():  # rows the driver holds: one Python task, not one per core
            staged = staged.coalesce(1)
        ct_map = F.create_map(F.lit("embedding_ct"), F.base64(emb_ct))
        if meta is not None:
            extra = F.map_filter(
                F.coalesce(F.col(meta), F.create_map().cast("map<string,string>")),
                lambda k, _v: k != F.lit("embedding_ct"),
            )
            ct_map = F.map_concat(extra, ct_map)
        # both ciphers in one projection: one Python pass over each batch
        out = staged.select(
            (F.col(kwargs["id_col"]).cast("string") if kwargs.get("id_col") else F.expr("uuid()")).alias("id"),
            F.base64(doc_ct).alias("document"),
            F.array().cast("array<float>").alias("embedding"),
            ct_map.alias("metadata"),
        )
        self._write(out, self.path, "append")

    def extract_encrypted(self) -> DataFrame:
        """Scan of the encrypted table: yields ciphertext only (the
        mitigation the reference stubs, src/cyborgdb_store.py:10-11)."""
        return self.scan().select("id", F.col("metadata")["embedding_ct"].alias("embedding_ct"))

    def decrypt(self, key: str) -> DataFrame:
        """Authorized read: decrypt embeddings + documents exactly.

        ``metadata`` carries the record's plaintext metadata entries
        (everything except the reserved ``embedding_ct`` ciphertext),
        so consumers — key rotation in particular — see the full
        record, not a lossy projection."""
        return self.scan().select(
            "id",
            crypto.decrypt_text(F.unbase64("document"), key).alias("document"),
            crypto.decrypt_vector(
                F.unbase64(F.col("metadata")["embedding_ct"]), key
            ).alias("embedding"),
            F.map_filter(
                F.col("metadata"), lambda k, _v: k != F.lit("embedding_ct")
            ).alias("metadata"),
        )

    def rotate_key(
        self, old_key: str, new_key: str, dest_base_dir: str
    ) -> "Collection":
        """Batch key rotation: decrypt with the old key and re-encrypt
        with the new one in ONE scan-project job (no shuffle — at
        100 TB this is a pure map over the ciphertext files), written
        to a NEW collection directory so the swap is atomic at the
        directory level and the old ciphertext survives until the
        cutover commits. AES-GCM draws fresh IVs, so rotated
        ciphertexts share nothing with the originals even where the
        plaintext is identical. Plaintext metadata entries ride through
        the rotation untouched (decrypt exposes them; add_encrypted
        merges them back beside the fresh ciphertext). Returns the
        rotated collection. Raises FileExistsError, before any job, if
        ``dest_base_dir`` already holds a collection of this name (the
        source's own base dir included): appending there would mix
        the two keys' ciphertexts."""
        plain = self.decrypt(old_key)
        crypto.check_key(new_key)  # both keys before create's write job
        rotated = Collection.create(
            self.spark, self.name, dest_base_dir, dim=self.dim, exist_ok=False
        )
        rotated.add_encrypted(plain, new_key, id_col="id", metadata_col="metadata")
        return rotated


# Sibling dirs a commit leaves behind when it fails half way
# (``Collection._commit``): ``{name}.stage{pid}`` / ``{name}.aside{pid}``.
_COMMIT_LEFTOVER = re.compile(r"\.(stage|aside)\d+$")


def list_collections(base_dir: str) -> list[str]:
    """Names of the collections under ``base_dir`` (Chroma's
    ``client.list_collections()``): any subdirectory holding a parquet
    table or a collection meta sidecar, except a failed commit's stage
    and aside dirs. Nothing recovers such a commit yet, so a flat
    collection whose dir was moved aside is missing from the list until
    its rows are moved back."""
    if not os.path.isdir(base_dir):
        return []
    out = []
    for name in sorted(os.listdir(base_dir)):
        p = os.path.join(base_dir, name)
        if not os.path.isdir(p) or _COMMIT_LEFTOVER.search(name):
            continue
        if (
            os.path.isfile(os.path.join(p, "_SUCCESS"))
            or os.path.isfile(os.path.join(p, Collection._META_FILE))
            or any(f.endswith(".parquet") for f in os.listdir(p))
        ):
            out.append(name)
    return out


def delete_collection(base_dir: str, name: str) -> bool:
    """Drop a collection (Chroma's ``client.delete_collection()``).
    Returns False if it does not exist."""
    p = os.path.join(base_dir, name)
    if not os.path.isdir(p):
        return False
    shutil.rmtree(p)
    return True


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "id",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style reconciliation of two collection snapshots: one row per
    changed id, classified ``I`` (insert: new only), ``D`` (delete: old
    only), or ``U`` (update: both sides, any compare column differs).
    Unchanged ids are dropped. This is the change-data-capture primitive
    a 100 TB pipeline runs between table versions to feed incremental
    consumers (index maintenance, downstream syncs) a delta instead of
    a full re-read.

    Comparison is null-safe (``eqNullSafe``) per column; array columns
    (embeddings) compare element-wise through Spark's native array
    equality — no serialization round-trip.

    Scale shape: ONE full outer join, shuffling each side once on the
    id. When both snapshots are bucket-partitioned by the same
    ``pmod(xxhash64(id), N)`` layout (Collection.save_bucketed), reading
    per-bucket pairs makes the join co-partitioned — the shuffle
    disappears and the diff streams bucket by bucket (pinned in
    tests/test_round5c.py).
    """
    cols = compare_cols or [c for c in old.columns if c != id_col]
    o = old.select(
        F.col(id_col).alias("__oid"),
        *[F.col(c).alias(f"__o_{c}") for c in cols],
    )
    n = new.select(
        F.col(id_col).alias("__nid"),
        *[F.col(c).alias(f"__n_{c}") for c in cols],
    )
    joined = o.join(n, o["__oid"] == n["__nid"], "full_outer")
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(F.col("__oid").isNull(), F.lit("I"))
        .when(F.col("__nid").isNull(), F.lit("D"))
        .when(~same, F.lit("U"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            F.coalesce(F.col("__oid"), F.col("__nid")).alias(id_col),
            "change",
        )
    )
