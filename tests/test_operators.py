"""Unit pins for dedup/text/crypto/knn operators (FIXTURES.md hand-rolled
fixtures: dup-keep-max, k>group-size, AES round-trip, short docs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import crypto
from cyborgdb_encrypted_vector_search_spark.functions import hashing as H
from cyborgdb_encrypted_vector_search_spark.functions import text as X
from cyborgdb_encrypted_vector_search_spark.operators import dedup, knn


def test_dedup_keep_best_ties_and_max(spark):
    # reference src/app.py:246-251: keep max score per distinct text
    df = spark.createDataFrame(
        [("a", 0.1), ("a", 0.9), ("b", 0.5), ("b", 0.5)],
        "text string, score double",
    )
    got = {r["text"]: r["score"] for r in dedup.dedup_keep_best(df, "text", "score").collect()}
    assert got == {"a": 0.9, "b": 0.5}


def test_exact_duplicates_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO WORLD "), (4, "other")],
        "doc_id long, text string",
    )
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == [1, 2, 3]


def test_knn_k_larger_than_corpus(spark):
    # reference src/cod.py:125-129 returns <= n results
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.1])], "query_id long, query_vec array<double>"
    )
    res = knn.knn_join(q, corpus, k=5, corpus_id_col="vec_id")
    assert res.count() == 2  # k=5 > corpus size: underflow, no padding


def test_knn_orders_by_score_desc(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<double>",
    )
    res = knn.topk_against_target(corpus, [1.0, 0.0], k=2, id_col="vec_id")
    rows = res.collect()
    assert [r["vec_id"] for r in rows] == [1, 3]


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now today friend")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["signature"] for r in
            dedup.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_exact_dup_is_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    res = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(df).collect()}
    assert res[(1, 2)] == 1.0
    assert res[(1, 3)] == 0.0


def test_crypto_roundtrip_and_ciphertext_opacity(spark):
    key = "0123456789abcdef"
    df = spark.createDataFrame(
        [(1, [1.5, -2.25, 0.0]), (2, [0.0, 0.0, 0.0])],
        "id long, v array<double>",
    )
    out = df.select(
        "id",
        "v",
        crypto.decrypt_vector(crypto.encrypt_vector("v", key), key).alias("rt"),
        crypto.encrypt_vector("v", key).cast("string").alias("ct_str"),
    ).collect()
    for r in out:
        assert r["rt"] == r["v"]  # exact float round-trip
        assert "1.5" not in r["ct_str"]  # ciphertext reveals nothing
    # GCM randomized IV: identical plaintexts on different rows encrypt
    # to different ciphertexts (ciphertext equality leaks nothing)
    same = spark.createDataFrame(
        [(1, [7.0, 8.0]), (2, [7.0, 8.0])], "id long, v array<double>"
    )
    cts = [bytes(r["ct"]) for r in
           same.select(crypto.encrypt_vector("v", key).alias("ct")).collect()]
    assert cts[0] != cts[1]


def test_crypto_wrong_key_fails(spark):
    df = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
    enc = df.select(crypto.encrypt_vector("v", "0123456789abcdef").alias("ct"))
    with pytest.raises(Exception):
        enc.select(crypto.decrypt_vector("ct", "feedcafefeedcafe")).collect()


def test_text_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox."), (2, ""), (3, "!!! ??? ...")],
        "id long, t string",
    )
    rows = {r["id"]: r for r in df.select(
        "id",
        X.token_count("t").alias("n"),
        F.round(X.punct_ratio("t"), 4).alias("p"),
        X.quality_score("t").alias("q"),
    ).collect()}
    assert rows[1]["n"] == 4
    assert rows[2]["n"] == 0 and rows[2]["p"] == 0.0
    assert rows[3]["n"] == 0 and rows[3]["p"] > 0.5
    assert rows[3]["q"] == 0.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in that house with food"),
         (2, "le chat est dans la maison pour le dîner et une pomme"),
         (3, "der hund ist nicht mit der katze und das haus"),
         (4, "")],
        "id long, t string",
    )
    got = {r["id"]: r["lang"] for r in
           df.select("id", X.lang_id("t").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "fr"
    assert got[3] == "de"
    assert got[4] == "de"  # zero-marker tie → lexicographically first


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], "id long, t string")
    sh = df.select(H.word_shingles("t", 3).alias("s")).collect()[0]["s"]
    assert sh == ["one two"]  # fewer words than n → whole text


def test_winnow_shared_substring_guarantee(spark):
    # Winnowing guarantee (SIGMOD 2003): a shared substring of length
    # >= k + w - 1 must contribute at least one shared fingerprint.
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import winnow_fingerprints

    k, w = 8, 4
    shared = "abcdefghijklmnopqrstuvwxyz"  # len 26 >= k+w-1 = 11
    df = spark.createDataFrame(
        [(1, f"prefix one {shared} suffix one"),
         (2, f"totally different start {shared} and end"),
         (3, "no overlap with the others at all zzz")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", k=k, w=w)
    by_doc = {
        r["doc_id"]: set(r["s"])
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fp").alias("s"))
        .collect()
    }
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"


def test_winnow_short_doc_filtered(spark):
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "long enough to fingerprint")],
        "doc_id long, text string",
    )
    got = winnow_fingerprints(df, "doc_id", "text", k=8, w=4)
    assert {r["doc_id"] for r in got.select("doc_id").distinct().collect()} == {2}


def test_lsh_band_cache_released(spark):
    """MinHash banding persists its banded frame for the self-join;
    release_all() must free it once the pairs are collected, so
    repeated calls do not pin one cached relation each."""
    from cyborgdb_encrypted_vector_search_spark import caching

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "lorem ipsum dolor sit amet consectetur")],
        "doc_id long, text string",
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    def cached_rdds():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    caching.release_all()  # frames other tests left tracked
    cached_before = cached_rdds()
    pairs = dedup.lsh_candidate_pairs(df)
    banded = list(caching._LIVE)
    assert len(banded) == 1
    assert (1, 2) in {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert cm.lookupCachedData(banded[0]._jdf).nonEmpty()
    assert cached_rdds() - cached_before  # the banded frame's blocks
    assert caching.release_all() == 1
    assert cm.lookupCachedData(banded[0]._jdf).isEmpty()
    # by id, not count: Spark's cleaner may drop another test's RDD in
    # between, but no RDD cached by this call may remain
    assert cached_rdds() <= cached_before


def test_fastpath_simhash_xxhash_near_and_far(spark):
    # Near-identical token bags -> small Hamming distance; disjoint
    # vocabularies -> large. Deterministic across runs (seedless
    # xxhash64 is a fixed function).
    df = spark.createDataFrame(
        [(1, "spark query engine plan optimizer shuffle join scan"),
         (2, "spark query engine plan optimizer shuffle join merge"),
         (3, "zebra yak wombat xerus vole urchin tapir serval")],
        "doc_id long, text string",
    )
    mask = (1 << 64) - 1  # fingerprints are SIGNED bigints (bit 63 =
    # sign); mask before Python-side XOR popcounts. Spark-side
    # hamming32 (bit_count(xor)) needs no masking.
    for bits in (32, 64):
        fps = {r["doc_id"]: r["simhash"] for r in
               dedup.simhash_fingerprints_xxhash(df, num_bits=bits).collect()}
        d_near = bin((fps[1] ^ fps[2]) & mask).count("1")
        d_far = bin((fps[1] ^ fps[3]) & mask).count("1")
        assert d_near < d_far
        assert fps[1] != fps[3]
        rerun = {r["doc_id"]: r["simhash"] for r in
                 dedup.simhash_fingerprints_xxhash(df, num_bits=bits).collect()}
        assert rerun == fps


def test_simhash_block_candidates_pigeonhole_recall(spark):
    # Crafted 64-bit fingerprints: pairs within the Hamming threshold
    # MUST be found regardless of which blocks the differing bits land
    # in (pigeonhole: 4 blocks > 3 flipped bits). Beyond-threshold
    # pairs are verified away even when they share a block.
    def signed(v):  # wrap to the signed-long range Spark stores
        return v - (1 << 64) if v >= (1 << 63) else v

    base = 0x0123456789ABCDEF
    rows = [
        (1, signed(base)),
        (2, signed(base ^ (1 << 0) ^ (1 << 17) ^ (1 << 63))),  # 3 bits, 3 blocks
        (3, signed(base ^ 0x7)),                               # 3 bits, one block
        (4, signed(base ^ 0x3FF)),                             # 10 bits: too far
    ]
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_block_candidates(
            fps, num_blocks=4, bits_per_block=16, max_hamming=3
        ).collect()
    }
    assert got[(1, 2)] == 3 and got[(1, 3)] == 3
    assert (1, 4) not in got and (2, 4) not in got
    with pytest.raises(ValueError):
        dedup.simhash_block_candidates(fps, num_blocks=3, max_hamming=3)


def test_simhash_block_candidates_xxhash64_end_to_end(spark):
    # The documented 100 TB path: 64-bit xxhash fingerprints + 4x16-bit
    # pigeonhole blocks. Near-identical docs pair up; disjoint-vocab
    # docs don't.
    df = spark.createDataFrame(
        [(1, "spark query engine plan optimizer shuffle join scan"),
         (2, "spark query engine plan optimizer shuffle join scan"),
         (3, "zebra yak wombat xerus vole urchin tapir serval")],
        "doc_id long, text string",
    )
    fps = dedup.simhash_fingerprints_xxhash(df, num_bits=64)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_block_candidates(
            fps, num_blocks=4, bits_per_block=16, max_hamming=3
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_pii_redaction_and_flags(spark):
    rows = [
        ("ssn 123-45-6789 and card 4111 1111 1111 1111",),
        ("mail bob7@example.com twice bob7@example.com",),
        ("no pii here 12345",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    out = df.select(
        X.redact_pii("text").alias("red"),
        X.pii_flag("text", "ssn").alias("s"),
        X.pii_flag("text", "card").alias("c"),
        X.pii_flag("text", "email").alias("e"),
    ).collect()
    assert out[0]["red"] == "ssn [SSN] and card [CARD]"
    assert (out[0]["s"], out[0]["c"], out[0]["e"]) == (True, True, False)
    # global replace: every occurrence goes, not just the first
    assert out[1]["red"] == "mail [EMAIL] twice [EMAIL]"
    assert out[2]["red"] == rows[2][0]
    assert (out[2]["s"], out[2]["c"], out[2]["e"]) == (False, False, False)


def test_connected_components_transitive_chain(spark, cc_placements):
    # Two components: a 6-node path (the min label must travel the
    # whole chain) and a disjoint pair. No A-C edge anywhere on the
    # path: transitivity is earned by the closure, not by the input
    # pairs. Both placements (driver union-find, star contraction).
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (50, 51)],
        ["doc_a", "doc_b"],
    )
    for placement in cc_placements():
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {
            10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10, 50: 50, 51: 50,
        }, placement


def test_connected_components_merges_via_shared_node(spark, cc_placements):
    # Triangle evidence arriving as two pairs plus a bridge between
    # two otherwise-separate clusters: all five nodes collapse to one
    # component under the smallest id, in both placements.
    pairs = spark.createDataFrame(
        [(3, 4), (1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"]
    )
    for placement in cc_placements():
        comps = {
            r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert comps == {1}, placement


def test_char_ngram_lm_and_perplexity_hand_computed(spark):
    """Trigram LM + surprisal on a corpus small enough to verify by
    hand: 'aaaa' contributes ['aaa','aaa'], 'aaab' ['aaa','aab'].
    LM: aaa->3, aab->1, total 4. Doc1 bits = avg(-log2(3/4)) ;
    doc2 = avg of (-log2(3/4), -log2(1/4))."""
    import math

    from cyborgdb_encrypted_vector_search_spark.operators import textops as TX

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "x")],  # 'x' too short -> dropped
        "doc_id long, text string",
    )
    lm = {r["gram"]: r["gram_count"] for r in TX.char_ngram_lm(docs).collect()}
    assert lm == {"aaa": 3, "aab": 1}
    got = {
        r["doc_id"]: r["bits"]
        for r in TX.perplexity_bits(docs, TX.char_ngram_lm(docs)).collect()
    }
    b_aaa = -math.log2(3 / 4)
    b_aab = -math.log2(1 / 4)
    assert got[1] == round((b_aaa + b_aaa) / 2, 5)
    assert got[2] == round((b_aaa + b_aab) / 2, 5)
    assert 3 not in got
    # the rarer-gram doc is the higher-surprisal (lower-quality) one
    assert got[2] > got[1]


def test_substring_window_pairs_detection_and_max_df(spark):
    """Planted shared 40-char run is found; short docs and sub-window
    overlaps are not; max_df drops boilerplate-window pairs."""
    shared = "x" * 25 + "the quick brown fox jumps over the dog" + "y" * 25
    docs = [
        (1, shared),
        (2, "PREFIX " + shared[20:] + " SUFFIX"),   # shares a 40+ char run with 1
        (3, "completely different content that is long enough to qualify ok"),
        (4, "tiny"),                                  # < window: never emits
        (5, shared[:30] + " divergent tail that breaks the window run"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.substring_window_pairs(df, window=40).collect()
    }
    assert (1, 2) in got
    assert all(4 not in p for p in got)
    assert (1, 3) not in got and (2, 3) not in got

    # boilerplate guard: a 40-char header shared by everyone disappears
    # when max_df < corpus size
    header = "B" * 40
    boiler = spark.createDataFrame(
        [(i, header + f" unique tail {i} padded out to be long") for i in range(6)],
        "doc_id long, text string",
    )
    all_pairs = dedup.substring_window_pairs(boiler, window=40).count()
    guarded = dedup.substring_window_pairs(boiler, window=40, max_df=3).count()
    assert all_pairs == 15  # 6 choose 2 via the shared header
    assert guarded == 0


def test_chunk_documents_coverage_and_edges(spark):
    from cyborgdb_encrypted_vector_search_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "a" * 50),            # short: exactly one chunk
            (2, "b" * 200),           # exact size: one chunk
            (3, "c" * 201),           # one char over: two chunks
            (4, "d" * 350),           # 1 + ceil(150/150) = 2 chunks
            (5, "e" * 351),           # 3 chunks
            (6, ""),                  # empty: one empty chunk
        ],
        "doc_id long, text string",
    )
    rows = textops.chunk_documents(docs, size=200, overlap=50).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    counts = {k: len(v) for k, v in by.items()}
    assert counts == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 1}
    # overlap: consecutive chunks share the trailing/leading 50 chars
    c5 = [c for _, c in sorted(by[5])]
    assert c5[0][150:] == c5[1][:50]
    # coverage: rebuilding the doc from strides reproduces it exactly
    rebuilt = c5[0] + c5[1][50:] + c5[2][50:]
    assert rebuilt == "e" * 351
    with pytest.raises(ValueError):
        textops.chunk_documents(docs, size=50, overlap=50)


def test_append_postings_never_rewrites_resident_files(spark, tmp_path):
    """Incremental index maintenance must be APPEND-shaped: growing the
    postings index by a batch adds new files under the touched term
    buckets and one partial-stats row, while every resident file stays
    byte-identical — O(batch) ingest, the property that makes the
    index maintainable at 100 TB."""
    import glob
    import os

    from cyborgdb_encrypted_vector_search_spark.operators import retrieval as R

    docs = spark.createDataFrame(
        [(i, f"token{i % 7} common word{i}") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    R.build_postings(docs.filter("doc_id < 20"), "doc_id", "text", path)

    def snapshot():
        out = {}
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
            st = os.stat(f)
            out[f] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    R.append_postings(docs.filter("doc_id >= 20"), "doc_id", "text", path)
    after = snapshot()
    # every pre-append file survives unchanged; new files were added
    for f, sig in before.items():
        assert after.get(f) == sig, f
    assert len(after) > len(before)
    # merged stats equal a from-scratch build's
    _, n, avgdl = R.read_postings(spark, path)
    full = str(tmp_path / "postings_full")
    R.build_postings(docs, "doc_id", "text", full)
    _, n2, avgdl2 = R.read_postings(spark, full)
    assert (n, avgdl) == (n2, avgdl2)


def test_compact_postings_preserves_content_and_stats(spark, tmp_path):
    """Compaction of an append-grown postings index must preserve the
    postings multiset and the merged stats exactly while cutting the
    file count — the maintenance op that keeps a streamed index's
    probe cost flat."""
    import glob
    import os

    from cyborgdb_encrypted_vector_search_spark.operators import retrieval as R

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} shared word{i}") for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "grown")
    R.build_postings(docs.filter("doc_id < 10"), "doc_id", "text", path)
    R.append_postings(
        docs.filter("doc_id >= 10 and doc_id < 20"), "doc_id", "text", path
    )
    R.append_postings(docs.filter("doc_id >= 20"), "doc_id", "text", path)

    dest = str(tmp_path / "compact")
    R.compact_postings(spark, path, dest, max_tasks=2)

    def rows(p):
        return sorted(
            (r["doc"], r["term"], r["tf"], r["dl"], r["term_bucket"])
            for r in spark.read.parquet(p).collect()
        )

    assert rows(path) == rows(dest)
    _, n1, a1 = R.read_postings(spark, path)
    _, n2, a2 = R.read_postings(spark, dest)
    assert (n1, a1) == (n2, a2)
    n_files = lambda p: len(
        glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    )
    assert n_files(dest) < n_files(path)
    # stats sidecar collapsed to one row
    assert spark.read.parquet(f"{dest}/_stats").count() == 1


def test_bm25_max_df_prunes_stopword_postings(spark):
    """Max-df pruning: a term appearing in (almost) every document is
    dropped from the probe BEFORE its O(corpus) posting list is
    touched, and the ranking it returns equals BM25 computed without
    the stopword term — the idf of a near-universal term is ~0, so the
    cut changes candidate volume, not the answer's ordering."""
    from pyspark.sql import functions as F

    from cyborgdb_encrypted_vector_search_spark.operators import retrieval as R

    docs = spark.createDataFrame(
        [(i, f"the topic{i % 4} word{i}") for i in range(40)],
        "doc_id long, text string",
    )  # "the" appears in all 40 docs
    queries = spark.createDataFrame(
        [(0, "the topic1")], "query_id long, query_text string"
    )
    pruned = R.bm25_topk(queries, docs, k=5, max_df_frac=0.5)
    rows = pruned.collect()
    assert rows, "pruning must not empty the result"
    # every hit contains topic1; the stopword term contributed nothing
    hits = {r["doc"] for r in rows}
    assert hits <= {i for i in range(40) if i % 4 == 1}
    # ranking equals BM25 over queries with the stopword removed
    nostop = R.bm25_topk(
        spark.createDataFrame(
            [(0, "topic1")], "query_id long, query_text string"
        ),
        docs,
        k=5,
    )
    assert [
        (r["doc"], r["rank"]) for r in rows
    ] == [(r["doc"], r["rank"]) for r in nostop.collect()]
