"""Round-9 regression tests: ADVICE fixes (string-id components,
star-contraction converged flag) plus the new
operators added this round (tests appended as they land)."""

from __future__ import annotations

import logging

import pytest

from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _labels(df):
    return {r["node"]: r["component"] for r in df.collect()}


class TestStringIdComponents:
    def test_min_label_string_ids_full_propagation(self, spark, cc_placements):
        """String doc ids: along a 4-hop chain every node must reach
        the lexicographic minimum, in both placements (the driver
        union-find compares Python strings, the star contraction Spark
        strings)."""
        pairs = spark.createDataFrame(
            [
                ("doc_a", "doc_b"),
                ("doc_b", "doc_c"),
                ("doc_c", "doc_d"),
                ("doc_d", "doc_e"),
                ("doc_x", "doc_y"),
            ],
            "doc_a string, doc_b string",
        )
        for placement in cc_placements():
            got = _labels(connected_components(pairs))
            assert got == {
                "doc_a": "doc_a",
                "doc_b": "doc_a",
                "doc_c": "doc_a",
                "doc_d": "doc_a",
                "doc_e": "doc_a",
                "doc_x": "doc_x",
                "doc_y": "doc_x",
            }, placement

    def test_min_label_string_ids_matches_star(self, spark, cc_placements):
        pairs = spark.createDataFrame(
            [("u%02d" % i, "u%02d" % (i + 1)) for i in range(0, 8)]
            + [("v1", "v2"), ("v2", "v0")],
            "doc_a string, doc_b string",
        )
        got = {p: _labels(connected_components(pairs)) for p in cc_placements()}
        assert got["driver"] == got["star"]
        assert got["star"] == {
            **{"u%02d" % i: "u00" for i in range(9)},
            "v0": "v0", "v1": "v0", "v2": "v0",
        }


class TestStarConvergedWarning:
    def test_no_spurious_warning_on_exact_round_convergence(
        self, spark, caplog
    ):
        """connected_components_star used to warn 'not converged' when
        the fixed point landed exactly on round == max_iter even though
        the anti-join probe proved convergence."""
        pairs = spark.createDataFrame(
            [(2, 1), (3, 1), (4, 1)], "doc_a long, doc_b long"
        )
        # a star converges in 1 round; max_iter=1 hits rounds == max_iter
        with caplog.at_level(
            logging.WARNING,
            logger="cyborgdb_encrypted_vector_search_spark.operators.dedup",
        ):
            got = _labels(connected_components_star(pairs, max_iter=1))
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}
        assert not [
            r for r in caplog.records if "not converged" in r.message
        ]

    def test_genuine_nonconvergence_still_warns(self, spark, caplog):
        # a 16-node path cannot converge in a single contraction round
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 16)], "doc_a long, doc_b long"
        )
        with caplog.at_level(
            logging.WARNING,
            logger="cyborgdb_encrypted_vector_search_spark.operators.dedup",
        ):
            connected_components_star(pairs, max_iter=1).collect()
        assert [
            r for r in caplog.records if "not converged" in r.message
        ]


class TestBmpCodec:
    """The real image decode (round-8 verdict task #6): pure-Python
    24-bit BMP encode/decode pinned against hand-built bytes, then the
    full mapInPandas decode-stats dataflow."""

    def test_roundtrip_all_padding_residues(self):
        from cyborgdb_encrypted_vector_search_spark.operators.multimodal import (
            decode_image,
            encode_bmp,
        )

        for w in (4, 5, 6, 7, 8):  # 3*w % 4 sweeps 0,3,2,1,0
            h = 3
            rows = [
                [((11 * x + 7 * y) % 256, (x * y) % 256, (x + 13 * y) % 256)
                 for x in range(w)]
                for y in range(h)
            ]
            got_w, got_h, got_rows = decode_image(encode_bmp(w, h, rows))
            assert (got_w, got_h) == (w, h)
            assert got_rows == rows

    def test_handbuilt_bytes_pin_bottom_up_bgr_and_padding(self):
        """A 2x2 BMP built byte-by-byte: storage is bottom-up (first
        stored row is the BOTTOM scanline), channels are B,G,R, and the
        6-byte rows carry 2 pad bytes each. A decoder that gets any of
        the three wrong returns different pixels."""
        from cyborgdb_encrypted_vector_search_spark.operators.multimodal import (
            decode_image,
        )
        import struct

        # top row: red, green — bottom row: blue, white
        bottom = bytes((255, 0, 0)) + bytes((255, 255, 255)) + b"\x00\x00"
        top = bytes((0, 0, 255)) + bytes((0, 255, 0)) + b"\x00\x00"
        pixels = bottom + top  # bottom-up storage
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                           len(pixels), 2835, 2835, 0, 0)
        w, h, rows = decode_image(hdr + info + pixels)
        assert (w, h) == (2, 2)
        assert rows == [
            [(255, 0, 0), (0, 255, 0)],   # top: red, green
            [(0, 0, 255), (255, 255, 255)],  # bottom: blue, white
        ]

    def test_negative_height_decodes_top_down(self):
        from cyborgdb_encrypted_vector_search_spark.operators.multimodal import (
            decode_image,
        )
        import struct

        first_stored = bytes((0, 0, 255)) + bytes((0, 255, 0)) + b"\x00\x00"
        second_stored = bytes((255, 0, 0)) + bytes((255, 255, 255)) + b"\x00\x00"
        pixels = first_stored + second_stored
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0,
                           len(pixels), 2835, 2835, 0, 0)
        _, h, rows = decode_image(hdr + info + pixels)
        assert h == 2
        assert rows[0] == [(255, 0, 0), (0, 255, 0)]  # stored first = top

    def test_rejects_non_bmp_and_unsupported(self):
        from cyborgdb_encrypted_vector_search_spark.operators.multimodal import (
            decode_image,
            encode_bmp,
        )
        import struct

        with pytest.raises(ValueError, match="BM magic"):
            decode_image(b"PNG" + b"\x00" * 60)
        good = encode_bmp(2, 1, [[(1, 2, 3), (4, 5, 6)]])
        bad_bpp = bytearray(good)
        struct.pack_into("<H", bad_bpp, 28, 8)
        with pytest.raises(ValueError, match="24-bit"):
            decode_image(bytes(bad_bpp))
        with pytest.raises(ValueError, match="truncated"):
            decode_image(good[:-1])

    def test_decode_stats_dataflow_matches_direct_compute(self, spark):
        """End-to-end mapInPandas render -> decode -> stats equals a
        straight Python computation from the shared pixel formula."""
        from cyborgdb_encrypted_vector_search_spark.operators import (
            multimodal as M,
        )

        ids = spark.createDataFrame(
            [(i,) for i in range(12)], "media_id bigint"
        )
        got = {
            r["media_id"]: r.asDict()
            for r in M.decode_image_stats(M.synthetic_bmp_media(ids)).collect()
        }
        for mid in range(12):
            w, h = M.synth_dims(mid)
            exp = {"sum_r": 0, "sum_g": 0, "sum_b": 0,
                   "wsum_r": 0, "wsum_g": 0, "wsum_b": 0}
            for y in range(h):
                for x in range(w):
                    weight = 1 + x + w * y
                    for c, ch in enumerate("rgb"):
                        v = M.synth_pixel(mid, x, y, c)
                        exp[f"sum_{ch}"] += v
                        exp[f"wsum_{ch}"] += weight * v
            row = got[mid]
            assert (row["width"], row["height"]) == (w, h)
            for k, v in exp.items():
                assert row[k] == v, (mid, k)


def test_min_label_fractional_ids_use_changed_row_probe(spark, cc_placements):
    """Fractional (double) ids, which no integer rounding may merge:
    along a 2-hop chain every node must reach the minimum, in both
    placements."""
    pairs = spark.createDataFrame(
        [(1.4, 1.2), (1.2, 1.0)], "doc_a double, doc_b double"
    )
    for placement in cc_placements():
        got = _labels(connected_components(pairs))
        assert got == {1.4: 1.0, 1.2: 1.0, 1.0: 1.0}, placement


def test_bmp_rejects_data_offset_inside_headers():
    """Review finding (r9): a data_offset pointing into the headers
    would silently decode header bytes as pixels."""
    import struct

    from cyborgdb_encrypted_vector_search_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
    )

    good = encode_bmp(2, 2, [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (1, 1, 1)]])
    bad = bytearray(good)
    struct.pack_into("<I", bad, 10, 10)  # offset inside the file header
    with pytest.raises(ValueError, match="inside the headers"):
        decode_image(bytes(bad))


class TestWeightedLinkScores:
    def test_matches_bruteforce_on_random_graph(self, spark):
        import itertools
        import random

        rng = random.Random(97)
        n = 24
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(70)
                )
                if a != b
            }
        )
        from cyborgdb_encrypted_vector_search_spark.operators.graph import (
            LINKPRED_SCALE,
            weighted_link_scores,
        )

        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        expected = {}
        for u, v in itertools.combinations(sorted(adj), 2):
            if v in adj[u]:
                continue
            common = adj[u] & adj[v]
            if not common:
                continue
            cn = len(common)
            ra = sum(LINKPRED_SCALE // len(adj[w]) for w in common)
            aa = sum(
                LINKPRED_SCALE // (len(adj[w]).bit_length())
                for w in common
            )
            expected[(u, v)] = (cn, ra, aa)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["u"], r["v"]): (r["cn"], r["ra_fp"], r["aa_fp"])
            for r in weighted_link_scores(df, min_common=1).collect()
        }
        assert got == expected

    def test_hub_cap_drops_apex_wedges(self, spark, caplog):
        from cyborgdb_encrypted_vector_search_spark.operators.graph import (
            weighted_link_scores,
        )

        # star: hub 0 with 6 spokes; every spoke pair's only common
        # neighbor is the hub -> capping at degree 5 kills all pairs
        edges = [(0, i) for i in range(1, 7)]
        df = spark.createDataFrame(edges, "src long, dst long")
        with caplog.at_level(
            logging.WARNING,
            logger="cyborgdb_encrypted_vector_search_spark.operators.graph",
        ):
            rows = weighted_link_scores(
                df, min_common=1, max_apex_degree=5
            ).collect()
        assert rows == []
        assert any("dropped 1 apex" in r.message for r in caplog.records)
