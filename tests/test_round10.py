"""Round-10 pins: the real RIFF/AVI demux (last stub closed), the
loud-NULL media contract, the DecimalType(p,0) CC probe widening, and
the greedy restart parallelism plan.
"""

from __future__ import annotations

import struct

import pytest

from cyborgdb_encrypted_vector_search_spark.operators import multimodal as M
from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
    connected_components,
)


def _frames_for(mid: int) -> list[list[list[tuple[int, int, int]]]]:
    w, h = M.synth_dims(mid)
    return [
        [
            [
                (
                    M.synth_frame_pixel(mid, f, x, y, 0),
                    M.synth_frame_pixel(mid, f, x, y, 1),
                    M.synth_frame_pixel(mid, f, x, y, 2),
                )
                for x in range(w)
            ]
            for y in range(h)
        ]
        for f in range(M.synth_video_frames(mid))
    ]


class TestAviCodec:
    """Pure-Python RIFF/AVI container codec — the r10 demux."""

    @pytest.mark.parametrize("mid", [0, 1, 3, 7, 11])
    def test_roundtrip_recovers_every_frame_pixel(self, mid):
        w, h = M.synth_dims(mid)
        frames = _frames_for(mid)
        avi = M.encode_avi(w, h, frames)
        w2, h2, dibs = M.demux_avi(avi)
        assert (w2, h2) == (w, h)
        assert len(dibs) == len(frames)
        for f, dib in enumerate(dibs):
            assert M.decode_video_frame(w2, h2, dib) == frames[f]

    def test_hand_built_container_decodes(self):
        """Pin the DEMUXER independent of the encoder: a container
        assembled by hand, byte by byte, with an odd-size JUNK chunk
        (exercising the RIFF even-padding rule), a '00dc' frame
        fourcc variant, and no idx1 — all legal AVI the walker must
        handle."""
        w, h = 1, 2
        # bottom-up BGR DIB, stride 4: bottom row (10,20,30) then top
        # row (40,50,60) — stored bottom-first
        dib = bytes([30, 20, 10, 0, 60, 50, 40, 0])
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(dib), 0, 0, 0, 0
        )
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"vids", b"DIB ", 0, 0, 0, 0, 1, 30, 0, 1, len(dib),
            0, 0, 0, 0, w, h,
        )
        avih = struct.pack(
            "<IIIIIIIIIIIIII",
            33333, 0, 0, 0, 1, 0, 1, len(dib), w, h, 0, 0, 0, 0,
        )

        def chunk(cc, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cc + struct.pack("<I", len(body)) + body + pad

        strl = chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf))
        hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)
        junk = chunk(b"JUNK", b"odd")  # 3-byte body -> 1 pad byte
        movi = chunk(b"LIST", b"movi" + chunk(b"00dc", dib))
        avi = chunk(b"RIFF", b"AVI " + hdrl + junk + movi)
        w2, h2, dibs = M.demux_avi(avi)
        assert (w2, h2) == (w, h) and len(dibs) == 1
        assert M.decode_video_frame(w2, h2, dibs[0]) == [
            [(40, 50, 60)],
            [(10, 20, 30)],
        ]

    def test_sample_frames_keeps_every_nth_original_index(self):
        mid = 3  # 6 frames
        frames = _frames_for(mid)
        assert len(frames) == 6
        w, h = M.synth_dims(mid)
        avi = M.encode_avi(w, h, frames)
        kept = M.sample_frames(avi, every_n=2)
        _, _, all_dibs = M.demux_avi(avi)
        assert kept == all_dibs[::2] and len(kept) == 3
        with pytest.raises(ValueError, match="every_n"):
            M.sample_frames(avi, every_n=0)

    @pytest.mark.parametrize(
        "mutate, msg",
        [
            (lambda b: b"", "RIFF"),
            (lambda b: b"RIFX" + b[4:], "RIFF"),
            (lambda b: b[:8] + b"WAVE" + b[12:], "AVI"),
            (lambda b: b[:40], "truncated|overruns"),
        ],
    )
    def test_malformed_rejected_loudly(self, mutate, msg):
        avi = M.encode_avi(1, 1, [[[(1, 2, 3)]]])
        with pytest.raises(ValueError, match=msg):
            M.demux_avi(mutate(avi))

    def test_compressed_codec_rejected(self):
        avi = bytearray(M.encode_avi(1, 1, [[[(1, 2, 3)]]]))
        # flip strf biCompression (offset 16 inside BITMAPINFOHEADER)
        # to a non-zero fourcc — only BI_RGB DIB is decodable here
        i = bytes(avi).index(b"strf") + 8 + 16
        avi[i:i + 4] = b"MJPG"
        with pytest.raises(ValueError, match="uncompressed"):
            M.demux_avi(bytes(avi))

    def test_missing_movi_rejected(self):
        avi = M.encode_avi(1, 1, [[[(1, 2, 3)]]])
        i = avi.index(b"movi")
        broken = avi[:i] + b"movx" + avi[i + 4:]
        with pytest.raises(ValueError, match="movi"):
            M.demux_avi(broken)

    @staticmethod
    def _chunk(cc, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cc + struct.pack("<I", len(body)) + body + pad

    @staticmethod
    def _strl(fcc_type, handler, strf_body):
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            fcc_type, handler, 0, 0, 0, 0, 1, 30, 0, 1, 64,
            0, 0, 0, 0, 0, 0,
        )
        c = TestAviCodec._chunk
        return c(
            b"LIST", b"strl" + c(b"strh", strh) + c(b"strf", strf_body)
        )

    def test_multistream_collects_only_the_video_stream(self):
        """Review finding (r10): a file whose stream 0 is audio and
        stream 1 the DIB video must collect ONLY '01db' chunks — and
        never decode the audio stream's '00wb' bytes as DIB."""
        c = self._chunk
        w, h = 1, 1
        dib = bytes([30, 20, 10, 0])
        strf_vid = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(dib), 0, 0, 0, 0
        )
        strf_aud = struct.pack("<HHIIHHHH", 1, 1, 8000, 8000, 1, 8, 0, 0)
        avih = struct.pack(
            "<IIIIIIIIIIIIII",
            33333, 0, 0, 0, 1, 0, 2, len(dib), w, h, 0, 0, 0, 0,
        )
        hdrl = c(
            b"LIST",
            b"hdrl"
            + c(b"avih", avih)
            + self._strl(b"auds", b"\x00\x00\x00\x00", strf_aud)
            + self._strl(b"vids", b"DIB ", strf_vid),
        )
        movi = c(
            b"LIST",
            b"movi"
            + c(b"00wb", b"\xde\xad\xbe\xef")  # audio — NOT a frame
            + c(b"01db", dib),
        )
        avi = c(b"RIFF", b"AVI " + hdrl + movi)
        w2, h2, frames = M.demux_avi(avi)
        assert (w2, h2) == (w, h)
        assert frames == [dib]
        assert M.decode_video_frame(w2, h2, frames[0]) == [[(10, 20, 30)]]

    def test_rec_wrapped_frames_are_collected(self):
        """Review finding (r10): interleaved AVIs group frames inside
        LIST 'rec ' wrappers — the walker must descend, not silently
        return zero frames."""
        c = self._chunk
        w, h = 1, 1
        d0, d1 = bytes([3, 2, 1, 0]), bytes([6, 5, 4, 0])
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, 4, 0, 0, 0, 0
        )
        avih = struct.pack(
            "<IIIIIIIIIIIIII", 33333, 0, 0, 0, 2, 0, 1, 4, w, h, 0, 0, 0, 0
        )
        hdrl = c(
            b"LIST",
            b"hdrl" + c(b"avih", avih) + self._strl(b"vids", b"DIB ", strf),
        )
        movi = c(
            b"LIST",
            b"movi"
            + c(b"LIST", b"rec " + c(b"00db", d0))
            + c(b"LIST", b"rec " + c(b"00db", d1)),
        )
        avi = c(b"RIFF", b"AVI " + hdrl + movi)
        _, _, frames = M.demux_avi(avi)
        assert frames == [d0, d1]

    def test_property_roundtrip_random_videos(self):
        """Hypothesis: any geometry (every row-pad residue), any frame
        count, any pixel values survive encode → demux → decode
        bit-exactly."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=25, deadline=None)
        @given(
            w=st.integers(1, 9),
            h=st.integers(1, 7),
            nf=st.integers(1, 5),
            seed=st.integers(0, 2**31),
        )
        def check(w, h, nf, seed):
            import random

            rng = random.Random(seed)
            frames = [
                [
                    [
                        (
                            rng.randrange(256),
                            rng.randrange(256),
                            rng.randrange(256),
                        )
                        for _ in range(w)
                    ]
                    for _ in range(h)
                ]
                for _ in range(nf)
            ]
            w2, h2, dibs = M.demux_avi(M.encode_avi(w, h, frames))
            assert (w2, h2) == (w, h) and len(dibs) == nf
            for f, dib in enumerate(dibs):
                assert M.decode_video_frame(w2, h2, dib) == frames[f]

        check()


class TestMediaNullLoudness:
    """Missing media must not silently vanish from stats output
    (advisory, r9): both decode stats stages reject NULL payloads."""

    def _null_media(self, spark):
        return spark.createDataFrame(
            [(1, "image", None, None)], M.MEDIA_SCHEMA
        )

    def test_image_stats_null_payload_raises(self, spark):
        with pytest.raises(Exception, match="NULL payload"):
            M.decode_image_stats(self._null_media(spark)).collect()

    def test_video_stats_null_payload_raises(self, spark):
        with pytest.raises(Exception, match="NULL payload"):
            M.decode_video_stats(self._null_media(spark)).collect()


def test_min_label_decimal_ids_full_propagation(spark, cc_placements):
    """Exact DECIMAL(28,0) ids: a 4-hop chain must fully close to the
    minimum label, in both placements."""
    import decimal

    pairs = spark.createDataFrame(
        [
            (decimal.Decimal(i), decimal.Decimal(i + 1))
            for i in range(1, 5)
        ]
        + [(decimal.Decimal(90), decimal.Decimal(91))],
        "doc_a decimal(28,0), doc_b decimal(28,0)",
    )
    for placement in cc_placements():
        got = {
            int(r["node"]): int(r["component"])
            for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 90: 90, 91: 90}, placement


def test_min_label_wide_decimal_ids_use_changed_row_probe(spark, cc_placements):
    """decimal(38,0) ids near 1e37 (four of them overflow a 38-digit
    sum): a multi-hop chain of huge ids must fully close to the
    minimum, in both placements — the driver closure keeps them exact
    as Python Decimals, the star contraction as Spark decimals."""
    import decimal

    lo = 3 * 10**37  # 4 ids this size overflow the 38-digit sum
    # NB: construct each Decimal from the exact int — Decimal
    # ARITHMETIC (base*3 + i) rounds to the context's 28 significant
    # digits and would collapse all five ids to the same value
    pairs = spark.createDataFrame(
        [
            (decimal.Decimal(lo + i), decimal.Decimal(lo + i + 1))
            for i in range(4)
        ],
        "doc_a decimal(38,0), doc_b decimal(38,0)",
    )
    for placement in cc_placements():
        got = {
            int(r["node"]): int(r["component"])
            for r in connected_components(pairs).collect()
        }
        assert got == {lo + i: lo for i in range(5)}, placement


def test_greedy_restarts_actually_parallelize(spark):
    """Pin that the restarts fan out: one job whose single stage (no
    exchange) runs min(restarts, defaultParallelism) tasks, so the
    sequential climbs run side by side on the cores instead of one
    after another in one task."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E
    from cyborgdb_encrypted_vector_search_spark.operators import search as S

    sc = spark.sparkContext
    target = E.embed_text("hello world", E.DEFAULT_DIM)
    sc.setJobGroup("greedy_fanout", "greedy_fanout")
    try:
        S.greedy_search(spark, target, ["alpha", "beta", "gamma"], restarts=8, iters=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("greedy_fanout")
    (stage,) = tracker.getJobInfo(job).stageIds  # one stage: no exchange
    tasks = tracker.getStageInfo(stage).numTasks
    assert tasks == min(8, sc.defaultParallelism) > 1


def test_wedge_width_follows_shuffle_partitions(spark):
    """Advisory (r9): explicit wedge repartitions size from
    spark.sql.shuffle.partitions (the user-tuned reduce width), not
    defaultParallelism (plan-time executor count under dynamic
    allocation)."""
    from cyborgdb_encrypted_vector_search_spark.operators.graph import (
        _wedge_width,
    )

    df = spark.range(1)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        assert _wedge_width(df) == 17
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
