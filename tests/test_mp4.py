"""ISO-BMFF demuxer (crawler_spark.mp4) + container-uniform demux
plumbing (video.demux_samples / multimodal.video_demux)."""

from __future__ import annotations

import struct

import pytest

from crawler_spark import mp4 as M
from crawler_spark import video as V
from crawler_spark import webm as W


def _payloads(n=12, base=7):
    return [bytes([(base + i) % 251]) * (20 + 5 * i) for i in range(n)]


def test_mux_demux_roundtrip_exact():
    pl = _payloads()
    data = M.mux(pl, width=32, height=24, fps=8, keyframes={0, 4, 8})
    t = M.video_track(data)
    assert t.handler == b"vide" and t.codec == b"mjpa"
    assert (t.width, t.height, t.timescale) == (32, 24, 1000)
    assert len(t.samples) == len(pl)
    for s in t.samples:
        assert M.sample_payload(data, s) == pl[s.idx]
        assert s.dts == s.idx * 125  # 1000/8 per frame
        assert s.is_sync == (s.idx in {0, 4, 8})


def test_probe_and_all_sync_without_stss():
    pl = _payloads(5)
    data = M.mux(pl, 16, 12, fps=4)
    p = M.probe(data)
    assert p == {
        "brand": "isom", "n_tracks": 1, "codec": "mjpa", "width": 16,
        "height": 12, "timescale": 1000, "n_samples": 5, "n_sync": 5,
    }
    assert all(s.is_sync for s in M.video_track(data).samples)


def test_corrupt_and_foreign_inputs():
    pl = _payloads(3)
    good = M.mux(pl, 8, 8)
    with pytest.raises(ValueError):
        M.tracks(b"not a bmff file at all........")
    with pytest.raises(ValueError):  # ftyp but no moov
        M.tracks(good[: len(good) - 8])  # cuts into moov -> overrun/missing
    # box size overruns its scope
    bad = bytearray(good)
    moov_at = good.find(b"moov") - 4
    struct.pack_into(">I", bad, moov_at, len(good) * 2)
    with pytest.raises(ValueError):
        M.tracks(bytes(bad))
    with pytest.raises(NotImplementedError):
        M.decode_sample(good, M.video_track(good).samples[0])


def test_demux_samples_uniform_across_containers():
    """The SAME encoded frames wrapped in MJV1 and in MP4 must demux to
    identical (idx, size, dts_ms) triples; MJV1 is all-sync, MP4 sync
    flags come from stss."""
    mjv = V.gen_video(42, 3, 16, 12, n_frames=8)
    frames = [mjv[o : o + ln] for _, o, ln in V.iter_frame_offsets(mjv)]
    mp = M.mux(frames, 16, 12, fps=8, keyframes={0, 4})
    a = V.demux_samples(mjv)
    b = V.demux_samples(mp)
    assert [(i, ln, d) for i, _, ln, d, _ in a] == [(i, ln, d) for i, _, ln, d, _ in b]
    assert all(sync for *_, sync in a)
    assert [sync for *_, sync in b] == [i in {0, 4} for i in range(8)]
    # WebM: the same frames again, through the EBML walk
    wb = W.mux(frames, 16, 12, fps=8, keyframes={0, 4})
    c = V.demux_samples(wb)
    assert [(i, ln, d) for i, _, ln, d, _ in a] == [(i, ln, d) for i, _, ln, d, _ in c]
    assert [sync for *_, sync in c] == [i in {0, 4} for i in range(8)]
    # AVI: the same frames again, through the RIFF/idx1 walk
    from crawler_spark import avi as AV

    av = AV.mux(frames, 16, 12, fps=8, keyframes={0, 4})
    d = V.demux_samples(av)
    assert [(i, ln, dd) for i, _, ln, dd, _ in a] == [(i, ln, dd) for i, _, ln, dd, _ in d]
    assert [sync for *_, sync in d] == [i in {0, 4} for i in range(8)]
    # payload bytes land at the reported ranges in ALL containers
    for (i, off, ln, _, _) in b:
        assert mp[off : off + ln] == frames[i]
    for (i, off, ln, _, _) in c:
        assert wb[off : off + ln] == frames[i]
    for (i, off, ln, _, _) in d:
        assert av[off : off + ln] == frames[i]
    with pytest.raises(ValueError):
        V.demux_samples(b"RIFF\x24\x00\x00\x00AVI " + b"\x00" * 24)  # corrupt AVI
    with pytest.raises(ValueError):
        V.demux_samples(b"\x1a\x45\xdf\xa3" + b"\x00" * 40)  # corrupt EBML
    with pytest.raises(ValueError):
        V.demux_samples(b"garbage-neither-container-....")


def test_webm_roundtrip_and_corrupt():
    frames = _payloads(7, base=3)
    data = W.mux(frames, 20, 10, fps=4, keyframes={0, 3, 6})
    assert W.probe(data) == {
        "codec": "V_VP9", "width": 20, "height": 10,
        "timescale_ns": 1_000_000, "n_blocks": 7, "n_key": 3,
    }
    t = W.video_track(data)
    for b in t.blocks:
        assert W.block_payload(data, b) == frames[b.idx]
        assert b.timecode == b.idx * 250
        assert b.is_key == (b.idx in {0, 3, 6})
    with pytest.raises(ValueError):
        W.video_track(b"nowhere near ebml.............")
    with pytest.raises(ValueError):  # element overruns its scope
        W.video_track(data[: len(data) - 5])
    with pytest.raises(NotImplementedError):
        W.decode_block(data, t.blocks[0])


def test_video_demux_operator_mixed_corpus(spark):
    """Spark plumbing: mixed MJV1/MP4/fMP4/WebM/AVI corpus demuxes
    uniformly; keyframe selection returns every-4th sample for
    MP4/fMP4/WebM/AVI rows (stss / trun sample flags / SimpleBlock
    flags / idx1 flags) and all samples for MJV1 rows (independently
    coded => all sync)."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.multimodal import (
        attach_synthetic_videos,
        video_demux,
    )

    ids = spark.range(10).select(F.col("id").alias("doc_id"))
    vids = attach_synthetic_videos(ids, "doc_id", n_frames=12, container="mixed")
    out = video_demux(vids, keyframes_only=True).toPandas()
    per = out.groupby("image_id").size().to_dict()
    for k in range(10):
        name = f"vid-{k:012d}"
        assert per[name] == (12 if k % 5 == 0 else 3), (k, per)
    # same id, same frames: payload sizes and dts per sample_idx agree
    # across all five wraps of the same clip (fps 8 divides 1000)
    key = ["image_id", "sample_idx"]
    frames_ref = None
    for cont in ("mjv1", "mp4", "fmp4", "webm", "avi"):
        cur = video_demux(
            attach_synthetic_videos(ids, "doc_id", n_frames=12, container=cont)
        ).toPandas().set_index(key)[["n_bytes", "dts_ms"]].sort_index()
        if frames_ref is None:
            frames_ref = cur
        else:
            assert cur.equals(frames_ref), cont


def test_corrupt_counts_raise_valueerror_not_crash():
    """On-wire count fields are untrusted: an inflated stts/stsz/stco/
    stss count must raise ValueError (the class video_demux swallows),
    never struct.error/IndexError, never a multi-GB allocation."""
    pl = _payloads(4)
    good = M.mux(pl, 8, 8, keyframes={0, 2})
    for four in (b"stts", b"stsz", b"stco", b"stss", b"stsc"):
        at = good.find(four)
        assert at > 0, four
        bad = bytearray(good)
        # count field: fullbox version/flags(4) then count -- except stsz
        # where count sits after sample_size, at +8
        cnt_off = at + 4 + (8 if four == b"stsz" else 4)
        struct.pack_into(">I", bad, cnt_off, 0x7FFFFFFF)
        with pytest.raises(ValueError, match="overruns|implausible|truncated"):
            M.video_track(bytes(bad))


def test_webm_short_simpleblock_and_long_clip():
    frames = _payloads(3)
    data = W.mux(frames, 8, 8)
    # shrink a SimpleBlock to 1 byte after the track varint: header no
    # longer fits -> ValueError, not struct.error
    at = data.find(bytes([0xA3]))
    assert at > 0
    bad = bytearray(data)
    # 0xA3 id (1 byte) then 4-byte size; rewrite size to 2 (varint 4-byte form)
    struct.pack_into(">I", bad, at + 1, (1 << 28) | 2)
    with pytest.raises(ValueError):
        W.video_track(bytes(bad))
    # long clip: 300 frames at 8 fps = 37.5 s > the s16 relative-timecode
    # range -> must split clusters and still round-trip exactly
    frames = [bytes([i % 251]) * 5 for i in range(300)]
    long_clip = W.mux(frames, 8, 8, fps=8, keyframes={0})
    t = W.video_track(long_clip)
    assert len(t.blocks) == 300
    assert [b.timecode for b in t.blocks] == [i * 125 for i in range(300)]
    for b in t.blocks:
        assert W.block_payload(long_clip, b) == frames[b.idx]


def test_fragmented_mux_demux_roundtrip_exact():
    """fMP4 (moof/traf/tfhd/tfdt/trun) resolves to the SAME sample
    table as the progressive mux of the same payloads: byte ranges,
    dts, sync flags — across fragment-size boundaries."""
    pl = _payloads()
    for spf in (1, 4, 5, 12, 20):
        data = M.mux_fragmented(
            pl, 32, 24, fps=8, keyframes={0, 4, 8}, samples_per_fragment=spf
        )
        t = M.video_track(data)
        assert (t.codec, t.width, t.height, t.timescale) == (b"mjpa", 32, 24, 1000)
        assert len(t.samples) == len(pl)
        for s in t.samples:
            assert M.sample_payload(data, s) == pl[s.idx]
            assert s.dts == s.idx * 125
            assert s.is_sync == (s.idx in {0, 4, 8})
    # keyframes=None => every trun sample flagged sync
    allsync = M.mux_fragmented(pl, 32, 24, samples_per_fragment=3)
    assert all(s.is_sync for s in M.video_track(allsync).samples)
    # probe sees the combined (moov+fragments) table
    p = M.probe(M.mux_fragmented(pl, 32, 24, keyframes={0}, samples_per_fragment=4))
    assert (p["n_samples"], p["n_sync"]) == (12, 1)


def test_fragmented_corrupt_inputs_raise_valueerror():
    """Fragment-side count/offset fields are as untrusted as the stbl
    ones: corrupt trun counts, truncated tfhd, and out-of-file sample
    ranges raise ValueError, never struct.error or a giant allocation;
    a media segment without its init segment says how to fix it."""
    pl = _payloads(6)
    good = M.mux_fragmented(pl, 16, 12, keyframes={0, 3}, samples_per_fragment=3)
    # hostile trun count
    at = good.find(b"trun")
    bad = bytearray(good)
    struct.pack_into(">I", bad, at + 8, 0x7FFFFFFF)  # count field
    with pytest.raises(ValueError, match="trun count"):
        M.video_track(bytes(bad))
    # truncated tfhd: shrink its box size below the fixed header
    at = good.find(b"tfhd")
    bad = bytearray(good)
    struct.pack_into(">I", bad, at - 4, 9)
    with pytest.raises(ValueError, match="tfhd|overrun"):
        M.video_track(bytes(bad))
    # trun data_offset pointing past EOF
    at = good.find(b"trun")
    bad = bytearray(good)
    struct.pack_into(">i", bad, at + 12, len(good) * 4)  # data_offset field
    with pytest.raises(ValueError, match="beyond EOF"):
        M.video_track(bytes(bad))
    # media segment missing its init segment: actionable message
    moof_at = good.find(b"moof") - 4
    ftyp_end = 8 + M._u32(good, 0) - 8  # keep leading ftyp, drop moov
    segment = good[:ftyp_end] + good[moof_at:]
    with pytest.raises(ValueError, match="init segment"):
        M.video_track(segment)


def test_stsz_sample_budget_caps_hostile_counts():
    """A multi-MB hostile stsz box must not force multi-GB per-sample
    lists: both stsz arms are capped by the absolute _MAX_SAMPLES
    budget, not only by their own box size (ADVICE r4)."""
    over = M._MAX_SAMPLES + 1
    # fixed-size arm: count passes the (e-s)*64 plausibility bound
    # (payload padded past count/64 bytes) but exceeds the budget
    payload = struct.pack(">III", 0, 1, over) + b"\x00" * (over // 64)
    with pytest.raises(ValueError, match="implausible"):
        M._sample_sizes(payload, 0, len(payload))
    # per-sample-table arm: box large enough to hold the table
    payload = struct.pack(">III", 0, 0, over) + b"\x00" * (4 * over)
    with pytest.raises(ValueError, match="sample budget"):
        M._sample_sizes(payload, 0, len(payload))
    # at the budget boundary the fixed arm still decodes
    ok = struct.pack(">III", 0, 1, 1000) + b"\x00" * 64
    assert M._sample_sizes(ok, 0, len(ok)) == [1] * 1000


def test_webm_clusters_before_tracks_streaming_layout():
    """Spec-legal streaming-style Matroska (Clusters BEFORE Tracks)
    must demux identically to the canonical layout, not silently yield
    zero blocks (ADVICE r4: the one-pass walk skipped early Clusters)."""
    frames = _payloads(6, base=11)
    data = W.mux(frames, 16, 12, fps=4, keyframes={0, 3})
    seg_s, seg_e = next(
        (s, e) for i, s, e in W.iter_elements(data, 0, len(data)) if i == W._SEGMENT
    )
    spans = []  # (eid, full element bytes incl. header)
    o = seg_s
    while o < seg_e:
        eid, o2 = W._read_id(data, o)
        size, o3 = W._read_size(data, o2)
        spans.append((eid, data[o : o3 + size]))
        o = o3 + size
    clusters = [b for i, b in spans if i == W._CLUSTER]
    others = [b for i, b in spans if i != W._CLUSTER]
    assert clusters and others
    streaming = data[:seg_s] + b"".join(clusters + others) + data[seg_e:]
    assert len(streaming) == len(data)
    t_ref, t_str = W.video_track(data), W.video_track(streaming)
    assert (t_str.codec, t_str.width, t_str.height) == (t_ref.codec, 16, 12)
    assert [(b.size, b.timecode, b.is_key) for b in t_str.blocks] == [
        (b.size, b.timecode, b.is_key) for b in t_ref.blocks
    ]
    for b in t_str.blocks:
        assert W.block_payload(streaming, b) == frames[b.idx]


def test_dts_container_uniform_when_fps_does_not_divide_1000():
    """All three containers quantize the frame delta to 1000 // fps, so
    dts_ms agrees for fps values that do NOT divide 1000 (ADVICE r4:
    MJV1 reported i*1000//fps, drifting from the muxers at e.g. fps=3)."""
    import numpy as np

    frames_np = [np.full((8, 8, 3), 40 + i, dtype=np.uint8) for i in range(7)]
    mjv = V.encode_video(frames_np, fps=3)
    frames = [mjv[o : o + ln] for _, o, ln in V.iter_frame_offsets(mjv)]
    mp = M.mux(frames, 8, 8, fps=3)
    wb = W.mux(frames, 8, 8, fps=3)
    dts = [[d for *_, d, _ in V.demux_samples(x)] for x in (mjv, mp, wb)]
    assert dts[0] == dts[1] == dts[2] == [i * 333 for i in range(7)]


def test_corrupt_stco_offset_beyond_eof_rejected():
    """A corrupted chunk offset must raise ValueError, not silently
    report a sample range past EOF (mutation-fuzz finding: garbage
    ranges read as empty payloads downstream)."""
    pl = _payloads(3)
    good = M.mux(pl, 8, 8)
    at = good.find(b"stco")
    bad = bytearray(good)
    struct.pack_into(">I", bad, at + 12, len(good) * 10)  # first chunk offset
    with pytest.raises(ValueError, match="beyond EOF"):
        M.video_track(bytes(bad))


def test_avi_roundtrip_and_corrupt():
    """RIFF/AVI demux (crawler_spark.avi): exact frame byte ranges,
    idx1 keyframe flags, all-sync without an index; corrupt chunk
    sizes / mismatched idx1 raise ValueError."""
    from crawler_spark import avi as AV

    frames = _payloads(7, base=5)
    data = AV.mux(frames, 20, 10, fps=4, keyframes={0, 3, 6})
    assert AV.probe(data) == {
        "codec": "MJPG", "width": 20, "height": 10, "fps": 4,
        "n_frames": 7, "n_key": 3,
    }
    t = AV.video_track(data)
    for f in t.frames:
        assert AV.frame_payload(data, f) == frames[f.idx]
        assert f.is_sync == (f.idx in {0, 3, 6})
    assert all(f.is_sync for f in AV.video_track(AV.mux(frames, 20, 10)).frames)
    with pytest.raises(ValueError):
        AV.video_track(b"RIFF\x10\x00\x00\x00WAVEfmt ")  # RIFF but not AVI
    with pytest.raises(ValueError):  # chunk overruns the file
        AV.video_track(data[: len(data) - 6])
    # idx1 entry count disagreeing with movi chunk count
    at = data.find(b"idx1")
    bad = bytearray(data)
    struct.pack_into("<I", bad, at + 4, struct.unpack_from("<I", data, at + 4)[0] - 16)
    with pytest.raises(ValueError, match="idx1|overruns|trailing"):
        AV.video_track(bytes(bad))
    with pytest.raises(NotImplementedError):
        AV.decode_frame(data, t.frames[0])


def _empty_fragment_moof(count: int, default_size: int | None) -> bytes:
    """One moof whose only trun has flags=0: ``count`` rows that carry
    no field, all taking the tfhd default duration (and size, if any)."""
    tf_flags = M._TFHD_BASE_IS_MOOF | M._TFHD_DEF_DUR
    tfhd_fields = struct.pack(">II", 1, 1)
    if default_size is not None:
        tf_flags |= M._TFHD_DEF_SIZE
        tfhd_fields += struct.pack(">I", default_size)
    tfhd = M._full(b"tfhd", 0, tf_flags, tfhd_fields)
    trun = M._full(b"trun", 0, 0, struct.pack(">I", count))
    mfhd = M._full(b"mfhd", 0, 0, struct.pack(">I", 1))
    return M._box(b"moof", mfhd + M._box(b"traf", tfhd + trun))


def test_fragment_sample_budget_spans_the_whole_file(monkeypatch):
    """_MAX_SAMPLES bounds a track's samples across all its moofs, not
    each trun alone, and a trun whose rows carry no size field cannot
    declare more default-size samples than the file holds.  The proof
    of concept is an 876-byte file of 4 moofs, each a trun of flags=0
    claiming 2^22-1 zero-size samples: unbounded, it parsed into 16.7M
    Samples; it must raise at its first trun instead."""
    init = M.mux_fragmented(_payloads(1), 16, 12)  # trex default size 0
    init = init[: init.find(b"moof") - 4]
    count = (1 << 22) - 1
    poc = init + _empty_fragment_moof(count, None) * 4
    assert len(poc) == 876
    with pytest.raises(ValueError, match="trun count"):
        M.video_track(poc)
    # a non-zero default size must fit in the file as well
    with pytest.raises(ValueError, match="does not fit the file"):
        M.video_track(init + _empty_fragment_moof(count, 1))
    # the budget is cumulative: 3 fragments of 4 samples each pass a
    # per-trun bound of 10 but exceed a per-track budget of 10
    pl = _payloads(12)
    data = M.mux_fragmented(pl, 16, 12, samples_per_fragment=4)
    monkeypatch.setattr(M, "_MAX_SAMPLES", 10)
    with pytest.raises(ValueError, match="sample budget"):
        M.video_track(data)
    monkeypatch.setattr(M, "_MAX_SAMPLES", 12)
    assert len(M.video_track(data).samples) == 12


def test_fragment_without_tfdt_continues_after_progressive_samples():
    """A fragment without tfdt starts where the moov's own samples end:
    at the last progressive sample's dts plus its duration."""
    pl = _payloads(3)
    prog = M.mux(pl, 16, 12, fps=8)  # dts 0, 125, 250
    extra = [b"\x01" * 9, b"\x02" * 11]
    tfhd = M._full(
        b"tfhd", 0, M._TFHD_BASE_IS_MOOF | M._TFHD_DEF_DUR, struct.pack(">II", 1, 125)
    )

    def moof(data_offset: int) -> bytes:
        trun = M._full(
            b"trun",
            0,
            M._TRUN_DATA_OFF | M._TRUN_SIZE,
            struct.pack(">Ii", len(extra), data_offset)
            + b"".join(struct.pack(">I", len(p)) for p in extra),
        )
        mfhd = M._full(b"mfhd", 0, 0, struct.pack(">I", 1))
        return M._box(b"moof", mfhd + M._box(b"traf", tfhd + trun))

    data = prog + moof(len(moof(0)) + 8) + M._box(b"mdat", b"".join(extra))
    t = M.video_track(data)
    assert [s.dts for s in t.samples] == [0, 125, 250, 375, 500]
    assert [s.idx for s in t.samples] == [0, 1, 2, 3, 4]
    assert [M.sample_payload(data, s) for s in t.samples] == pl + extra


def test_avi_top_down_dib_reports_positive_size():
    """BITMAPINFOHEADER biWidth/biHeight are signed; a negative
    biHeight (a top-down DIB) is the frame height, not ~4.29e9."""
    from crawler_spark import avi as AV

    data = bytearray(AV.mux(_payloads(2), 20, 10))
    strf = data.find(b"strf") + 8
    struct.pack_into("<i", data, strf + 8, -10)
    t = AV.video_track(bytes(data))
    assert (t.width, t.height) == (20, 10)


def test_avi_frames_inside_rec_lists_without_idx1():
    """movi may group its chunks in LIST 'rec ' interleave groups; a
    file without idx1 must still enumerate every frame in them, in file
    order, beside frames outside any group."""
    from crawler_spark import avi as AV

    frames = _payloads(5, base=3)
    src = AV.mux(frames, 20, 10)
    movi_at = src.find(b"movi") - 8
    hdrl = src[12:movi_at]
    chunks = [AV._chunk(b"00dc", f) for f in frames]
    movi = AV._list(
        b"movi",
        AV._list(b"rec ", chunks[0] + chunks[1])
        + chunks[2]
        + AV._list(b"rec ", chunks[3] + chunks[4]),
    )
    body = b"AVI " + hdrl + movi  # no idx1
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    t = AV.video_track(data)
    assert [AV.frame_payload(data, f) for f in t.frames] == frames
    assert all(f.is_sync for f in t.frames)
