"""ISO base-media-file-format (MP4) demuxer — pure spec, no av library.

Implements the subset of ISO/IEC 14496-12 that a 100 TB frame-sampling
pipeline actually runs on every worker: the box walk, the sample
tables (``stts``/``stsc``/``stsz``/``stco``/``co64``/``stss``), and
from them each sample's exact byte range, decode timestamp and
sync-sample (keyframe) flag.  Selecting the key/n-th samples and
shipping ONLY those encoded bytes onward is the demux half of frame
sampling; pixel DECODE of the codec payloads (avc1/hev1/vp09/...)
genuinely needs an av library and stays a declared
``NotImplementedError`` (:func:`decode_sample`) in this sandbox.

Closes the one remaining capability gap from earlier rounds, where any
``ftyp`` container raised from the container layer (video.py
``_reject_foreign``); reference-parity note: the reference crawler
stores fetched media opaquely (storage/handler.go:103) and never
demuxes, so this module is part of the training-data extension
surface, not reference parity.

Also provides :func:`mux` — a minimal writer (ftyp | mdat | moov,
one-sample-per-chunk tables) so tests and fixtures can synthesize
deterministic, spec-valid files and pin an exact round-trip.
"""

from __future__ import annotations

import struct
from typing import Iterator, NamedTuple


class Sample(NamedTuple):
    idx: int  # 0-based sample index within the track
    offset: int  # absolute byte offset of the encoded payload
    size: int  # payload length in bytes
    dts: int  # decode timestamp in media-timescale ticks
    is_sync: bool  # True = sync sample (keyframe / random-access point)


class Track(NamedTuple):
    track_id: int
    handler: bytes  # 'vide' / 'soun' / ...
    codec: bytes  # sample-entry fourcc, e.g. b'avc1', b'mjpa'
    width: int
    height: int
    timescale: int
    samples: tuple[Sample, ...]


def _u32(b: bytes, o: int) -> int:
    if o + 4 > len(b):
        raise ValueError("truncated u32 read")
    return struct.unpack_from(">I", b, o)[0]


def _u64(b: bytes, o: int) -> int:
    if o + 8 > len(b):
        raise ValueError("truncated u64 read")
    return struct.unpack_from(">Q", b, o)[0]


# Absolute per-track sample budget: sample tables and the per-sample
# dts list are O(count) Python objects, so an untrusted count must be
# bounded by more than just its own box size (see _sample_sizes).
# 1<<22 samples is >19h of 60fps video — far past any crawled clip.
_MAX_SAMPLES = 1 << 22


def _check_count(n: int, s: int, e: int, entry_bytes: int, hdr: int, what: str) -> None:
    """On-wire count fields are UNTRUSTED: a corrupt/hostile count must
    raise ValueError (bad bytes are data — the guard callers catch),
    not silently read neighboring boxes' bytes, allocate gigabytes, or
    escape as struct.error/IndexError and kill the Spark task."""
    if n < 0 or s + hdr + n * entry_bytes > e:
        raise ValueError(f"{what} count {n} overruns its box")


def _iter_boxes_h(
    data: bytes, start: int, end: int
) -> Iterator[tuple[bytes, int, int, int]]:
    """Yield (fourcc, box_start, payload_start, payload_end) for each
    box in [start, end).  box_start is the first byte of the box header
    — fragment addressing (default-base-is-moof) is relative to it."""
    o = start
    while o < end:
        if o + 8 > end:
            raise ValueError("truncated box header")
        size = _u32(data, o)
        typ = bytes(data[o + 4 : o + 8])
        hdr = 8
        if size == 1:
            if o + 16 > end:
                raise ValueError("truncated largesize header")
            size = _u64(data, o + 8)
            hdr = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - o
        if size < hdr or o + size > end:
            raise ValueError(f"box {typ!r} size {size} overruns scope")
        yield typ, o, o + hdr, o + size
        o += size


def iter_boxes(data: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end) for each box in
    [start, end).  Truncated/absurd sizes raise ValueError — corrupt
    bytes are data, and callers decide how loudly to fail."""
    for typ, _, s, e in _iter_boxes_h(data, start, end):
        yield typ, s, e


def _find(data: bytes, start: int, end: int, fourcc: bytes) -> tuple[int, int] | None:
    for typ, s, e in iter_boxes(data, start, end):
        if typ == fourcc:
            return s, e
    return None


def _find_path(data: bytes, start: int, end: int, *path: bytes) -> tuple[int, int] | None:
    s, e = start, end
    for cc in path:
        hit = _find(data, s, e, cc)
        if hit is None:
            return None
        s, e = hit
    return s, e


def _stts_deltas(data: bytes, s: int, e: int, n_samples: int) -> list[int]:
    """Decode times of the ``n_samples`` samples, plus one more entry:
    the time at which the sample after the last one would decode."""
    n_entries = _u32(data, s + 4)
    _check_count(n_entries, s, e, 8, 8, "stts")
    dts, t, o = [], 0, s + 8
    for _ in range(n_entries):
        count, delta = _u32(data, o), _u32(data, o + 4)
        if count > n_samples:  # counts are bounded by the declared samples
            count = n_samples
        o += 8
        for _ in range(count):
            if len(dts) >= n_samples:
                break
            dts.append(t)
            t += delta
    if len(dts) < n_samples:  # tolerate short stts: extend at last delta
        delta = _u32(data, o - 4) if n_entries else 0
        while len(dts) < n_samples:
            dts.append(t)
            t += delta
    dts.append(t)
    return dts


def _sample_sizes(data: bytes, s: int, e: int) -> list[int]:
    fixed, count = _u32(data, s + 4), _u32(data, s + 8)
    if fixed:
        # The fixed-size arm carries no per-sample table to bound the
        # count against, so a hostile multi-MB box could still demand
        # ~500x its size in per-sample Python lists; cap by an absolute
        # sample budget (the demux twin of images._MAX_PIXELS).
        if count > _MAX_SAMPLES or count > (e - s) * 64:
            raise ValueError(f"stsz fixed-size count {count} implausible")
        return [fixed] * count
    _check_count(count, s, e, 4, 12, "stsz")
    if count > _MAX_SAMPLES:
        raise ValueError(f"stsz count {count} exceeds sample budget")
    return [_u32(data, s + 12 + 4 * i) for i in range(count)]


def _chunk_offsets(data: bytes, stbl_s: int, stbl_e: int) -> list[int]:
    hit = _find(data, stbl_s, stbl_e, b"stco")
    if hit is not None:
        s, e = hit
        n = _u32(data, s + 4)
        _check_count(n, s, e, 4, 8, "stco")
        return [_u32(data, s + 8 + 4 * i) for i in range(n)]
    hit = _find(data, stbl_s, stbl_e, b"co64")
    if hit is None:
        raise ValueError("stbl missing stco/co64")
    s, e = hit
    n = _u32(data, s + 4)
    _check_count(n, s, e, 8, 8, "co64")
    return [_u64(data, s + 8 + 8 * i) for i in range(n)]


def _stsc_runs(data: bytes, s: int, e: int) -> list[tuple[int, int]]:
    """(first_chunk_1based, samples_per_chunk) runs."""
    n = _u32(data, s + 4)
    _check_count(n, s, e, 12, 8, "stsc")
    return [
        (_u32(data, s + 8 + 12 * i), _u32(data, s + 12 + 12 * i)) for i in range(n)
    ]


def _sync_set(data: bytes, stbl_s: int, stbl_e: int) -> set[int] | None:
    hit = _find(data, stbl_s, stbl_e, b"stss")
    if hit is None:
        return None  # no stss box => every sample is a sync sample
    s, e = hit
    n = _u32(data, s + 4)
    _check_count(n, s, e, 4, 8, "stss")
    return {_u32(data, s + 8 + 4 * i) - 1 for i in range(n)}  # 1-based -> 0-based


def _track(data: bytes, trak_s: int, trak_e: int) -> tuple[Track, int] | None:
    """The track and the decode time that follows its last sample."""
    tkhd = _find(data, trak_s, trak_e, b"tkhd")
    mdia = _find(data, trak_s, trak_e, b"mdia")
    if tkhd is None or mdia is None:
        return None
    ts, te = tkhd
    if te - ts < 80:  # minimal v0 tkhd payload
        raise ValueError("truncated tkhd box")
    version = data[ts]
    # tkhd: version(1)+flags(3), then v0: 4+4+4+4+4 / v1: 8+8+4+4+8 to
    # reserved(8)+layer(2)+alt(2)+volume(2)+reserved(2)+matrix(36)
    track_id = _u32(data, ts + (4 + 8 + 8) if version else ts + (4 + 4 + 4))
    fixed_off = te - 8  # width(16.16) + height(16.16) close the box
    width, height = _u32(data, fixed_off) >> 16, _u32(data, fixed_off + 4) >> 16

    ms, me = mdia
    mdhd = _find(data, ms, me, b"mdhd")
    hdlr = _find(data, ms, me, b"hdlr")
    stbl = _find_path(data, ms, me, b"minf", b"stbl")
    if mdhd is None or hdlr is None or stbl is None:
        return None
    hs, _ = mdhd
    timescale = _u32(data, hs + 20) if data[hs] else _u32(data, hs + 12)
    handler = bytes(data[hdlr[0] + 8 : hdlr[0] + 12])
    ss, se = stbl

    stsd = _find(data, ss, se, b"stsd")
    codec = b"????"
    if stsd is not None and _u32(data, stsd[0] + 4) >= 1:
        codec = bytes(data[stsd[0] + 12 : stsd[0] + 16])

    stsz = _find(data, ss, se, b"stsz")
    stsc = _find(data, ss, se, b"stsc")
    stts = _find(data, ss, se, b"stts")
    if stsz is None or stsc is None or stts is None:
        return None
    sizes = _sample_sizes(data, *stsz)
    n = len(sizes)
    dts = _stts_deltas(data, *stts, n)
    chunks = _chunk_offsets(data, ss, se)
    runs = _stsc_runs(data, *stsc)
    sync = _sync_set(data, ss, se)

    # walk chunks: each stsc run applies from its first_chunk until the
    # next run's first_chunk; samples lay out back-to-back in a chunk.
    # stco offsets and stsz sizes are UNTRUSTED absolute values: a
    # corrupted table would otherwise yield ranges pointing past EOF
    # that read as silently-empty payloads downstream (mutation-fuzz
    # finding) — reject them as the corrupt data they are.
    samples: list[Sample] = []
    si = 0
    for ci, chunk_off in enumerate(chunks, start=1):
        per = 0
        for first, spc in runs:
            if first <= ci:
                per = spc
            else:
                break
        off = chunk_off
        for _ in range(per):
            if si >= n:
                break
            if off < 0 or off + sizes[si] > len(data):
                raise ValueError(
                    f"sample {si} range [{off}, {off + sizes[si]}) beyond EOF"
                )
            samples.append(
                Sample(si, off, sizes[si], dts[si], sync is None or si in sync)
            )
            off += sizes[si]
            si += 1
    track = Track(track_id, handler, codec, width, height, timescale, tuple(samples))
    return track, dts[len(samples)]


# ------------------------------------------------------------- fragments
# Movie-fragment (moof/traf) support — ISO/IEC 14496-12 §8.8: DASH and
# streaming captures carry their sample tables per-fragment (tfhd
# defaults + trun entries), with the moov holding only empty stbl
# tables plus the mvex/trex fragment defaults.

_TFHD_BASE_OFF = 0x1
_TFHD_DESC_IDX = 0x2
_TFHD_DEF_DUR = 0x8
_TFHD_DEF_SIZE = 0x10
_TFHD_DEF_FLAGS = 0x20
_TFHD_BASE_IS_MOOF = 0x20000
_TRUN_DATA_OFF = 0x1
_TRUN_FIRST_FLAGS = 0x4
_TRUN_DUR = 0x100
_TRUN_SIZE = 0x200
_TRUN_FLAGS = 0x400
_TRUN_CTS = 0x800
_NON_SYNC = 0x10000  # sample_is_non_sync_sample bit of the sample flags


def _parse_trex(data: bytes, moov_s: int, moov_e: int) -> dict[int, tuple[int, int, int]]:
    """track_id -> (default_duration, default_size, default_flags)."""
    out: dict[int, tuple[int, int, int]] = {}
    mvex = _find(data, moov_s, moov_e, b"mvex")
    if mvex is None:
        return out
    for typ, s, e in iter_boxes(data, *mvex):
        if typ == b"trex":
            if e - s < 24:
                raise ValueError("truncated trex box")
            out[_u32(data, s + 4)] = (
                _u32(data, s + 12),
                _u32(data, s + 16),
                _u32(data, s + 20),
            )
    return out


def _parse_tfhd(data: bytes, s: int, e: int):
    flags = int.from_bytes(data[s + 1 : s + 4], "big")
    o = s + 4
    if o + 4 > e:
        raise ValueError("truncated tfhd box")
    track_id = _u32(data, o)
    o += 4
    base_off = None
    if flags & _TFHD_BASE_OFF:
        base_off = _u64(data, o)
        o += 8
    if flags & _TFHD_DESC_IDX:
        o += 4
    d_dur = d_size = d_flags = None
    if flags & _TFHD_DEF_DUR:
        d_dur = _u32(data, o)
        o += 4
    if flags & _TFHD_DEF_SIZE:
        d_size = _u32(data, o)
        o += 4
    if flags & _TFHD_DEF_FLAGS:
        d_flags = _u32(data, o)
        o += 4
    if o > e:
        raise ValueError("tfhd fields overrun its box")
    return track_id, flags, base_off, d_dur, d_size, d_flags


def _parse_trun(data: bytes, s: int, e: int, budget: int, default_size: int | None):
    """-> (data_offset|None, first_sample_flags|None,
    [(duration|None, size|None, flags|None), ...]).

    ``budget`` is what is left of the track's ``_MAX_SAMPLES`` after its
    earlier samples; ``default_size`` is the tfhd/trex size that rows
    without a size field take."""
    flags = int.from_bytes(data[s + 1 : s + 4], "big")
    o = s + 4
    count = _u32(data, o)
    o += 4
    per = 4 * sum(
        1 for f in (_TRUN_DUR, _TRUN_SIZE, _TRUN_FLAGS, _TRUN_CTS) if flags & f
    )
    need = (
        o
        + 4 * bool(flags & _TRUN_DATA_OFF)
        + 4 * bool(flags & _TRUN_FIRST_FLAGS)
        + count * per
    )
    if need > e:
        raise ValueError(f"trun count {count} overruns its box")
    if count > budget:
        raise ValueError(f"trun count {count} exceeds the track's sample budget")
    if count and not flags & _TRUN_SIZE:
        # rows without a size field all take ``default_size``: their
        # bytes must fit in the file.  Zero-size rows would tie ``count``
        # to no byte at all (with flags=0 not even to the box's own).
        if not default_size or count * default_size > len(data):
            raise ValueError(
                f"trun count {count} of {default_size or 0}-byte samples "
                "does not fit the file"
            )
    data_off = None
    if flags & _TRUN_DATA_OFF:
        (data_off,) = struct.unpack_from(">i", data, o)  # signed per spec
        o += 4
    first_flags = None
    if flags & _TRUN_FIRST_FLAGS:
        first_flags = _u32(data, o)
        o += 4
    rows = []
    for _ in range(count):
        dur = size = sfl = None
        if flags & _TRUN_DUR:
            dur = _u32(data, o)
            o += 4
        if flags & _TRUN_SIZE:
            size = _u32(data, o)
            o += 4
        if flags & _TRUN_FLAGS:
            sfl = _u32(data, o)
            o += 4
        if flags & _TRUN_CTS:
            o += 4  # composition offset shifts pts only; dts is ours
        rows.append((dur, size, sfl))
    return data_off, first_flags, rows


def _fragment_samples(
    data: bytes,
    trex: dict[int, tuple[int, int, int]],
    start_idx: dict[int, int],
    start_dts: dict[int, int],
) -> dict[int, list[Sample]]:
    """Walk every top-level moof and resolve its trafs' trun entries to
    absolute byte ranges / decode times / sync flags, continuing sample
    index and decode time per track from the moov's (normally empty)
    sample tables."""
    out: dict[int, list[Sample]] = {}
    idx = dict(start_idx)
    dts = dict(start_dts)
    for typ, box_s, s, e in _iter_boxes_h(data, 0, len(data)):
        if typ != b"moof":
            continue
        running_end = None  # end of previous traf's data within this moof
        first_traf = True
        for t2, s2, e2 in iter_boxes(data, s, e):
            if t2 != b"traf":
                continue
            tfhd = _find(data, s2, e2, b"tfhd")
            if tfhd is None:
                raise ValueError("traf without tfhd")
            track_id, tf_flags, base_off, d_dur, d_size, d_flags = _parse_tfhd(
                data, *tfhd
            )
            tx_dur, tx_size, tx_flags = trex.get(track_id, (None, None, None))
            if base_off is not None:
                base = base_off
            elif tf_flags & _TFHD_BASE_IS_MOOF or first_traf or running_end is None:
                base = box_s
            else:
                base = running_end
            first_traf = False
            tfdt = _find(data, s2, e2, b"tfdt")
            if tfdt is not None:
                ts_, te_ = tfdt
                t = _u64(data, ts_ + 4) if data[ts_] else _u32(data, ts_ + 4)
            else:
                t = dts.get(track_id, 0)
            i = idx.get(track_id, 0)
            default_size = d_size or tx_size
            samples = out.setdefault(track_id, [])
            cur = None  # data cursor; first trun without data_offset -> base
            for t3, s3, e3 in iter_boxes(data, s2, e2):
                if t3 != b"trun":
                    continue
                data_off, first_flags, rows = _parse_trun(
                    data, s3, e3, _MAX_SAMPLES - i, default_size
                )
                cur = base + data_off if data_off is not None else (cur or base)
                for ri, (dur, size, sfl) in enumerate(rows):
                    size = size if size is not None else default_size
                    dur = dur if dur is not None else (d_dur or tx_dur)
                    if size is None or dur is None:
                        raise ValueError(
                            f"trun sample missing size/duration and no tfhd/"
                            f"trex default (track {track_id})"
                        )
                    if sfl is None:
                        sfl = (
                            first_flags
                            if (ri == 0 and first_flags is not None)
                            else (d_flags if d_flags is not None else (tx_flags or 0))
                        )
                    if cur < 0 or cur + size > len(data):
                        raise ValueError(
                            f"fragment sample {i} range [{cur}, {cur + size}) "
                            "beyond EOF"
                        )
                    samples.append(Sample(i, cur, size, t, not sfl & _NON_SYNC))
                    cur += size
                    t += dur
                    i += 1
            idx[track_id] = i
            dts[track_id] = t
            running_end = cur
    return out


def tracks(data: bytes) -> list[Track]:
    """All tracks with resolved sample tables — progressive (stbl) and
    movie-fragmented (moof/traf/trun) samples combined.  ValueError on
    non-BMFF or structurally corrupt input; a media segment shipped
    WITHOUT its init segment raises with a say-how-to-fix message."""
    data = bytes(data)
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO base-media file (no leading ftyp)")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        if _find(data, 0, len(data), b"moof") is not None:
            raise ValueError(
                "fMP4 media segment without its init segment (moov): "
                "concatenate init segment + media segment bytes"
            )
        raise ValueError("no moov box")
    out = []
    next_dts: dict[int, int] = {}  # where a fragment without tfdt starts
    for typ, s, e in iter_boxes(data, *moov):
        if typ == b"trak":
            hit = _track(data, s, e)
            if hit is not None:
                t, next_dts[t.track_id] = hit
                out.append(t)
    if _find(data, 0, len(data), b"moof") is not None:
        trex = _parse_trex(data, *moov)
        frag = _fragment_samples(
            data,
            trex,
            {t.track_id: len(t.samples) for t in out},
            next_dts,
        )
        out = [
            t._replace(samples=t.samples + tuple(frag.get(t.track_id, ())))
            for t in out
        ]
    return out


def video_track(data: bytes) -> Track:
    for t in tracks(data):
        if t.handler == b"vide":
            return t
    raise ValueError("no video track")


def probe(data: bytes) -> dict:
    """Container metadata: brand, per-file track summary — the cheap
    metadata pass a pipeline runs before deciding what to demux."""
    data = bytes(data)
    ts = tracks(data)
    v = next((t for t in ts if t.handler == b"vide"), None)
    return {
        "brand": bytes(data[8:12]).decode("latin1"),
        "n_tracks": len(ts),
        "codec": (v.codec.decode("latin1") if v else None),
        "width": (v.width if v else 0),
        "height": (v.height if v else 0),
        "timescale": (v.timescale if v else 0),
        "n_samples": (len(v.samples) if v else 0),
        "n_sync": (sum(1 for s in v.samples if s.is_sync) if v else 0),
    }


def sample_payload(data: bytes, sample: Sample) -> bytes:
    return bytes(data[sample.offset : sample.offset + sample.size])


def decode_sample(data: bytes, sample: Sample):
    """Pixel decode of an encoded video sample — DECLARED capability
    gap: avc1/hev1/vp09 entropy decoding needs an av library this
    sandbox does not ship.  The demux layer above is complete and
    real; a deployment plugs its decoder in here."""
    raise NotImplementedError(
        "codec payload decode needs an av library; demux (byte ranges, "
        "timestamps, sync flags) is fully supported"
    )


# --------------------------------------------------------------------- writer
def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


def mux(
    samples: list[bytes],
    width: int,
    height: int,
    fps: int = 8,
    codec: bytes = b"mjpa",
    keyframes: set[int] | None = None,
    timescale: int = 1000,
) -> bytes:
    """Minimal spec-valid single-video-track MP4: ftyp | mdat | moov,
    one sample per chunk (per-chunk stco offsets), constant frame
    duration.  ``keyframes`` = 0-based sync sample indices (None =>
    all sync, stss omitted)."""
    if not samples:
        raise ValueError("mux needs at least one sample")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat_payload = b"".join(samples)
    mdat = _box(b"mdat", mdat_payload)
    base = len(ftyp) + 8  # first sample offset (mdat header is 8 bytes)
    offsets, o = [], base
    for s in samples:
        offsets.append(o)
        o += len(s)

    n = len(samples)
    delta = timescale // fps
    duration = n * delta

    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _full(
        b"stsz", 0, 0, struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(s)) for s in samples)
    )
    stco = _full(
        b"stco", 0, 0, struct.pack(">I", n) + b"".join(struct.pack(">I", x) for x in offsets)
    )
    boxes = [_stsd_box(codec, width, height), stts, stsc, stsz, stco]
    if keyframes is not None:
        boxes.append(
            _full(
                b"stss",
                0,
                0,
                struct.pack(">I", len(keyframes))
                + b"".join(struct.pack(">I", i + 1) for i in sorted(keyframes)),
            )
        )
    moov = _moov_box(width, height, timescale, duration, b"".join(boxes))
    return ftyp + mdat + moov


def _stsd_box(codec: bytes, width: int, height: int) -> bytes:
    return _full(
        b"stsd",
        0,
        0,
        struct.pack(">I", 1)
        + _box(
            codec,
            b"\x00" * 6
            + struct.pack(">H", 1)  # data_reference_index
            + b"\x00" * 16
            + struct.pack(">HH", width, height)
            + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
            + b"\x00" * 4
            + struct.pack(">H", 1)  # frame count
            + b"\x00" * 32  # compressor name
            + struct.pack(">Hh", 24, -1),  # depth, color table
        ),
    )


def _moov_box(
    width: int,
    height: int,
    timescale: int,
    duration: int,
    stbl_inner: bytes,
    mvex_inner: bytes = b"",
) -> bytes:
    stbl = _box(b"stbl", stbl_inner)
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    minf = _box(
        b"minf",
        _full(b"vmhd", 0, 1, b"\x00" * 8) + _box(b"dinf", dref) + stbl,
    )
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"demux\x00")
    mdhd = _full(
        b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0)
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd",
        0,
        7,
        struct.pack(">IIII", 0, 0, 1, 0)  # times, track_id, reserved
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IH", 0x10000, 0x100)
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    mvex = _box(b"mvex", mvex_inner) if mvex_inner else b""
    return _box(b"moov", mvhd + trak + mvex)


def mux_fragmented(
    samples: list[bytes],
    width: int,
    height: int,
    fps: int = 8,
    codec: bytes = b"mjpa",
    keyframes: set[int] | None = None,
    timescale: int = 1000,
    samples_per_fragment: int = 4,
) -> bytes:
    """Minimal spec-valid fragmented MP4 (the DASH/streaming layout):
    ftyp | moov (EMPTY stbl + mvex/trex) | [moof | mdat]+ — sample
    sizes and sync flags per-sample in each trun, constant duration as
    the tfhd default, tfdt carrying the fragment's baseMediaDecodeTime,
    default-base-is-moof addressing.  ``keyframes`` = 0-based sync
    indices over the WHOLE clip (None => all sync)."""
    if not samples:
        raise ValueError("mux needs at least one sample")
    if samples_per_fragment < 1:
        raise ValueError("samples_per_fragment must be >= 1")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    delta = timescale // fps
    n = len(samples)
    # empty progressive tables: all real samples live in the fragments
    empty_stbl = b"".join(
        [
            _stsd_box(codec, width, height),
            _full(b"stts", 0, 0, struct.pack(">I", 0)),
            _full(b"stsc", 0, 0, struct.pack(">I", 0)),
            _full(b"stsz", 0, 0, struct.pack(">II", 0, 0)),
            _full(b"stco", 0, 0, struct.pack(">I", 0)),
        ]
    )
    trex = _full(
        b"trex", 0, 0, struct.pack(">IIIII", 1, 1, delta, 0, 0x00010000)
    )  # track 1: default duration, sizes per-trun, default non-sync
    moov = _moov_box(width, height, timescale, n * delta, empty_stbl, trex)

    def sample_flags(i: int) -> int:
        if keyframes is None or i in keyframes:
            return 0x02000000  # depends_on=2 (I-sample), sync
        return 0x01010000  # depends_on=1, sample_is_non_sync_sample

    out = [ftyp, moov]
    for seq, frag_start in enumerate(range(0, n, samples_per_fragment), start=1):
        chunk = samples[frag_start : frag_start + samples_per_fragment]

        def build_moof(data_offset: int) -> bytes:
            mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
            tfhd = _full(
                b"tfhd",
                0,
                _TFHD_BASE_IS_MOOF | _TFHD_DEF_DUR,
                struct.pack(">II", 1, delta),
            )
            tfdt = _full(b"tfdt", 1, 0, struct.pack(">Q", frag_start * delta))
            trun_rows = b"".join(
                struct.pack(">II", len(p), sample_flags(frag_start + j))
                for j, p in enumerate(chunk)
            )
            trun = _full(
                b"trun",
                0,
                _TRUN_DATA_OFF | _TRUN_SIZE | _TRUN_FLAGS,
                struct.pack(">Ii", len(chunk), data_offset) + trun_rows,
            )
            return _box(b"moof", mfhd + _box(b"traf", tfhd + tfdt + trun))

        # data_offset is moof-relative and includes the mdat header; the
        # moof's length is independent of the offset value, so build
        # once to measure, once with the real offset.
        moof = build_moof(len(build_moof(0)) + 8)
        out.append(moof)
        out.append(_box(b"mdat", b"".join(chunk)))
    return b"".join(out)
