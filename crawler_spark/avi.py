"""RIFF/AVI demuxer — pure spec (Microsoft AVI RIFF form), no av lib.

Retires the last declared container gap (video.py previously raised
NotImplementedError on any ``RIFF....AVI``): the chunk walk, the
``hdrl`` stream headers (codec fourcc, dimensions, rate/scale), the
``movi`` frame chunks (exact byte ranges, no payload bytes touched for
skipped frames) and the ``idx1`` keyframe flags.  Codec PIXEL decode
(MJPG/DIB payloads aside, which images.py could decode) remains the
same declared av-library gap as mp4/webm.

Keyframe semantics: ``idx1`` entries carry AVIIF_KEYFRAME (0x10); a
file without an index is treated as all-sync (the dominant crawled
AVI payload is MJPEG, which is intra-only).  Frame offsets come from
walking ``movi`` itself — idx1 offsets are famously ambiguous
(movi-relative vs file-relative in the wild) and are used only for
flags, matched by occurrence order.

Also provides :func:`mux` — a minimal spec-valid writer (hdrl with
avih/strh/strf, movi, idx1) so tests and the synthetic corpus can pin
exact round-trips, mirroring mp4.mux / webm.mux.

Reference-parity note: the reference crawler stores fetched media
opaquely (storage/handler.go:103); this module is training-data
extension surface, like mp4.py/webm.py.
"""

from __future__ import annotations

import struct
from typing import Iterator, NamedTuple

AVIIF_KEYFRAME = 0x10


class Frame(NamedTuple):
    idx: int  # 0-based frame index within the video stream
    offset: int  # absolute byte offset of the frame payload
    size: int  # payload length in bytes
    is_sync: bool


class AviTrack(NamedTuple):
    codec: bytes  # strh fccHandler (e.g. b'MJPG')
    width: int
    height: int
    rate: int  # frames per second = rate / scale
    scale: int
    frames: tuple[Frame, ...]


def _u32(b: bytes, o: int) -> int:
    if o + 4 > len(b):
        raise ValueError("truncated u32 read")
    return struct.unpack_from("<I", b, o)[0]


def iter_chunks(data: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end) for each RIFF chunk in
    [start, end), word-aligned.  Overruns raise ValueError — corrupt
    bytes are data, callers decide how loudly to fail."""
    o = start
    while o + 8 <= end:
        cid = bytes(data[o : o + 4])
        size = _u32(data, o + 4)
        if o + 8 + size > end:
            raise ValueError(f"chunk {cid!r} size {size} overruns scope")
        yield cid, o + 8, o + 8 + size
        o += 8 + size + (size & 1)
    if o < end:
        raise ValueError("trailing bytes shorter than a chunk header")


def _list_type(data: bytes, s: int, e: int) -> bytes:
    if e - s < 4:
        raise ValueError("truncated LIST chunk")
    return bytes(data[s : s + 4])


def video_track(data: bytes) -> AviTrack:
    """Demux the first video ('vids') stream: codec, dimensions,
    rate/scale, and every frame chunk's byte range + keyframe flag."""
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    end = min(len(data), 8 + _u32(data, 4))

    stream_no, codec, width, height, rate, scale = None, b"", 0, 0, 0, 1
    movi: tuple[int, int] | None = None
    idx1: tuple[int, int] | None = None
    n_stream = 0
    for cid, s, e in iter_chunks(data, 12, end):
        if cid == b"LIST" and _list_type(data, s, e) == b"hdrl":
            for c2, s2, e2 in iter_chunks(data, s + 4, e):
                if c2 != b"LIST" or _list_type(data, s2, e2) != b"strl":
                    continue
                my_no = n_stream
                n_stream += 1
                strh = strf = None
                for c3, s3, e3 in iter_chunks(data, s2 + 4, e2):
                    if c3 == b"strh":
                        strh = (s3, e3)
                    elif c3 == b"strf":
                        strf = (s3, e3)
                if strh is None or stream_no is not None:
                    continue
                hs, he = strh
                if he - hs < 48:
                    raise ValueError("truncated strh chunk")
                if bytes(data[hs : hs + 4]) != b"vids":
                    continue
                stream_no = my_no
                codec = bytes(data[hs + 4 : hs + 8])
                scale = _u32(data, hs + 20) or 1
                rate = _u32(data, hs + 24)
                if rate == 0:
                    raise ValueError("strh rate is zero")
                if strf is not None and strf[1] - strf[0] >= 12:
                    # BITMAPINFOHEADER: biWidth/biHeight at +4/+8 are
                    # signed; a negative biHeight marks a top-down DIB
                    w, h = struct.unpack_from("<ii", data, strf[0] + 4)
                    width, height = abs(w), abs(h)
        elif cid == b"LIST" and _list_type(data, s, e) == b"movi":
            movi = (s + 4, e)
        elif cid == b"idx1":
            idx1 = (s, e)
    if stream_no is None:
        raise ValueError("no vids stream in hdrl")
    if movi is None:
        raise ValueError("no movi list")

    # our stream's data chunks are '##dc'/'##db' with ## the stream no
    want = {b"%02ddc" % stream_no, b"%02ddb" % stream_no}
    spans: list[tuple[int, int]] = []
    for cid, s, e in iter_chunks(data, *movi):
        if cid == b"LIST" and _list_type(data, s, e) == b"rec ":
            # an interleave group (one level, per spec): its chunks are
            # movi's own frames
            group = iter_chunks(data, s + 4, e)
        else:
            group = ((cid, s, e),)
        spans.extend((s2, e2 - s2) for c2, s2, e2 in group if c2 in want)

    # idx1 carries ONLY the keyframe flags, matched by occurrence order
    flags: list[bool] | None = None
    if idx1 is not None:
        s, e = idx1
        if (e - s) % 16:
            raise ValueError("idx1 length not a multiple of 16")
        flags = []
        for o in range(s, e, 16):
            if bytes(data[o : o + 4]) in want:
                flags.append(bool(_u32(data, o + 4) & AVIIF_KEYFRAME))
        if len(flags) != len(spans):
            raise ValueError(
                f"idx1 has {len(flags)} entries for {len(spans)} movi chunks"
            )
    frames = tuple(
        Frame(i, off, ln, True if flags is None else flags[i])
        for i, (off, ln) in enumerate(spans)
    )
    return AviTrack(codec, width, height, rate, scale, frames)


def probe(data: bytes) -> dict:
    t = video_track(data)
    return {
        "codec": t.codec.decode("latin1"),
        "width": t.width,
        "height": t.height,
        "fps": t.rate // t.scale,
        "n_frames": len(t.frames),
        "n_key": sum(1 for f in t.frames if f.is_sync),
    }


def frame_payload(data: bytes, frame: Frame) -> bytes:
    return bytes(data[frame.offset : frame.offset + frame.size])


def decode_frame(data: bytes, frame: Frame):
    """Pixel decode of a codec frame payload — DECLARED capability gap
    (av library), same contract as mp4.decode_sample."""
    raise NotImplementedError(
        "codec payload decode needs an av library; demux (byte ranges, "
        "timestamps, keyframe flags) is fully supported"
    )


# --------------------------------------------------------------------- writer
def _chunk(cid: bytes, payload: bytes) -> bytes:
    return cid + struct.pack("<I", len(payload)) + payload + (b"\x00" * (len(payload) & 1))


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def mux(
    samples: list[bytes],
    width: int,
    height: int,
    fps: int = 8,
    codec: bytes = b"MJPG",
    keyframes: set[int] | None = None,
) -> bytes:
    """Minimal spec-valid single-video-stream AVI with an idx1 index.
    ``keyframes`` = 0-based sync indices (None => all sync)."""
    if not samples:
        raise ValueError("mux needs at least one sample")
    n = len(samples)
    avih = _chunk(
        b"avih",
        struct.pack(
            "<14I",
            1_000_000 // fps,  # dwMicroSecPerFrame
            sum(len(s) for s in samples) * fps // max(n, 1),  # dwMaxBytesPerSec
            0,  # padding granularity
            0x10,  # AVIF_HASINDEX
            n,  # dwTotalFrames
            0,  # initial frames
            1,  # streams
            max(len(s) for s in samples),  # suggested buffer
            width,
            height,
            0, 0, 0, 0,  # reserved
        ),
    )
    strh = _chunk(
        b"strh",
        b"vids"
        + codec
        + struct.pack(
            "<IHHIIIIIIIi",
            0,  # flags
            0, 0,  # priority, language
            0,  # initial frames
            1,  # scale
            fps,  # rate
            0,  # start
            n,  # length
            max(len(s) for s in samples),  # buffer size
            0xFFFFFFFF,  # quality (-1)
            0,  # sample size
        )
        + struct.pack("<4H", 0, 0, width, height),  # rcFrame
    )
    strf = _chunk(
        b"strf",
        struct.pack(
            "<IiiHH4sIiiII",
            40, width, height, 1, 24, codec, width * height * 3, 0, 0, 0, 0
        ),
    )
    hdrl = _list(b"hdrl", avih + _list(b"strl", strh + strf))
    movi_payload = b"".join(_chunk(b"00dc", s) for s in samples)
    movi = _list(b"movi", movi_payload)
    # idx1 offsets are movi-list-relative per spec (start of 'movi'
    # fourcc); our demuxer ignores them, real players use them
    idx_entries, off = [], 4
    for i, s in enumerate(samples):
        flag = AVIIF_KEYFRAME if (keyframes is None or i in keyframes) else 0
        idx_entries.append(b"00dc" + struct.pack("<III", flag, off, len(s)))
        off += 8 + len(s) + (len(s) & 1)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    riff_payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload
