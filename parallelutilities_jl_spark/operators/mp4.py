"""REAL MP4 / ISO-BMFF (MPEG-4 Part 12) container probe, pure stdlib.

MP4 frame DECODE genuinely needs external codec libraries (H.264 et
al. — not in this container, and the honest `_decode_stub` keeps that
scope). The CONTAINER walk does not: the box structure is plain
size/type framing, and the metadata a crawl actually extracts per
video — brand, timescale/duration, track count, visual dimensions,
sample count and byte totals — lives in fixed-offset fields of the
`moov` tree. This module is the ffprobe-shaped metadata path:

* `probe_mp4` — strict top-level walk (first box must be `ftyp`;
  64-bit largesize and size-0 run-to-end boxes handled; trailing
  bytes or an overrunning size reject) with recursion through the
  container boxes (`moov`/`trak`/`mdia`/`minf`/`stbl`), reading
  `mvhd` (timescale, duration), per-track `tkhd` (16.16-fixed width/
  height) + `hdlr` (handler type), `stsz` (sample count + exact
  per-sample byte totals), and the `mdat` payload size. Returns None
  unless the stream is structurally valid ISO-BMFF, so a dispatcher
  can never misroute foreign bytes here.
* `encode_mp4` — writes a structurally valid single-video-track file
  (ftyp, mdat, moov with the full mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/
  stbl chain incl. stsd/stts/stsc/stco with a REAL chunk offset to
  the mdat payload), every byte per the spec's box layouts — the
  synthesizer for the probe's oracle-checked round trip.

Box layouts follow ISO/IEC 14496-12 (public spec): mvhd v0 timescale
at payload offset 12 / duration 16; tkhd v0 width/height at 76/80 as
16.16 fixed point; stsz sample_size at 4, count at 8, entries after.
"""

from __future__ import annotations

import struct


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, box_end) for the sibling boxes in
    data[start:end]; raises ValueError on malformed framing."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        (size,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated largesize")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif size == 0:  # box runs to the end of the enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("box size overruns scope")
        yield typ, pos + hdr, pos + size
        pos += size
    if pos != end:
        raise ValueError("trailing bytes after final box")


def _fullbox(data: bytes, p: int, q: int, need: int) -> tuple[int, int]:
    """(version, payload_start_after_version_flags); raises unless the
    box payload [p, q) holds the 4 version/flags bytes plus `need`
    more — fixed-offset reads must never spill into a sibling box."""
    if p + 4 + need > q:
        raise ValueError("fullbox payload too short")
    return data[p], p + 4


def probe_mp4(content: bytes):
    """Strict structural probe. Returns None unless `content` is valid
    ISO-BMFF starting with `ftyp`; else a dict: brand, timescale,
    duration, n_tracks, width, height (first video track; None when no
    video track), n_samples, media_bytes (exact stsz byte total over
    all tracks), mdat_bytes."""
    try:
        return _probe_inner(content)
    except (ValueError, struct.error, IndexError):
        return None


def _probe_inner(content: bytes):
    if len(content) < 16 or content[4:8] != b"ftyp":
        return None
    brand = None
    timescale = duration = None
    n_tracks = 0
    width = height = None
    n_samples = 0
    media_bytes = 0
    mdat_bytes = None
    saw_moov = False

    def walk_stbl(p0: int, p1: int):
        nonlocal n_samples, media_bytes
        for t, p, q in _boxes(content, p0, p1):
            if t == b"stsz":
                ver, fp = _fullbox(content, p, q, 8)
                if ver != 0:
                    raise ValueError("stsz version")
                sample_size, count = struct.unpack_from(">II", content, fp)
                n_samples += count
                if sample_size:
                    media_bytes += sample_size * count
                else:
                    if fp + 8 + 4 * count > q:
                        raise ValueError("stsz entries overrun")
                    media_bytes += sum(
                        struct.unpack_from(f">{count}I", content, fp + 8)
                    ) if count else 0

    def walk_trak(p0: int, p1: int):
        nonlocal n_tracks, width, height
        n_tracks += 1
        handler = None
        tk_w = tk_h = None
        for t, p, q in _boxes(content, p0, p1):
            if t == b"tkhd":
                ver, fp = _fullbox(content, p, q, 92 if content[p] else 80)
                if ver == 0:  # widths at fixed offsets per 14496-12
                    (w_fx, h_fx) = struct.unpack_from(">II", content, fp + 72)
                elif ver == 1:  # v1: 64-bit times shift the tail by 12
                    (w_fx, h_fx) = struct.unpack_from(">II", content, fp + 84)
                else:
                    raise ValueError("tkhd version")
                tk_w, tk_h = w_fx >> 16, h_fx >> 16
            elif t == b"mdia":
                for t2, p2, q2 in _boxes(content, p, q):
                    if t2 == b"hdlr":
                        _ver, fp2 = _fullbox(content, p2, q2, 8)
                        handler = content[fp2 + 4 : fp2 + 8]
                    elif t2 == b"minf":
                        for t3, p3, q3 in _boxes(content, p2, q2):
                            if t3 == b"stbl":
                                walk_stbl(p3, q3)
        if handler == b"vide" and width is None:
            width, height = tk_w, tk_h

    first = True
    for typ, p, q in _boxes(content, 0, len(content)):
        if first:
            if typ != b"ftyp" or q - p < 8:
                return None
            brand = content[p : p + 4].decode("ascii", "replace")
            first = False
        elif typ == b"mdat":
            # multi-mdat files (progressive-download layouts) are
            # legal: the media payload is the SUM of the payloads
            mdat_bytes = (mdat_bytes or 0) + (q - p)
        elif typ == b"moov":
            if saw_moov:
                raise ValueError("second moov box")
            saw_moov = True
            for t, pp, qq in _boxes(content, p, q):
                if t == b"mvhd":
                    ver, fp = _fullbox(
                        content, pp, qq, 28 if content[pp] else 16
                    )
                    if ver == 0:
                        timescale, duration = struct.unpack_from(
                            ">II", content, fp + 8
                        )
                    elif ver == 1:
                        (timescale,) = struct.unpack_from(
                            ">I", content, fp + 16
                        )
                        (duration,) = struct.unpack_from(
                            ">Q", content, fp + 20
                        )
                    else:
                        raise ValueError("mvhd version")
                elif t == b"trak":
                    walk_trak(pp, qq)
    if not saw_moov or timescale is None:
        return None
    return {
        "brand": brand,
        "timescale": int(timescale),
        "duration": int(duration),
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
        "n_samples": int(n_samples),
        "media_bytes": int(media_bytes),
        "mdat_bytes": int(mdat_bytes) if mdat_bytes is not None else 0,
    }


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full(typ: bytes, version: int, payload: bytes, flags: int = 0) -> bytes:
    return _box(
        typ, struct.pack(">B", version) + flags.to_bytes(3, "big") + payload
    )


MP4_TIMESCALE = 30000
MP4_SAMPLE_DELTA = 1001  # NTSC-style 29.97 fps


def encode_mp4(
    sample_sizes: list[int], width: int, height: int,
    brand: bytes = b"isom",
) -> bytes:
    """Structurally valid single-video-track MP4: ftyp, mdat (payload =
    zero bytes sized by `sample_sizes`), moov with the full track chain
    — mvhd/tkhd durations in MP4_TIMESCALE units (MP4_SAMPLE_DELTA per
    sample), hdlr 'vide', stsd with one mp4v visual sample entry, stts/
    stsc/stco (a REAL absolute chunk offset to the mdat payload), and
    a per-sample stsz table."""
    n = len(sample_sizes)
    dur = n * MP4_SAMPLE_DELTA
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + b"isom" + b"mp41")
    mdat = _box(b"mdat", b"\x00" * sum(sample_sizes))
    chunk_offset = len(ftyp) + 8  # mdat payload's absolute offset

    mvhd = _full(
        b"mvhd", 0,
        struct.pack(">II", 0, 0)  # ctime mtime
        + struct.pack(">II", MP4_TIMESCALE, dur)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = _full(
        b"tkhd", 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", dur)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer/group/volume/rsvd
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
        flags=3,  # track_enabled | track_in_movie
    )
    mdhd = _full(
        b"mdhd", 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", MP4_TIMESCALE, dur)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _full(
        b"hdlr", 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"probe\x00",
    )
    # minimal mp4v visual sample entry (14496-12 8.5.2 layout)
    entry = _box(
        b"mp4v",
        b"\x00" * 6 + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1),  # depth, predefined
    )
    stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
    stts = _full(
        b"stts", 0, struct.pack(">III", 1, n, MP4_SAMPLE_DELTA)
        if n else struct.pack(">I", 0),
    )
    stsc = _full(
        b"stsc", 0, struct.pack(">IIII", 1, 1, n, 1)
        if n else struct.pack(">I", 0),
    )
    stsz = _full(
        b"stsz", 0,
        struct.pack(">II", 0, n) + struct.pack(f">{n}I", *sample_sizes),
    )
    stco = _full(
        b"stco", 0, struct.pack(">II", 1, chunk_offset)
        if n else struct.pack(">I", 0),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", _VMHD + _DINF + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)
_VMHD = _full(b"vmhd", 0, struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
_DINF = _box(
    b"dinf",
    _full(b"dref", 0, struct.pack(">I", 1) + _full(b"url ", 0, b"")),
)
