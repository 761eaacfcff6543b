"""Real ISO Base Media File Format (MP4) mux/demux — stdlib only.

Implements the subset of ISO/IEC 14496-12 a data pipeline's video
ingest actually touches: the box (atom) structure, the movie header
tree (`moov/trak/mdia/minf/stbl`), and — the part that is genuinely an
algorithm rather than a struct layout — SAMPLE TABLE RESOLUTION: the
`stsc` sample-to-chunk run table, `stco`/`co64` chunk offsets, `stsz`
sample sizes, and `stts` duration runs jointly map "sample n" to a byte
range and a decode timestamp, and every demuxer must walk them exactly
the way `extract_samples` below does (chunk-run expansion capped by the
total sample count, intra-chunk offsets by cumulative sample size,
per-sample DTS by duration-run expansion).

H.264 tracks use the real-world packaging (ISO/IEC 14496-15): an
`avc1` sample entry whose `avcC` AVCDecoderConfigurationRecord carries
SPS/PPS out-of-band and declares the per-sample NAL length-prefix
size — samples are length-prefixed NAL units, NOT Annex-B.
`mp4_mux_avc` packages Annex-B access units that way (parameter sets
lifted into avcC, samples length-prefixed) and
`avc_sample_to_annexb`/`avc_track_param_sets` convert back for the
Annex-B elementary-stream decoder; both directions fail loudly on
desynced length walks or malformed records.

The MJPEG muxer writes Motion-JPEG-in-MP4 per the MPEG-4 systems
registry (`mp4v` visual sample entry whose `esds`
DecoderConfigDescriptor carries objectTypeIndication 0x6C =
ISO/IEC 10918-1 JPEG), with
deliberately non-trivial tables: a leading `free` box shifts all chunk
offsets, samples are grouped into multi-sample chunks with a final
partial chunk (so the stsc cap path runs), and stts uses alternating
durations (a maximally fragmented run table). Files it writes are valid
ISO BMFF — the structure is checked by pytest against an independent
box walk, and the payload round-trip is bit-exact.

Reference parity: the reference treats media payloads as opaque bytes
decoded consumer-side (/root/reference/server/messages.go:65); this
module is the consumer-side decode for the `video/mp4` payload class,
same posture as functions/jpeg.py for images. Pure Python: at 100 TB
this runs as Arrow-batched mapInPandas stages (see
operators/multimodal.py) — per-blob cost is the codec, parallelism is
the scan's, and a C decoder drops in via the decode_fn= hook without
touching the plumbing.
"""

from __future__ import annotations

import struct
from typing import Iterator, NamedTuple

MP4_TIMESCALE = 12288  # divisible by common fps values; 2^12 * 3


class Sample(NamedTuple):
    index: int  # 0-based sample number
    offset: int  # absolute byte offset in the file
    size: int
    dts: int  # decode timestamp in media timescale ticks
    duration: int  # ticks
    sync: bool = True  # keyframe? (no stss box => every sample is sync)


class AvcConfig(NamedTuple):
    """Parsed AVCDecoderConfigurationRecord (ISO/IEC 14496-15 §5.3.3):
    the out-of-band SPS/PPS NAL units (header byte included, no start
    codes) and the per-sample NAL length-prefix size. `avc1`/`avc3`
    tracks carry length-prefixed NALs in their samples, NOT Annex-B —
    `avc_sample_to_annexb` converts one sample for an Annex-B decoder."""

    profile: int
    level: int
    nal_length_size: int  # 1, 2 or 4 bytes (3 is spec-reserved)
    sps: tuple[bytes, ...]
    pps: tuple[bytes, ...]


class Mp4Track(NamedTuple):
    codec: str  # sample-entry fourcc, e.g. 'mp4v'
    width: int
    height: int
    timescale: int
    duration: int  # mdhd duration, ticks
    samples: list[Sample]
    # avc1/avc3 tracks only: the avcC record (None for mp4v etc.)
    avcc: AvcConfig | None = None


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full(typ: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, bytes([version]) + flags.to_bytes(3, "big") + payload)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def _desc(tag: int, payload: bytes) -> bytes:
    """MPEG-4 systems BaseDescriptor with the canonical variable-length
    size encoding (7 bits per byte, MSB = continuation). Sizes here are
    tiny, but emitting the real encoding keeps the bytes spec-shaped."""
    n = len(payload)
    size = bytes([n & 0x7F])
    n >>= 7
    while n:
        size = bytes([0x80 | (n & 0x7F)]) + size
        n >>= 7
    return bytes([tag]) + size + payload


def _esds_jpeg() -> bytes:
    """ES_Descriptor for Motion-JPEG: DecoderConfigDescriptor with
    objectTypeIndication 0x6C (Visual ISO/IEC 10918-1), streamType
    0x04 (VisualStream) << 2 | reserved 1."""
    dcd = _desc(
        0x04,
        bytes([0x6C, (0x04 << 2) | 1])
        + (0).to_bytes(3, "big")  # bufferSizeDB
        + struct.pack(">II", 0, 0),  # max/avg bitrate (unconstrained)
    )
    slc = _desc(0x06, bytes([0x02]))  # SLConfig predefined=2 (MP4)
    es = _desc(0x03, struct.pack(">HB", 1, 0) + dcd + slc)
    return _full(b"esds", 0, 0, es)


def _visual_sample_entry(width: int, height: int) -> bytes:
    name = b"streams-spark mjpeg"
    body = (
        b"\x00" * 6  # reserved
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4  # reserved
        + struct.pack(">H", 1)  # frame_count per sample
        + bytes([len(name)])
        + name.ljust(31, b"\x00")  # compressorname (pascal, 32 bytes)
        + struct.pack(">Hh", 0x0018, -1)  # depth, pre_defined
        + _esds_jpeg()
    )
    return _box(b"mp4v", body)


# ---------------------------------------------------------------------------
# avc1/avcC (ISO/IEC 14496-15): H.264 sample entries. Real-world H.264
# MP4s (ffmpeg, phones) package SPS/PPS out-of-band in an
# AVCDecoderConfigurationRecord and store samples as LENGTH-PREFIXED
# NAL units — not the Annex-B start-code stream the elementary-stream
# decoder reads. These helpers convert both directions, loudly.
# ---------------------------------------------------------------------------


def _annexb_nals(au: bytes) -> list[bytes]:
    """Split an Annex-B access unit into NAL units (3/4-byte start
    codes). Container-side twin of the decoder's splitter, raising
    Mp4Error so mux callers see one exception type."""
    starts = []
    i, n = 0, len(au)
    while i + 2 < n:
        if au[i] == 0 and au[i + 1] == 0 and au[i + 2] == 1:
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    if not starts:
        raise Mp4Error("no Annex-B start code in access unit")
    nals = []
    for k, s in enumerate(starts):
        e = starts[k + 1] - 3 if k + 1 < len(starts) else n
        while e > s and au[e - 1] == 0:  # 4-byte code's leading zero
            e -= 1
        if e > s:
            nals.append(au[s:e])
    return nals


def build_avcc(
    sps: list[bytes], pps: list[bytes], nal_length_size: int = 4
) -> bytes:
    """AVCDecoderConfigurationRecord payload (14496-15 §5.3.3.1).
    `sps`/`pps` are raw NAL units with the header byte, no start
    codes. Profile/level/compat bytes are lifted from the first SPS
    (bytes 1..3 of its RBSP — EBSP emulation cannot occur that early)."""
    if nal_length_size not in (1, 2, 4):
        raise Mp4Error("nal_length_size must be 1, 2 or 4")
    if not sps or not pps:
        raise Mp4Error("avcC requires at least one SPS and one PPS")
    if len(sps) > 31 or len(pps) > 255:
        raise Mp4Error("too many parameter sets for avcC")
    out = bytearray([1, sps[0][1], sps[0][2], sps[0][3]])
    out.append(0xFC | (nal_length_size - 1))  # reserved | lengthSizeMinus1
    out.append(0xE0 | len(sps))  # reserved | numOfSequenceParameterSets
    for nal in sps:
        out += struct.pack(">H", len(nal)) + nal
    out.append(len(pps))
    for nal in pps:
        out += struct.pack(">H", len(nal)) + nal
    return bytes(out)


def parse_avcc(payload: bytes) -> AvcConfig:
    """Parse an avcC box payload; every malformed shape (bad version,
    reserved length size, truncated set array) raises Mp4Error."""
    if len(payload) < 7:
        raise Mp4Error("avcC record truncated")
    if payload[0] != 1:
        raise Mp4Error(f"avcC configurationVersion {payload[0]} != 1")
    profile, level = payload[1], payload[3]
    nal_length_size = (payload[4] & 0x03) + 1
    if nal_length_size == 3:
        raise Mp4Error("avcC lengthSizeMinusOne=2 is spec-reserved")

    pos = 5

    def take_sets(count: int) -> tuple[bytes, ...]:
        nonlocal pos
        sets = []
        for _ in range(count):
            if pos + 2 > len(payload):
                raise Mp4Error("avcC parameter-set array truncated")
            (ln,) = struct.unpack_from(">H", payload, pos)
            pos += 2
            if ln == 0 or pos + ln > len(payload):
                raise Mp4Error("avcC parameter-set length out of range")
            sets.append(payload[pos : pos + ln])
            pos += ln
        return tuple(sets)

    n_sps = payload[pos] & 0x1F
    pos += 1
    sps = take_sets(n_sps)
    if pos >= len(payload):
        raise Mp4Error("avcC record truncated before PPS count")
    n_pps = payload[pos]
    pos += 1
    pps = take_sets(n_pps)
    return AvcConfig(profile, level, nal_length_size, sps, pps)


def avc_sample_to_annexb(sample: bytes, nal_length_size: int) -> bytes:
    """One avc1 sample -> Annex-B bytes for the elementary-stream
    decoder. The length prefixes must tile the sample exactly: an
    overrunning or zero length raises (a desynced walk would otherwise
    hand the decoder garbage that may still parse)."""
    out = bytearray()
    pos, n = 0, len(sample)
    while pos < n:
        if pos + nal_length_size > n:
            raise Mp4Error(f"truncated NAL length prefix at {pos}")
        ln = int.from_bytes(sample[pos : pos + nal_length_size], "big")
        pos += nal_length_size
        if ln == 0 or pos + ln > n:
            raise Mp4Error(f"NAL length {ln} at {pos} out of range")
        out += b"\x00\x00\x00\x01" + sample[pos : pos + ln]
        pos += ln
    if not out:
        raise Mp4Error("empty avc1 sample")
    return bytes(out)


def avc_track_param_sets(avcc: AvcConfig) -> bytes:
    """The track's out-of-band SPS/PPS as one Annex-B chunk — prepend
    to the first converted sample before feeding an Annex-B decoder."""
    return b"".join(
        b"\x00\x00\x00\x01" + nal for nal in avcc.sps + avcc.pps
    )


def _avc_sample_entry(width: int, height: int, avcc_payload: bytes) -> bytes:
    name = b"streams-spark avc"
    body = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + bytes([len(name)])
        + name.ljust(31, b"\x00")
        + struct.pack(">Hh", 0x0018, -1)
        + _box(b"avcC", avcc_payload)
    )
    return _box(b"avc1", body)


def _chunk_plan(n_samples: int) -> list[int]:
    """Samples per chunk: 1 in the first chunk, then 2 per chunk with a
    final partial — makes the stsc table multi-run and forces the
    demuxer's cap-by-total path on the last chunk."""
    if n_samples <= 1:
        return [n_samples] if n_samples else []
    plan = [1]
    rest = n_samples - 1
    while rest > 0:
        take = min(2, rest)
        plan.append(take)
        rest -= take
    return plan


def _stts_payload(durations: list[int]) -> bytes:
    runs: list[tuple[int, int]] = []
    for d in durations:
        if runs and runs[-1][1] == d:
            runs[-1] = (runs[-1][0] + 1, d)
        else:
            runs.append((1, d))
    out = struct.pack(">I", len(runs))
    for count, delta in runs:
        out += struct.pack(">II", count, delta)
    return out


def _stsc_payload(plan: list[int]) -> bytes:
    # run-length encode samples-per-chunk into stsc entries
    entries: list[tuple[int, int]] = []  # (first_chunk 1-based, spc)
    for i, spc in enumerate(plan):
        if not entries or entries[-1][1] != spc:
            entries.append((i + 1, spc))
    out = struct.pack(">I", len(entries))
    for first, spc in entries:
        out += struct.pack(">III", first, spc, 1)  # sample_desc_index 1
    return out


def mp4_mux(
    frames: list[bytes],
    width: int,
    height: int,
    timescale: int = MP4_TIMESCALE,
    durations: list[int] | None = None,
    sync_every: int | None = None,
    avcc_payload: bytes | None = None,
) -> bytes:
    """Write a valid single-track Motion-JPEG MP4. `frames` are the
    encoded JPEG sample payloads (opaque here — the container does not
    look inside its samples). Default durations alternate 512/1024
    ticks, producing a maximally fragmented stts run table.
    `sync_every=k` writes an stss sync-sample table marking samples
    1, 1+k, 1+2k, ... as keyframes (MJPEG is all-intra, so the spec
    default — no stss, every sample sync — is what production files
    carry; an explicit stss models inter-coded codecs for the
    keyframe-only sampling path)."""
    if durations is None:
        durations = [512 if i % 2 == 0 else 1024 for i in range(len(frames))]
    if len(durations) != len(frames):
        raise ValueError("durations must match frames")
    total = sum(durations)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
    free = _box(b"free", b"streams-spark pad")  # shifts every stco offset
    mdat_payload = b"".join(frames)
    mdat = _box(b"mdat", mdat_payload)

    # chunk offsets: mdat payload starts after ftyp + free + mdat header
    base = len(ftyp) + len(free) + 8
    plan = _chunk_plan(len(frames))
    sizes = [len(f) for f in frames]
    offsets = []
    pos, si = base, 0
    for spc in plan:
        offsets.append(pos)
        pos += sum(sizes[si : si + spc])
        si += spc

    entry = (
        _avc_sample_entry(width, height, avcc_payload)
        if avcc_payload is not None
        else _visual_sample_entry(width, height)
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, _stts_payload(durations))
    stsc = _full(b"stsc", 0, 0, _stsc_payload(plan))
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(offsets))
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stss = b""
    if sync_every is not None:
        syncs = list(range(1, len(frames) + 1, sync_every))
        stss = _full(
            b"stss", 0, 0,
            struct.pack(">I", len(syncs))
            + b"".join(struct.pack(">I", n) for n in syncs),
        )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)

    url = _full(b"url ", 0, 1, b"")  # flag 1: media in this file
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + url)
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)

    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, timescale, total, 0x55C4, 0),
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)

    tkhd = _full(
        b"tkhd", 0, 7,  # enabled | in-movie | in-preview
        struct.pack(">IIII", 0, 0, 1, 0)  # created, modified, id, reserved
        + struct.pack(">I", total)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, reserved
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd + mdia)

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, total)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume
        + b"\x00" * 8
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_ID
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + free + mdat + moov


def mp4_mux_avc(
    aus: list[bytes],
    width: int,
    height: int,
    nal_length_size: int = 4,
    timescale: int = MP4_TIMESCALE,
    durations: list[int] | None = None,
    sync_every: int | None = None,
) -> bytes:
    """Package Annex-B H.264 access units the way real-world muxers
    (ffmpeg, phones) do: SPS/PPS NALs move OUT-OF-BAND into the avc1
    sample entry's avcC record and every sample becomes
    length-prefixed NALs. Parameter sets are deduplicated in first-seen
    order across all AUs; an AU left with no VCL/SEI NALs after the
    move is invalid input (nothing to store as the sample)."""
    sps: list[bytes] = []
    pps: list[bytes] = []
    samples: list[bytes] = []
    for au in aus:
        kept: list[bytes] = []
        for nal in _annexb_nals(au):
            ntype = nal[0] & 0x1F
            if ntype == 7:
                if nal not in sps:
                    sps.append(nal)
            elif ntype == 8:
                if nal not in pps:
                    pps.append(nal)
            else:
                kept.append(nal)
        if not kept:
            raise Mp4Error("access unit has only parameter-set NALs")
        limit = 1 << (8 * nal_length_size)
        sample = bytearray()
        for nal in kept:
            if len(nal) >= limit:
                raise Mp4Error(
                    f"NAL of {len(nal)} bytes exceeds "
                    f"{nal_length_size}-byte length prefix"
                )
            sample += len(nal).to_bytes(nal_length_size, "big") + nal
        samples.append(bytes(sample))
    return mp4_mux(
        samples, width, height,
        timescale=timescale, durations=durations, sync_every=sync_every,
        avcc_payload=build_avcc(sps, pps, nal_length_size),
    )


# ---------------------------------------------------------------------------
# Demux
# ---------------------------------------------------------------------------


class Mp4Error(ValueError):
    pass


def walk_boxes(
    buf: bytes, start: int = 0, end: int | None = None
) -> Iterator[tuple[str, int, int]]:
    """Yield (fourcc, payload_start, payload_end) for each box in
    buf[start:end]. Handles 64-bit largesize (size == 1) and
    size == 0 (box extends to the end of the enclosing scope)."""
    end = len(buf) if end is None else end
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise Mp4Error(f"truncated box header at {pos}")
        size = struct.unpack_from(">I", buf, pos)[0]
        typ = buf[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error(f"truncated largesize at {pos}")
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise Mp4Error(
                f"box {typ!r} at {pos} has bad size {size}"
            )
        yield typ.decode("latin-1"), pos + hdr, pos + size
        pos += size


_CONTAINERS = {"moov", "trak", "mdia", "minf", "stbl", "dinf", "edts"}


def _find(buf: bytes, path: list[str], start: int, end: int) -> tuple[int, int]:
    lo, hi = start, end
    for want in path:
        for typ, p0, p1 in walk_boxes(buf, lo, hi):
            if typ == want:
                lo, hi = p0, p1
                break
        else:
            raise Mp4Error(f"missing box {want!r}")
    return lo, hi


def _full_payload(buf: bytes, p0: int, p1: int) -> tuple[int, bytes]:
    if p1 - p0 < 4:
        raise Mp4Error("truncated full box")
    return buf[p0], buf[p0 + 4 : p1]


def _expand_stts(payload: bytes, n_samples: int) -> list[int]:
    (n_runs,) = struct.unpack_from(">I", payload, 0)
    durs: list[int] = []
    if n_samples == 0:
        return durs
    off = 4
    for _ in range(n_runs):
        count, delta = struct.unpack_from(">II", payload, off)
        off += 8
        # cap each run at the samples still needed BEFORE allocating:
        # a corrupt/hostile count near 2^32 would otherwise expand to a
        # multi-billion-element list (memory exhaustion) even though
        # only n_samples durations can ever be used (ADVICE r9)
        take = min(count, n_samples - len(durs))
        durs.extend([delta] * take)
        if len(durs) >= n_samples:
            return durs
    raise Mp4Error(
        f"stts covers {len(durs)} samples, stsz has {n_samples}"
    )


def extract_samples(buf: bytes) -> Mp4Track:
    """Resolve the sample tables of the first video track into absolute
    (offset, size, dts, duration) per sample — the core demux
    algorithm: expand stsc chunk runs (a run applies from its
    first_chunk until the next run's), cap the final chunk by the
    remaining sample count, accumulate intra-chunk offsets by sample
    size, and expand stts duration runs into cumulative DTS.

    Any truncated table (struct.error mid-parse) surfaces as Mp4Error
    so callers see one exception type for every corrupt-file shape
    (ADVICE r9)."""
    try:
        return _extract_samples(buf)
    except struct.error as exc:
        raise Mp4Error(f"truncated/corrupt sample table: {exc}") from exc


def _extract_samples(buf: bytes) -> Mp4Track:
    moov0, moov1 = _find(buf, ["moov"], 0, len(buf))
    # select the VIDEO track by hdlr handler_type, not file position —
    # real files put audio first as often as not; fall back to the
    # first trak when no 'vide' handler exists
    trak0 = trak1 = None
    first = None
    for typ, p0, p1 in walk_boxes(buf, moov0, moov1):
        if typ != "trak":
            continue
        if first is None:
            first = (p0, p1)
        try:
            h0, h1 = _find(buf, ["mdia", "hdlr"], p0, p1)
        except Mp4Error:
            continue
        _, hdlr = _full_payload(buf, h0, h1)
        if hdlr[4:8] == b"vide":
            trak0, trak1 = p0, p1
            break
    if trak0 is None:
        if first is None:
            raise Mp4Error("missing box 'trak'")
        trak0, trak1 = first
    stbl0, stbl1 = _find(buf, ["mdia", "minf", "stbl"], trak0, trak1)

    mdhd0, mdhd1 = _find(buf, ["mdia", "mdhd"], trak0, trak1)
    version, mdhd = _full_payload(buf, mdhd0, mdhd1)
    if version == 1:
        timescale, duration = struct.unpack_from(">IQ", mdhd, 16)
    else:
        timescale, duration = struct.unpack_from(">II", mdhd, 8)

    boxes = {t: (p0, p1) for t, p0, p1 in walk_boxes(buf, stbl0, stbl1)}
    for need in ("stsd", "stsz", "stsc", "stts"):
        if need not in boxes:
            raise Mp4Error(f"missing box {need!r}")
    if "stco" not in boxes and "co64" not in boxes:
        raise Mp4Error("missing chunk offsets (stco/co64)")

    _, stsd = _full_payload(buf, *boxes["stsd"])
    codec = stsd[8:12].decode("latin-1")
    # VisualSampleEntry geometry: 6 reserved + 2 dref + 16 pre_defined,
    # then width/height (ISO 14496-12 §12.1.3)
    width, height = struct.unpack_from(">HH", stsd, 12 + 24)
    # avc1/avc3 (14496-15): the sample entry's fixed VisualSampleEntry
    # part is 78 bytes, then child boxes — avcC is REQUIRED and carries
    # the out-of-band SPS/PPS plus the sample NAL length-prefix size.
    # Without parsing it, samples (length-prefixed NALs) are not
    # decodable: an Annex-B decoder fed them raw sees no start codes.
    avcc: AvcConfig | None = None
    if codec in ("avc1", "avc3"):
        (entry_size,) = struct.unpack_from(">I", stsd, 4)
        if entry_size < 8 + 78 or 4 + entry_size > len(stsd):
            raise Mp4Error(f"{codec} sample entry truncated")
        for typ, p0, p1 in walk_boxes(stsd, 4 + 8 + 78, 4 + entry_size):
            if typ == "avcC":
                avcc = parse_avcc(stsd[p0:p1])
                break
        else:
            raise Mp4Error(f"{codec} sample entry missing avcC")

    _, stsz = _full_payload(buf, *boxes["stsz"])
    uniform, count = struct.unpack_from(">II", stsz, 0)
    if uniform:
        sizes = [uniform] * count
    else:
        sizes = list(struct.unpack_from(f">{count}I", stsz, 8))

    if "stco" in boxes:
        _, stco = _full_payload(buf, *boxes["stco"])
        (n_chunks,) = struct.unpack_from(">I", stco, 0)
        chunk_offsets = list(struct.unpack_from(f">{n_chunks}I", stco, 4))
    else:
        _, co64 = _full_payload(buf, *boxes["co64"])
        (n_chunks,) = struct.unpack_from(">I", co64, 0)
        chunk_offsets = list(struct.unpack_from(f">{n_chunks}Q", co64, 4))

    _, stsc = _full_payload(buf, *boxes["stsc"])
    (n_runs,) = struct.unpack_from(">I", stsc, 0)
    runs = [
        struct.unpack_from(">III", stsc, 4 + 12 * i)[:2]
        for i in range(n_runs)
    ]  # (first_chunk 1-based, samples_per_chunk)
    # validate the runs BEFORE indexing chunk_offsets with them: a
    # corrupt first_chunk=0 would silently wrap to the LAST chunk via
    # Python negative indexing (wrong bytes, no error), and one beyond
    # n_chunks would raise a bare IndexError (ADVICE r9). The spec
    # requires 1-based, strictly increasing first_chunk (14496-12
    # §8.7.4: entries ordered by first_chunk).
    for ri, (first, _spc) in enumerate(runs):
        if not 1 <= first <= len(chunk_offsets):
            raise Mp4Error(
                f"stsc run {ri}: first_chunk {first} outside "
                f"1..{len(chunk_offsets)}"
            )
        if ri and first <= runs[ri - 1][0]:
            raise Mp4Error(
                f"stsc runs not strictly increasing at entry {ri}"
            )

    _, stts = _full_payload(buf, *boxes["stts"])
    durations = _expand_stts(stts, count)

    # stss: absent => every sample is a sync sample (the spec default,
    # and the truth for all-intra codecs like MJPEG)
    syncs: set[int] | None = None
    if "stss" in boxes:
        _, stss = _full_payload(buf, *boxes["stss"])
        (n_sync,) = struct.unpack_from(">I", stss, 0)
        syncs = set(struct.unpack_from(f">{n_sync}I", stss, 4))

    samples: list[Sample] = []
    dts = 0
    si = 0
    for ri, (first, spc) in enumerate(runs):
        last = (
            runs[ri + 1][0] - 1 if ri + 1 < len(runs) else len(chunk_offsets)
        )
        for chunk in range(first, last + 1):
            if si >= count:
                break
            pos = chunk_offsets[chunk - 1]
            for _ in range(min(spc, count - si)):
                samples.append(
                    Sample(
                        si, pos, sizes[si], dts, durations[si],
                        syncs is None or (si + 1) in syncs,
                    )
                )
                pos += sizes[si]
                dts += durations[si]
                si += 1
    if si != count:
        raise Mp4Error(
            f"sample tables resolve {si} of {count} samples"
        )
    return Mp4Track(
        codec, width, height, timescale, duration, samples, avcc
    )


def mp4_demux(
    buf: bytes, keyframes_only: bool = False
) -> tuple[Mp4Track, list[bytes]]:
    """Extract the video track's sample payloads (the encoded frames,
    in decode order) plus track metadata. `keyframes_only=True` keeps
    only stss-marked sync samples — the frame-sampling mode a training
    pipeline uses on inter-coded video, where non-key samples can't be
    decoded independently anyway."""
    track = extract_samples(buf)
    if keyframes_only:
        track = track._replace(
            samples=[s for s in track.samples if s.sync]
        )
    frames = [buf[s.offset : s.offset + s.size] for s in track.samples]
    for s, f in zip(track.samples, frames):
        if len(f) != s.size:
            raise Mp4Error(f"sample {s.index} extends past EOF")
    return track, frames
