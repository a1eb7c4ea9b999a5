"""Stdlib-only MJPEG-AVI codec for the multimodal video tier.

The reference treats media as opaque blobs; this engine's video
operators (pipeline/multimodal.sample_frames) need REAL frame
extraction on executors without cv2/ffmpeg.  Motion-JPEG inside a
RIFF-AVI container is the one mainstream video format that needs no
inter-frame codec: every frame is a standalone baseline JPEG, which
`_stdlib_image.decode_gray` already reads (and whose encoder java's
ImageIO cross-validates).  So the pure-stdlib tier supports exactly
that: parse the RIFF container, walk the ``movi`` list, decode
``00dc``/``00db`` chunks.

Corruption contract (same as the image tier): unparseable bytes yield
``None`` / the frames decoded so far — never an executor-killing
exception.  Untrusted corpus bytes must not fail the Spark task.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from ._stdlib_image import decode_gray, encode_jpeg_gray

# frames larger than this are rejected before any allocation, like the
# image tier's SOF0 pixel cap
_MAX_CHUNK = 1 << 26


def is_avi(blob: bytes) -> bool:
    """RIFF....AVI magic check (cheap content sniff)."""
    return (
        isinstance(blob, (bytes, bytearray))
        and len(blob) >= 12
        and bytes(blob[:4]) == b"RIFF"
        and bytes(blob[8:12]) == b"AVI "
    )


def iter_frame_chunks(blob: bytes) -> Iterator[bytes]:
    """Yield RAW JPEG payloads of the ``00dc``/``00db`` video chunks in
    container order — no pixel decode.  This is the chunk walk that
    lets :func:`decode_frames` skip non-sampled frames BEFORE the
    entropy decode (at ``every_nth=10``, 10x less decode work).

    Tolerant reader: stops (instead of raising) at the first
    structurally corrupt chunk, yielding whatever it found so far —
    matching how a stream truncated mid-upload should behave in a
    corpus pipeline.
    """
    if not is_avi(blob):
        return
    blob = bytes(blob)
    # locate every LIST....movi run; frames are chunks inside it
    pos = 12
    end = min(len(blob), 8 + struct.unpack_from("<I", blob, 4)[0])
    while pos + 8 <= end:
        fourcc = blob[pos : pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        if size > len(blob):
            return
        if fourcc == b"LIST" and blob[pos + 8 : pos + 12] == b"movi":
            yield from _walk_movi(blob, pos + 12, min(end, pos + 8 + size), 0)
        pos += 8 + size + (size & 1)


def _walk_movi(blob: bytes, mpos: int, mend: int, depth: int):
    """Yield raw video-chunk payloads from a movi chunk run, recursing
    one level into the AVI-1.0 ``LIST rec `` interleave sublists common
    muxers emit for CD-ROM layouts."""
    while mpos + 8 <= mend:
        cid = blob[mpos : mpos + 4]
        (csize,) = struct.unpack_from("<I", blob, mpos + 4)
        if csize > _MAX_CHUNK or mpos + 8 + csize > len(blob):
            return
        if (
            cid == b"LIST"
            and depth == 0
            and blob[mpos + 8 : mpos + 12] == b"rec "
        ):
            yield from _walk_movi(
                blob, mpos + 12, min(mend, mpos + 8 + csize), depth + 1
            )
        elif cid[2:4] in (b"dc", b"db"):
            yield blob[mpos + 8 : mpos + 8 + csize]
        mpos += 8 + csize + (csize & 1)  # chunks are word-aligned


def decode_frames(
    blob: bytes, every_nth: int = 1, max_frames: int | None = None
) -> list[np.ndarray]:
    """Every ``every_nth``-th video chunk decoded, up to ``max_frames``
    decoded frames; ``[]`` for anything unparseable.  Sampling happens
    at the CHUNK walk (container position), so non-sampled frames are
    never entropy-decoded; undecodable sampled chunks are skipped."""
    out: list[np.ndarray] = []
    step = max(int(every_nth), 1)
    try:
        for i, payload in enumerate(iter_frame_chunks(blob)):
            if i % step == 0:
                frame = decode_gray(payload)
                if frame is None:
                    continue
                out.append(frame)
                if max_frames is not None and len(out) >= max_frames:
                    break
    except (struct.error, ValueError, IndexError, MemoryError):
        pass  # frames decoded so far
    return out


def probe(blob: bytes) -> dict | None:
    """Container metadata without decoding pixels: (n_frames, width,
    height, fps) from the avih header, None if not an AVI."""
    if not is_avi(blob):
        return None
    blob = bytes(blob)
    pos = 12
    try:
        while pos + 8 <= len(blob):
            fourcc = blob[pos : pos + 4]
            (size,) = struct.unpack_from("<I", blob, pos + 4)
            if fourcc == b"LIST" and blob[pos + 8 : pos + 12] == b"hdrl":
                hpos = pos + 12
                if blob[hpos : hpos + 4] == b"avih":
                    (hsz,) = struct.unpack_from("<I", blob, hpos + 4)
                    if hsz >= 40:
                        us_per_frame, _, _, _, n_frames = struct.unpack_from(
                            "<IIIII", blob, hpos + 8
                        )
                        w, h = struct.unpack_from("<II", blob, hpos + 8 + 32)
                        fps = 1_000_000.0 / us_per_frame if us_per_frame else 0.0
                        return {
                            "n_frames": int(n_frames),
                            "width": int(w),
                            "height": int(h),
                            "fps": round(fps, 3),
                        }
                return None
            pos += 8 + size + (size & 1)
    except struct.error:
        return None
    return None


def encode_mjpeg_avi(frames: list[np.ndarray], fps: int = 10, q: int = 8) -> bytes:
    """Minimal MJPEG AVI from HxW uint8 grayscale frames (all the same
    shape) — the test-fixture twin of the reader, mirroring the image
    tier's encode_jpeg_gray.  The JPEG payloads are real Annex-K
    baseline streams (java ImageIO decodes them)."""
    if not frames:
        raise ValueError("encode_mjpeg_avi: need at least one frame")
    h, w = frames[0].shape
    if any(f.shape != (h, w) for f in frames):
        raise ValueError("encode_mjpeg_avi: all frames must share one shape")
    jpegs = [encode_jpeg_gray(f, q=q) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    us_per_frame = int(1_000_000 / max(fps, 1))
    max_bytes = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, max_bytes * max(fps, 1), 0, 0x10,  # AVIF_HASINDEX
        len(jpegs), 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    # AVISTREAMHEADER: flags, prio, lang, initialFrames, scale, rate,
    # start, length, suggestedBufferSize, quality, sampleSize, rcFrame
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0, 0, 1, max(fps, 1), 0, len(jpegs), max_bytes, 0, 0,
        )
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,  # 'MJPG'
        w * h * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    # idx1: one entry per frame (offset relative to 'movi' fourcc)
    entries = []
    off = 4
    for j in jpegs:
        entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    idx1 = chunk(b"idx1", b"".join(entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body
