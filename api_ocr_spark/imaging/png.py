"""Minimal, dependency-free PNG codec for 8-bit grayscale images.

Replaces the reference's ``cv2.imdecode``/``cv2.imwrite`` round-trips
(/root/reference/utils/file_handling.py:21-66, /root/reference/ocr/engine.py:60-63)
in an environment without OpenCV/PIL. Encoder always emits filter type 0;
decoder implements all five standard filter types so any conforming
grayscale-8 PNG decodes correctly. Pure numpy + stdlib zlib — deterministic.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_gray(img: np.ndarray) -> bytes:
    """Encode an HxW uint8 array as a grayscale-8 PNG (filter 0 per row,
    zlib level 1)."""
    if img.ndim != 2:
        raise ValueError(f"expected HxW grayscale array, got shape {img.shape}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # bitdepth 8, color 0 (gray)
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 = None
    raw[:, 1:] = img
    idat = zlib.compress(raw.tobytes(), 1)
    return _SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_gray(data: bytes) -> np.ndarray:
    """Decode a grayscale-8 PNG produced by :func:`encode_gray` (or any
    conforming encoder using standard row filters) into an HxW uint8 array."""
    if not data.startswith(_SIGNATURE):
        raise ValueError("not a PNG (bad signature)")
    pos = len(_SIGNATURE)
    width = height = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bitdepth, color, _, _, interlace = struct.unpack(">IIBBBBB", body)
            if bitdepth != 8 or color != 0 or interlace != 0:
                raise ValueError(f"unsupported PNG (bitdepth={bitdepth} color={color})")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width + 1
    if raw.size != height * stride:
        raise ValueError("PNG payload size mismatch")
    rows = raw.reshape(height, stride)
    # fast path: every row filter 0 (what encode_gray writes) → the image IS
    # the payload; one slice copy, no per-row loop / int32 temporaries
    if not rows[:, 0].any():
        return np.ascontiguousarray(rows[:, 1:])
    out = np.zeros((height, width), dtype=np.uint8)
    for y in range(height):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32)
        prior = out[y - 1].astype(np.int32) if y > 0 else np.zeros(width, np.int32)
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = (line + prior) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-to-right scan
            cur = np.zeros(width, dtype=np.int32)
            for x in range(width):
                a = cur[x - 1] if x > 0 else 0
                b = prior[x]
                c = prior[x - 1] if x > 0 else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return out


def decode_gray_auto(data: bytes):
    """Magic-sniffing grayscale decode: PNG (\\x89PNG) or baseline JPEG
    (\\xff\\xd8) — the media-store path accepts either format
    (/root/reference's read_image handles any cv2-decodable upload)."""
    if bytes(data[:2]) == b"\xff\xd8":
        from . import jpeg as _jpeg

        return _jpeg.decode_gray_jpeg(bytes(data))
    return decode_gray(data)
