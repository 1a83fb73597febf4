"""Scalar (per-byte Python) reference implementations of the PNG codec
lanes, preserved verbatim from the pre-vectorization engine.

Consumer: the ``tests/test_multimodal_codecs.py`` differential tests. The
production numpy lanes in ``functions/multimodal.py`` must produce
byte-identical decoded rasters / encoder payloads / LCG streams on
randomized shapes.

These loops are the executable spec of RFC 2083 §6 filtering (the numpy
lanes are the optimization); do not "fix" them independently of the
production code.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def lcg_bytes_scalar(seed: int, n: int) -> bytes:
    """Per-byte LCG stream (the original ``_lcg_bytes``)."""
    x = (seed * 2654435761 + 1) & 0xFFFFFFFF
    out = bytearray(n)
    for i in range(n):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        out[i] = (x >> 16) & 0xFF
    return bytes(out)


def unfilter_scanlines_scalar(
    raw: bytes, height: int, stride: int, channels: int
) -> bytes:
    """Per-byte None/Sub/Up/Average/Paeth unfiltering (the original
    ``_decode_png`` inner loop), returning the concatenated decoded rows."""
    decoded = bytearray()
    prev = bytearray(stride)
    rpos = 0
    for _row in range(height):
        f = raw[rpos]
        line = bytearray(raw[rpos + 1 : rpos + 1 + stride])
        rpos += stride + 1
        if f == 0:  # None
            pass
        elif f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        decoded += line
        prev = line
    return bytes(decoded)


def decode_png_scalar(payload: bytes) -> tuple[list[float], int]:
    """The original fully-scalar ``_decode_png``: chunk walk + CRC checks +
    zlib inflate + per-byte unfilter + per-byte channel-mean accumulation."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            width, height = struct.unpack_from(">II", data, 0)
            bit_depth, color_type, _comp, _filt, interlace = data[8:13]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise NotImplementedError("PNG profile beyond stdlib decoder")
    channels = 3 if color_type == 2 else 4
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data size mismatch")
    decoded = unfilter_scanlines_scalar(raw, height, stride, channels)
    sums = [0, 0, 0]
    for base in range(0, len(decoded), channels):
        sums[0] += decoded[base]
        sums[1] += decoded[base + 1]
        sums[2] += decoded[base + 2]
    count = width * height
    return ([s / count / 255.0 for s in sums] if count else [0.0] * 3), 1


def png_filtered_rows_scalar(
    pixels_rgb: bytes, width: int, height: int, rgba: bool
) -> bytes:
    """The original ``make_png_bytes`` filter loop: given the flat RGB pixel
    stream, produce the filtered pre-compression byte stream (filter type
    byte + filtered scanline per row, filters cycling 0→4)."""
    channels = 4 if rgba else 3
    rows: list[bytes] = []
    k = 0
    for _r in range(height):
        line = bytearray()
        for _c in range(width):
            line += pixels_rgb[k : k + 3]
            if rgba:
                line.append(255)
            k += 3
        rows.append(bytes(line))
    stride = width * channels
    prev = bytes(stride)
    filtered = bytearray()
    for r, line in enumerate(rows):
        f = r % 5
        filtered.append(f)
        for i in range(stride):
            x = line[i]
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 0:
                v = x
            elif f == 1:
                v = x - a
            elif f == 2:
                v = x - b
            elif f == 3:
                v = x - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = x - pred
            filtered.append(v & 0xFF)
        prev = line
    return bytes(filtered)
