"""PNG header parse — width, height, bit depth and color type from IHDR.

``operators.multimodal.decode_metadata`` reads a PNG blob's dimensions here
without decoding pixel data. :func:`_chunks` walks the chunk stream of
ISO/IEC 15948 (PNG) and checks each chunk's CRC32 as it reads it;
:func:`decode_ihdr` reads only the first chunk, so a blob cut or corrupted
inside IHDR raises ValueError rather than yielding a wrong header.
"""

from __future__ import annotations

import struct
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _chunks(data: bytes):
    """Yield (type, payload) for each chunk; validates CRCs."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG byte string")
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):  # payload/CRC run past the blob
            raise ValueError(f"truncated PNG inside chunk {ctype!r}")
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, payload
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("truncated PNG (no IEND)")


def decode_ihdr(data: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from the IHDR chunk only."""
    for ctype, payload in _chunks(data):
        if ctype == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", payload[:10])
            return w, h, depth, color
        break  # IHDR must be first per spec
    raise ValueError("PNG missing IHDR")
