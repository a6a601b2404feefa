"""GIF header parse — width and height from the logical screen descriptor.

``operators.multimodal.decode_metadata`` reads a GIF blob's dimensions here
without touching pixel data (the GIF analog of ``functions.png.decode_ihdr``).
The layout follows the public GIF87a/89a specification: six magic bytes, then
the screen width and height as little-endian uint16.
"""

from __future__ import annotations

import struct

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def decode_screen(data: bytes) -> tuple[int, int]:
    """(width, height) from the logical screen descriptor — header-only parse
    (the GIF analog of png.decode_ihdr)."""
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", data[6:10])
    return w, h
