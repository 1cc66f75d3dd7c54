"""Per-row resource bounds shared by the payload decoders.

A crafted payload must fail its own row with the decoder's typed error,
never exhaust the worker: inflated output and header-declared pixel counts
are bounded before anything is allocated from them.
"""
from __future__ import annotations

import zlib

__all__ = ["MAX_PIXELS", "inflate"]

# the most pixels (w*h) a decoder allocates for: 4096x4096, over a 300-dpi
# letter scan; the decoders hold ~24 bytes per pixel, so ~400 MB
MAX_PIXELS = 1 << 24


def inflate(data: bytes, limit: int) -> bytes:
    """``zlib.decompress(data)`` that produces at most ``limit`` bytes.

    Raises ``zlib.error`` (which every caller already types as a corrupt
    stream) when the stream inflates past ``limit`` or is truncated, so a
    crafted stream costs ``limit + 1`` bytes, not a ``MemoryError``."""
    d = zlib.decompressobj()
    out = d.decompress(data, limit + 1)
    if len(out) > limit:
        raise zlib.error(f"stream inflates past {limit} bytes")
    if not d.eof:
        raise zlib.error("incomplete or truncated stream")
    return out
