"""Morton (z-order) encode/decode, vectorized NumPy.

Same mathematical function as the reference's dilated-integer tables
(/root/reference/cpp/include/cuspatial/detail/utility/z_order.cuh:69-94),
implemented with the classic public-domain "Interleave bits by Binary
Magic Numbers" shift-mask sequence (Sean Anderson's Bit Twiddling Hacks)
instead of lookup tables.

Keys are uint32: key = interleave(y, x) with x in the even bit positions.
"""

from __future__ import annotations

import numpy as np


def check_max_depth(max_depth: int) -> None:
    """Keys hold 16 bits per coordinate: a deeper grid would drop the
    high bits of a cell and give wrong keys silently, so raise."""
    if not 1 <= max_depth <= 16:
        raise ValueError(f"max_depth must be in 1..16, got {max_depth}")


def dilate2(v: np.ndarray) -> np.ndarray:
    """Spread the low 16 bits of v so bit i moves to bit 2i (uint32 out)."""
    x = np.asarray(v).astype(np.uint32)
    x = (x | (x << np.uint32(8))) & np.uint32(0x00FF00FF)
    x = (x | (x << np.uint32(4))) & np.uint32(0x0F0F0F0F)
    x = (x | (x << np.uint32(2))) & np.uint32(0x33333333)
    x = (x | (x << np.uint32(1))) & np.uint32(0x55555555)
    return x


def undilate2(v: np.ndarray) -> np.ndarray:
    """Inverse of dilate2: gather even bits of v into the low 16 bits."""
    x = np.asarray(v).astype(np.uint32) & np.uint32(0x55555555)
    x = (x | (x >> np.uint32(1))) & np.uint32(0x33333333)
    x = (x | (x >> np.uint32(2))) & np.uint32(0x0F0F0F0F)
    x = (x | (x >> np.uint32(4))) & np.uint32(0x00FF00FF)
    x = (x | (x >> np.uint32(8))) & np.uint32(0x0000FFFF)
    return x.astype(np.uint16)


def z_order(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton key from integer cell coordinates (y in odd bits)."""
    return (dilate2(y) << np.uint32(1)) | dilate2(x)


def z_order_x(key: np.ndarray) -> np.ndarray:
    return undilate2(np.asarray(key).astype(np.uint32))


def z_order_y(key: np.ndarray) -> np.ndarray:
    return undilate2(np.asarray(key).astype(np.uint32) >> np.uint32(1))


def point_keys(
    x: np.ndarray,
    y: np.ndarray,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
) -> np.ndarray:
    """Morton key per point at full depth; out-of-AOI points get the
    sentinel max key ((1 << 2*max_depth) - 1).

    Matches /root/reference/cpp/include/cuspatial/detail/index/construction/
    phase_1.cuh:60-95 (bounds test inclusive of the max edge; truncating
    cast of (coord - min) / scale).  ``max_depth`` must be in 1..16.
    """
    check_max_depth(max_depth)
    x = np.asarray(x)
    y = np.asarray(y)
    outside = (x < x_min) | (x > x_max) | (y < y_min) | (y > y_max)
    ux = ((x - x_min) / scale).astype(np.uint16)
    uy = ((y - y_min) / scale).astype(np.uint16)
    keys = z_order(ux, uy)
    sentinel = np.uint32((1 << (2 * max_depth)) - 1)
    return np.where(outside, sentinel, keys).astype(np.uint32)
