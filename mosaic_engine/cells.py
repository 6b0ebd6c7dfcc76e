"""S2-style hierarchical cell ids over the web-mercator quadtree.

[BASELINE.json:14] requires an "H3/S2 index" for the kNN and
raster↔vector joins. Design (SURVEY.md §2.3 G7): the web-mercator
quadtree IS our cell hierarchy — a cell at level z is exactly tile
(x, y, z), so the engine reuses the bit-exact tile math of tilemath.py
and quadkeys are the string form of the same cells.

Packed id layout (int64): ``(morton(x, y) << 6) | level`` where morton
interleaves x (even bits) and y (odd bits). Levels 0..28 fit in 63 bits
(non-negative ids); level 29 needs bit 63, so its ids can be NEGATIVE —
still unique and grouping-safe two's-complement values, but not
order-comparable across the sign. Levels above 29 would truncate and
are rejected. Landsat-scale indexing uses levels 5..12. Like S2's cell
ids, parents are prefix-related:
``parent(id) = ((id >> 6) >> 2) << 6 | (level-1)``.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "pack_cell",
    "unpack_cell",
]


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 30 bits of v to even bit positions (morton helper)."""
    v = v.astype(np.uint64) & np.uint64(0x3FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def pack_cell(xs, ys, level: int) -> np.ndarray:
    """(x, y, level) tiles → packed int64 cell ids (see module doc for
    the level-29 sign caveat)."""
    if not 0 <= level <= 29:
        raise ValueError(f"cell level must be in [0, 29] (got {level})")
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    # fail-loud range check (r5 review): the morton interleave masks to
    # 30 bits, so an out-of-range coord would silently alias to a
    # wrong-but-well-formed cell id (x = 2^30 + 1 packs like x = 1) and
    # downstream joins would mismatch without a trace — the same
    # convention as lonlat_to_tile's NaN raise
    n = np.int64(1) << np.int64(level)
    if xs.size and (
        (xs < 0).any() or (xs >= n).any() or (ys < 0).any() or (ys >= n).any()
    ):
        raise ValueError(
            f"pack_cell: tile coords out of range for level {level} "
            f"(valid [0, {int(n)}))"
        )
    morton = _part1by1(xs) | (_part1by1(ys) << np.uint64(1))
    return ((morton << np.uint64(6)) | np.uint64(level)).astype(np.int64)


def unpack_cell(cells) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Packed ids → (x, y, level)."""
    c = np.asarray(cells, dtype=np.int64).astype(np.uint64)
    level = (c & np.uint64(0x3F)).astype(np.int64)
    morton = c >> np.uint64(6)
    xs = _unpart1by1(morton).astype(np.int64)
    ys = _unpart1by1(morton >> np.uint64(1)).astype(np.int64)
    return xs, ys, level

