"""Halo (overlap) exchange building blocks, shared by the Spark operator and
the pure-NumPy test harness.

A tile grid's halo exchange is expressed as: every tile emits, for each of
its up-to-``3^nd - 1`` neighbors, the margin slice of itself that the
neighbor needs; the receiver assembles its expanded view with ``np.block``.
This reproduces ``dask.array.overlap.overlap(..., boundary=None)`` (no halo
on outer borders, corners included; reference use sites
``/root/reference/relabel/relabeling.py:85-97,185-190``).

At scale this is the right shape for Spark: the shuffle moves only margins
(O(surface), not O(volume) — for a 512^2 tile with a 16px halo that is ~12%
of the data), keyed by destination chunk, so one ``groupBy(chunk_key)``
materializes every expanded tile with a single exchange.
"""
from __future__ import annotations

from itertools import product
from typing import Dict, Iterator, List, Sequence, Tuple

import numpy as np

Loc = Tuple[int, ...]


def margin_pieces(tile: np.ndarray, loc: Sequence[int], grid: Sequence[int],
                  depth: Sequence[int]
                  ) -> Iterator[Tuple[Loc, Loc, np.ndarray]]:
    """Yield ``(dest_loc, pos, piece)`` for every neighbor of this tile.

    ``pos`` is the piece's position inside the destination's 3^nd assembly
    grid (per axis: -1 before the center tile, 0 aligned, +1 after).  A piece
    at ``pos[ax] == -1`` sits *above* the destination, so it is this tile's
    LAST ``depth`` rows on that axis, and vice versa.
    """
    nd = len(grid)
    for d in product((-1, 0, 1), repeat=nd):
        if all(x == 0 for x in d):
            continue
        dest = tuple(l + x for l, x in zip(loc, d))
        if any(not (0 <= c < g) for c, g in zip(dest, grid)):
            continue
        pos = tuple(-x for x in d)
        sel = []
        for ax in range(nd):
            if pos[ax] == -1:
                sel.append(slice(tile.shape[ax] - depth[ax], None))
            elif pos[ax] == 1:
                sel.append(slice(0, depth[ax]))
            else:
                sel.append(slice(None))
        yield dest, pos, tile[tuple(sel)]


def assemble_expanded(center: np.ndarray, loc: Sequence[int],
                      grid: Sequence[int],
                      pieces: Dict[Loc, np.ndarray]) -> np.ndarray:
    """Assemble a tile's halo-expanded view from its own data plus received
    neighbor margins (``pieces`` keyed by assembly position)."""
    nd = len(grid)
    axis_positions: List[List[int]] = []
    for ax in range(nd):
        vals = []
        if loc[ax] > 0:
            vals.append(-1)
        vals.append(0)
        if loc[ax] < grid[ax] - 1:
            vals.append(1)
        axis_positions.append(vals)

    def build(ax: int, prefix: Loc):
        if ax == nd:
            return center if all(p == 0 for p in prefix) else pieces[prefix]
        return [build(ax + 1, prefix + (p,)) for p in axis_positions[ax]]

    return np.block(build(0, ()))


def pad_tile(tile: np.ndarray, target_shape: Sequence[int]) -> np.ndarray:
    """Zero-pad a (possibly smaller edge) tile at the high side of each axis
    up to the chunk shape (reference ``relabeling.py:169-180``)."""
    if tuple(tile.shape) == tuple(target_shape):
        return tile
    pad = [(0, t - s) for s, t in zip(tile.shape, target_shape)]
    return np.pad(tile, pad)


def trim_halo(tile: np.ndarray, loc: Sequence[int], grid: Sequence[int],
              overlaps: Sequence[int]) -> np.ndarray:
    """Strip a tile's halo (inner sides only)."""
    # `-ov or None`: zero overlap must not become slice(0, -0) == empty
    sel = tuple(slice(ov if c > 0 else 0,
                      (-ov or None) if c < g - 1 else None)
                for c, g, ov in zip(loc, grid, overlaps))
    return tile[sel]


def unpad_tile(tile: np.ndarray, loc: Sequence[int],
               chunk_shape: Sequence[int],
               image_shape: Sequence[int]) -> np.ndarray:
    """Inverse of ``pad_tile``: shrink an edge tile back to its part of
    the image (reference ``relabeling.py:237-240``)."""
    sel = tuple(slice(0, min((l + 1) * c, s) - l * c)
                for l, c, s in zip(loc, chunk_shape, image_shape))
    return tile[sel]


def tile_origin(loc: Sequence[int], grid: Sequence[int],
                chunk_shape: Sequence[int],
                overlaps: Sequence[int]) -> Loc:
    """Start of an overlapped tile in the overlapped array's coordinates.

    Axis extent of tile r is ``chunk + halo_lo + halo_hi``; origins are the
    prefix sums.  Needed by the annotation kernel for global offsets.
    """
    origin = []
    for c, g, cs, ov in zip(loc, grid, chunk_shape, overlaps):
        start = 0
        for r in range(c):
            start += cs + (ov if r > 0 else 0) + (ov if r < g - 1 else 0)
        origin.append(start)
    return tuple(origin)
