"""Workloads of the tile-pipeline benchmark: seeded inputs, the timed op,
a single-process NumPy replay of the same tiles, and the oracles that
compare the op's output against the replay.

The replay drives the library's pure-NumPy kernels tile by tile, the way
``tests/test_kernels_golden.py`` does: pad -> margin exchange -> segment
-> remove_overlapped_objects -> margin exchange -> merge_tiles ->
trim_halo -> sort_indices (labels), or pad -> exchange -> segment ->
remove -> labels_to_annotations (GeoJSON).  It is also the plain
single-threaded baseline whose per-kernel times the traced run reports.
"""
from __future__ import annotations

import json
import os
import time
import zipfile
from dataclasses import dataclass, replace
from typing import Callable, Dict, List, Optional, Tuple

import numpy as np

from dask_relabeling_spark.kernels.annotate import (
    annotation_offset, annotation_offset_nd, labels_to_annotations,
    labels_to_annotations_3d)
from dask_relabeling_spark.kernels.ccl import label as ccl_label
from dask_relabeling_spark.kernels.ccl import segment_fn
from dask_relabeling_spark.kernels.halo import (assemble_expanded,
                                                margin_pieces, pad_tile,
                                                tile_origin, trim_halo)
from dask_relabeling_spark.kernels.relabel import (merge_tiles,
                                                   remove_overlapped_objects,
                                                   sort_indices)

Loc = Tuple[int, ...]

# The "model" of labels3d_model_seg: box blurs, a threshold, then CCL.
# BLUR_PASSES sizes one call to about 0.04 s per halo-expanded tile in one
# NumPy process; each op makes eight such calls (the sort's dictionary
# collect runs the segmentation a second time).  Heavier models add their
# cost linearly while the kernel stages run as single tasks, and the op
# must stay short enough for several samples in a run.
BLUR_PASSES = 3
MODEL_THRESHOLD = 600.0


def _box3(x: np.ndarray, axis: int) -> np.ndarray:
    """3-wide mean along ``axis`` with edge replication."""
    x = np.moveaxis(x, axis, 0)
    out = x.copy()
    out[1:-1] += x[:-2]
    out[1:-1] += x[2:]
    out[0] += x[0] + x[1]
    out[-1] += x[-2] + x[-1]
    out *= np.float32(1.0 / 3.0)
    return np.moveaxis(out, 0, axis)


def model_seg(tile: np.ndarray) -> np.ndarray:
    """Deterministic NumPy segmentation model: blur, threshold, label."""
    x = tile.astype(np.float32)
    for _ in range(BLUR_PASSES):
        for ax in range(x.ndim):
            x = _box3(x, ax)
    return ccl_label(x > MODEL_THRESHOLD)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                   # "labels" or "geojson"
    shape: Tuple[int, ...]
    chunk: Tuple[int, ...]
    overlaps: Tuple[int, ...]
    threshold: float
    seg: Optional[Callable]     # None = the library default (CCL)
    cell: int                   # generator: one object per jittered cell
    margin: int                 # generator: min gap to the cell wall
    radius: Tuple[int, int]     # generator: object radius range
    warmup_ops: int             # untimed ops before the window (set-up)

    @property
    def nd(self) -> int:
        return len(self.shape)

    @property
    def grid(self) -> Loc:
        return tuple(-(-s // c) for s, c in zip(self.shape, self.chunk))

    @property
    def pixels(self) -> int:
        return int(np.prod(self.shape))


WORKLOADS: Dict[str, Workload] = {w.name: w for w in [
    # 64 tiles on the salted exchange with cheap CCL kernels: per-tile
    # orchestration, the sort and tile-store IO set the wall.  Runnable,
    # and covered by the self-test; not in BENCHMARK.json, whose run
    # budget fits two workloads.
    Workload("labels2d_many_tiles", "labels", (1024, 1024), (128, 128),
             (16, 16), 0.05, None, cell=15, margin=1, radius=(2, 6),
             warmup_ops=2),
    # The paper's regime: BASELINE.md's 2x2 grid with halos half a tile
    # wide, on the plain groupBy path, with a model segmenter: few large
    # tiles, CPU-heavy kernels, few tasks.  Tiles of 30x96x96 rather than
    # its 60x128x128: the op's ~4 s floor is fixed cost, so the smaller
    # volume barely shortens it but fits more ops in the window.
    Workload("labels3d_model_seg", "labels", (30, 192, 192),
             (30, 96, 96), (0, 48, 48), 0.05, model_seg, cell=24,
             margin=3, radius=(4, 8), warmup_ops=2),
    # 256 small tiles on the salted exchange: one halo exchange with no
    # merge or sort, then contour tracing and a zip file sink.
    Workload("geojson2d_export", "geojson", (1024, 1024), (64, 64),
             (16, 16), 0.5, None, cell=15, margin=1, radius=(2, 6),
             warmup_ops=4),
]}

# Small geometries of the same workloads, for the self-test.
TINY: Dict[str, Workload] = {
    "labels2d_many_tiles": replace(WORKLOADS["labels2d_many_tiles"],
                                   shape=(120, 136), chunk=(32, 32)),
    "labels3d_model_seg": replace(WORKLOADS["labels3d_model_seg"],
                                  shape=(20, 96, 96), chunk=(20, 48, 48),
                                  overlaps=(0, 24, 24)),
    "geojson2d_export": replace(WORKLOADS["geojson2d_export"],
                                shape=(100, 120), chunk=(32, 32)),
}


# ---------------------------------------------------------------- inputs

class ContractError(RuntimeError):
    """The generated input breaks the pipeline's one-hop contract."""


def make_input(w: Workload, seed: int) -> np.ndarray:
    """Seeded input image: non-touching balls on jittered cells (a binary
    mask in 2D; a uint16 volume with uniform noise in 3D).  Each workload
    draws from its own stream of ``seed``.  Raises ``ContractError``
    instead of re-drawing when objects touch or one is wider than the
    overlap on a tiled axis."""
    index = list(WORKLOADS).index(w.name)
    rng = np.random.default_rng([seed, index])
    centers, radii = _jittered_balls(rng, w)
    mask, n_objects = _paint_balls(w.shape, centers, radii)
    check_one_hop(mask, n_objects, w)
    if w.nd == 2:
        return mask.astype(np.int64)
    noise = rng.integers(0, 400, size=w.shape, dtype=np.uint16)
    return (mask.astype(np.uint16) * 1000 + noise).astype(np.int64)


def _jittered_balls(rng, w: Workload):
    rmin, rmax = w.radius
    if w.cell - 2 * w.margin < 2 * rmax + 1:
        raise ContractError(f"{w.name}: cell {w.cell} cannot hold a ball "
                            f"of radius {rmax} with margin {w.margin}")
    counts = [s // w.cell + 2 for s in w.shape]
    n = int(np.prod(counts))
    keep = rng.random(n) < 0.8
    r = rng.integers(rmin, rmax + 1, n)
    jitter = rng.random((n, w.nd))
    offset = rng.integers(0, w.cell, w.nd)
    idx = np.stack(np.unravel_index(np.arange(n), counts), axis=1)
    slack = w.cell - 2 * w.margin - (2 * r + 1)
    centers = ((idx - 1) * w.cell + offset + w.margin + r[:, None]
               + np.floor(jitter * (slack[:, None] + 1)).astype(np.int64))
    return centers[keep], r[keep]


def _paint_balls(shape, centers, radii) -> Tuple[np.ndarray, int]:
    mask = np.zeros(shape, dtype=bool)
    painted = 0
    for c, r in zip(centers, radii):
        lo = np.maximum(c - r, 0)
        hi = np.minimum(c + r + 1, shape)
        if np.any(hi <= lo):
            continue
        grids = np.ogrid[tuple(slice(a, b) for a, b in zip(lo, hi))]
        ball = sum((g - ci) ** 2 for g, ci in zip(grids, c)) <= r * r
        if ball.any():
            mask[tuple(slice(a, b) for a, b in zip(lo, hi))] |= ball
            painted += 1
    return mask, painted


def check_one_hop(mask: np.ndarray, n_objects: int, w: Workload) -> None:
    """Objects must not touch (one component per painted ball) and each
    must fit in the overlap on every axis that has more than one tile."""
    comps = ccl_label(mask)
    n = int(comps.max())
    if n != n_objects:
        raise ContractError(f"{w.name}: {n_objects} balls painted but "
                            f"{n} components found: objects touch")
    if n == 0:
        return
    coords = np.nonzero(comps)
    ids = comps[coords] - 1
    for ax, (g, ov) in enumerate(zip(w.grid, w.overlaps)):
        if g == 1:
            continue
        lo = np.full(n, np.iinfo(np.int64).max)
        hi = np.full(n, -1)
        np.minimum.at(lo, ids, coords[ax])
        np.maximum.at(hi, ids, coords[ax])
        side = int((hi - lo + 1).max())
        if side > ov:
            raise ContractError(f"{w.name}: an object spans {side} px on "
                                f"axis {ax}, more than the overlap {ov}")


def split_tiles(img: np.ndarray, chunk) -> Dict[Loc, np.ndarray]:
    grid = tuple(-(-s // c) for s, c in zip(img.shape, chunk))
    return {loc: img[tuple(slice(l * c, (l + 1) * c)
                           for l, c in zip(loc, chunk))]
            for loc in np.ndindex(grid)}


# ---------------------------------------------------------------- replay

@dataclass
class Replay:
    expected: dict              # loc -> int64 tile, or "r-c" -> GeoJSON
    kernel_s: Dict[str, float]  # per-kernel single-threaded seconds
    counts: Dict[str, int]


def _exchange(tiles, grid, depth):
    inbox = {loc: {} for loc in tiles}
    for loc, tile in tiles.items():
        for dest, pos, piece in margin_pieces(tile, loc, grid, depth):
            inbox[dest][pos] = piece
    return {loc: assemble_expanded(tiles[loc], loc, grid, inbox[loc])
            for loc in tiles}


def replay(w: Workload, img: np.ndarray) -> Replay:
    """Run the workload's op on one core with the library's kernels."""
    grid, ov, chunk = w.grid, w.overlaps, w.chunk
    seg_fn = w.seg or segment_fn
    t: Dict[str, float] = {k: 0.0 for k in
                           ("segment", "remove", "exchange", "merge",
                            "sort", "annotate")}

    def timed(key, fn, *args):
        start = time.perf_counter()
        out = fn(*args)
        t[key] += time.perf_counter() - start
        return out

    tiles = {loc: pad_tile(tile, chunk)
             for loc, tile in split_tiles(img, chunk).items()}
    expanded = timed("exchange", _exchange, tiles, grid, ov)
    removed, dropped = {}, 0
    for loc, tile in expanded.items():
        seg = timed("segment",
                    lambda x: np.asarray(seg_fn(x)).astype(np.int64), tile)
        removed[loc] = timed("remove", remove_overlapped_objects, seg, ov,
                             w.threshold, loc, grid)
        dropped += len(np.unique(seg[seg != 0])) - len(
            np.unique(removed[loc][removed[loc] != 0]))
    counts = {"pixels": int(sum(e.size for e in expanded.values())),
              "objects_dropped": int(dropped)}

    if w.kind == "geojson":
        expected, objects = {}, 0
        for loc, tile in removed.items():
            origin = tile_origin(loc, grid, chunk, ov)
            if w.nd == 2:
                ann = timed("annotate", labels_to_annotations, tile,
                            {0: "cell"}, None,
                            annotation_offset(loc, origin, ov))
            else:
                ann = timed("annotate", labels_to_annotations_3d, tile,
                            {0: "cell"}, None,
                            annotation_offset_nd(loc, origin, ov))
            if ann is not None:
                expected["-".join(map(str, loc))] = json.loads(
                    json.dumps(ann))
                objects += len(ann["features"])
        counts["objects"] = objects
        return Replay(expected, t, counts)

    again = timed("exchange", _exchange, removed, grid, ov)
    trimmed = {}
    for loc, tile in again.items():
        merged = timed("merge", merge_tiles, tile, ov, loc, grid)
        merged = timed("merge", trim_halo, merged, loc, grid, ov)
        crop = tuple(slice(0, min((l + 1) * c, s) - l * c)
                     for l, c, s in zip(loc, chunk, w.shape))
        trimmed[loc] = merged[crop]
    dictionary = timed("sort", lambda: np.unique(np.concatenate(
        [x.ravel() for x in trimmed.values()])))
    expected = {loc: timed("sort", sort_indices, x, dictionary)
                for loc, x in trimmed.items()}
    counts["objects"] = int(np.count_nonzero(dictionary))
    return Replay(expected, t, counts)


# ---------------------------------------------------------------- oracles

def read_label_store(path: str, nd: int) -> Dict[Loc, np.ndarray]:
    """Tiles of a tile store, read with pyarrow (no Spark)."""
    import pyarrow.dataset as ds
    table = ds.dataset(path, format="parquet",
                       partitioning="hive").to_table()
    keys = (["cz"] if nd == 3 else []) + ["cy", "cx"]
    dims = (["d"] if nd == 3 else []) + ["h", "w"]
    cols = {c: table.column(c).to_pylist() for c in keys + dims}
    data = table.column("data").combine_chunks()
    offsets = data.offsets.to_numpy()
    values = data.values.to_numpy(zero_copy_only=False)
    out = {}
    for i in range(table.num_rows):
        loc = tuple(int(cols[c][i]) for c in keys)
        shape = tuple(int(cols[c][i]) for c in dims)
        out[loc] = values[offsets[i]:offsets[i + 1]].astype(
            np.int64).reshape(shape)
    return out


def check_labels(got: Dict[Loc, np.ndarray],
                 expected: Dict[Loc, np.ndarray]) -> List[str]:
    """Byte equality with the replay, tile by tile."""
    errors = []
    if set(got) != set(expected):
        errors.append(f"tile keys differ: {len(got)} written, "
                      f"{len(expected)} expected")
    for loc in sorted(set(got) & set(expected)):
        a, b = got[loc], expected[loc]
        if a.shape != b.shape or a.tobytes() != b.astype(a.dtype).tobytes():
            errors.append(f"tile {loc} differs from the replay")
    return errors


def assemble(tiles: Dict[Loc, np.ndarray], grid: Loc) -> np.ndarray:
    if len(grid) == 2:
        return np.block([[tiles[(y, x)] for x in range(grid[1])]
                         for y in range(grid[0])])
    return np.block([[[tiles[(z, y, x)] for x in range(grid[2])]
                      for y in range(grid[1])] for z in range(grid[0])])


def check_components(out: np.ndarray, mask: np.ndarray) -> List[str]:
    """Replay-free check against whole-image CCL: output foreground lies
    in input foreground, no label spans two components and no component
    carries two labels.  Pixel conservation is NOT required: the
    threshold/parity rule legitimately drops sub-threshold border tips."""
    errors = []
    if np.any((out != 0) & (mask == 0)):
        errors.append("output foreground outside input foreground")
    comps = ccl_label(mask)
    fg = out != 0
    pairs = np.unique(np.stack([out[fg], comps[fg]]), axis=1)
    if len(np.unique(pairs[0])) != pairs.shape[1]:
        errors.append("a label spans two input components")
    if len(np.unique(pairs[1])) != pairs.shape[1]:
        errors.append("an input component carries two labels")
    return errors


def read_zip(path: str) -> Dict[str, object]:
    out = {}
    with zipfile.ZipFile(path) as zf:
        for name in zf.namelist():
            out[os.path.splitext(name)[0]] = json.loads(zf.read(name))
    return out


def check_geojson(got: Dict[str, object],
                  expected: Dict[str, object]) -> List[str]:
    """Parsed-JSON equality per tile with the replay; tiles without
    objects must have no file."""
    errors = []
    if set(got) != set(expected):
        errors.append(f"annotated tiles differ: {sorted(set(got) ^ set(expected))[:5]}")
    for key in sorted(set(got) & set(expected)):
        if got[key] != expected[key]:
            errors.append(f"tile {key} GeoJSON differs from the replay")
    return errors
