"""Per-tile relabeling kernels: border dedup (remove) and merge.

These are the numerical hearts of the pipeline, re-derived from the reference
semantics (``/root/reference/relabel/chunkops.py:11-101`` and ``:116-189``)
but vectorized: the reference runs an O(labels^2) scan (`==` per label inside
Python loops); here label statistics come from ``np.unique(return_counts)``
and membership tests from ``np.searchsorted``, so cost is O(pixels + labels
log labels) per tile — the difference between usable and not at real tile
sizes inside an Arrow-batched UDF.
"""
from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np

from ..grid import (chunk_label_offset, core_slice, dest_slice,
                    merging_regions, overlap_regions, region_dim,
                    source_slice)


def remove_overlapped_objects(labeled: np.ndarray, overlaps: Sequence[int],
                              threshold: float, chunk_loc: Sequence[int],
                              grid: Sequence[int]) -> np.ndarray:
    """Drop border objects owned by a neighbor; offset survivors globally.

    Semantics (reference ``chunkops.py:11-101``):

    * every label is scored by the fraction of its area inside the chunk core
      (the tile minus its halo).  ``> 1-threshold`` -> definitely keep,
      ``< threshold`` -> definitely drop (float32 arithmetic, as reference);
    * for every face/edge/vertex shared with a neighbor, labels present in
      that halo region are claimed by checkerboard parity: dropped iff ANY
      constrained axis of this chunk's grid coordinate is odd.  Regions are
      visited in decreasing dimensionality and a claim only upgrades a label
      whose current |mark| is strictly smaller (first-writer-wins per dim);
    * survivors get ``ravel_index(loc, grid) * (2**31 // n_chunks + 2**31)``
      added — a deterministic, coordination-free global id (no shuffle).

    Returns int64 labels, same shape.
    """
    nd = len(overlaps)
    core_sel = tuple(core_slice(c, g, ov)
                     for c, g, ov in zip(chunk_loc, grid, overlaps))

    # Pipeline tiles carry DENSE ccl ids (1..N), so label statistics come
    # from O(pixels) bincounts and membership from O(region) lookup tables
    # — no O(pixels log pixels) sorts in the per-tile hot path.  Sparse or
    # negative label sets (user-supplied labels2geojson inputs) fall back
    # to the sort-based formulation with identical semantics.
    mn = int(labeled.min()) if labeled.size else 0
    mx = int(labeled.max()) if labeled.size else 0
    if mn >= 0 and mx <= 4 * labeled.size:
        nbins = mx + 1
        total = np.bincount(labeled.ravel(), minlength=nbins)
        core = np.bincount(labeled[core_sel].ravel(), minlength=nbins)
        with np.errstate(invalid="ignore", divide="ignore"):
            # float32 division, as the reference (absent bins yield NaN;
            # every NaN comparison below is False, so they stay mark 0 and
            # are never indexed by a present label anyway)
            prop = core.astype(np.float32) / total.astype(np.float32)
        mark = np.zeros(nbins, dtype=np.int8)
        mark[prop > (1 - threshold)] = nd + 1
        mark[prop < threshold] = -(nd + 1)

        for region in overlap_regions(chunk_loc, grid, nd):
            # an axis with zero overlap has no halo: regions constraining
            # it do not exist (without this, source_slice(ov=0) selects
            # the WHOLE axis and parity claims every label on it)
            if any(lvl is not None and overlaps[ax] == 0
                   for ax, lvl in enumerate(region)):
                continue
            drop = any(chunk_loc[ax] % 2 != 0
                       for ax, lvl in enumerate(region) if lvl is not None)
            rdim = region_dim(region)
            out_sel = tuple(source_slice(c, g, ov, lvl)
                            for c, g, ov, lvl
                            in zip(chunk_loc, grid, overlaps, region))
            present = np.bincount(labeled[out_sel].ravel(),
                                  minlength=nbins) > 0
            present[0] = False
            upd = present & (prop >= threshold) & (np.abs(mark) < rdim)
            mark[upd] = (-rdim) if drop else rdim

        out = labeled.astype(np.int64, copy=True)
        if np.any(mark < 0):
            out[(mark < 0)[labeled]] = 0
        offset = chunk_label_offset(chunk_loc, grid)
        out[out != 0] += offset
        return out

    labels_sorted, total = np.unique(labeled, return_counts=True)
    core_vals, core_counts = np.unique(labeled[core_sel], return_counts=True)
    core_sum = np.zeros(len(labels_sorted), dtype=np.float32)
    core_sum[np.searchsorted(labels_sorted, core_vals)] = core_counts

    prop = core_sum / total.astype(np.float32)
    mark = np.zeros(len(labels_sorted), dtype=np.int8)
    mark[prop > (1 - threshold)] = nd + 1
    mark[prop < threshold] = -(nd + 1)

    for region in overlap_regions(chunk_loc, grid, nd):
        if any(lvl is not None and overlaps[ax] == 0
               for ax, lvl in enumerate(region)):
            continue
        drop = any(chunk_loc[ax] % 2 != 0
                   for ax, lvl in enumerate(region) if lvl is not None)
        rdim = region_dim(region)
        out_sel = tuple(source_slice(c, g, ov, lvl)
                        for c, g, ov, lvl
                        in zip(chunk_loc, grid, overlaps, region))
        present = np.unique(labeled[out_sel])
        present = present[present != 0]
        if len(present) == 0:
            continue
        pos = np.searchsorted(labels_sorted, present)
        upd = (prop[pos] >= threshold) & (np.abs(mark[pos]) < rdim)
        mark[pos[upd]] = (-rdim) if drop else rdim

    dropped = labels_sorted[mark < 0]
    out = labeled.astype(np.int64, copy=True)
    if len(dropped):
        out[np.isin(labeled, dropped)] = 0

    offset = chunk_label_offset(chunk_loc, grid)
    out[out != 0] += offset
    return out


def merge_tiles(expanded: np.ndarray, overlaps: Sequence[int],
                chunk_loc: Sequence[int], grid: Sequence[int],
                classes: Optional[np.ndarray] = None) -> np.ndarray:
    """Paste neighbor-owned border objects into this tile.

    ``expanded`` is the tile's halo-of-halo view: its (deduped, offset) tile
    plus ``overlaps`` pixels contributed by each inner-side neighbor — what
    dask's ``map_overlap(depth=overlaps, boundary=None)`` hands the reference
    kernel (``chunkops.py:116-189``).  For every merging region (this chunk's
    coordinate odd on a constrained axis — the side that dropped), nonzero
    labels from the neighbor's contribution are pasted over the corresponding
    position of this tile.  Classes planes (leading axis of ``classes``)
    follow the label mask.

    Returns the tile with the exchange halo stripped (original tile shape).
    """
    nd = len(overlaps)
    core_sel = tuple(core_slice(c, g, ov)
                     for c, g, ov in zip(chunk_loc, grid, overlaps))
    merged = expanded[core_sel].copy()
    merged_classes = None
    if classes is not None:
        merged_classes = classes[(slice(None),) + core_sel].copy()

    for region in merging_regions(chunk_loc, grid, nd):
        if any(lvl is not None and overlaps[ax] == 0
               for ax, lvl in enumerate(region)):
            continue  # zero-overlap axis: no halo, nothing to pull
        dst = tuple(dest_slice(c, g, ov, lvl)
                    for c, g, ov, lvl
                    in zip(chunk_loc, grid, overlaps, region))
        src = tuple(source_slice(c, g, ov, lvl)
                    for c, g, ov, lvl
                    in zip(chunk_loc, grid, overlaps, region))
        src_data = expanded[src]
        fg = src_data != 0
        if not fg.any():
            continue
        merged[dst][fg] = src_data[fg]
        if merged_classes is not None:
            src_classes = classes[(slice(None),) + src]
            dst_view = merged_classes[(slice(None),) + dst]
            np.copyto(dst_view, src_classes,
                      where=np.broadcast_to(fg, src_classes.shape))

    if merged_classes is not None:
        return np.concatenate((merged[None, ...], merged_classes), axis=0)
    return merged


def zero_classes_where_removed(removed: np.ndarray,
                               classes: np.ndarray) -> np.ndarray:
    """Classes plane follows label removal (reference ``relabeling.py:71``)."""
    return np.where(removed != 0, classes, 0)


def sort_indices(labeled: np.ndarray,
                 sorted_unique: np.ndarray) -> np.ndarray:
    """Map labels to their rank in the globally-sorted unique label list.

    Vectorized replacement for the reference's O(L^2) ``list.index`` scan
    (``chunkops.py:104-113``): ``np.searchsorted`` against the (already
    sorted) global dictionary.  A label absent from the dictionary raises
    ``ValueError`` naming it (the reference's ``list.index`` raises too);
    a bare ``searchsorted`` would hand it a neighbour's rank silently.
    """
    ranks = np.searchsorted(sorted_unique, labeled)
    found = np.take(sorted_unique, ranks, mode="clip") == labeled
    if not found.all():
        missing = np.unique(labeled[~found])
        raise ValueError(f"{missing.size} label(s) missing from the sorted "
                         f"label dictionary: {missing[:8].tolist()}")
    return ranks.astype(labeled.dtype)
