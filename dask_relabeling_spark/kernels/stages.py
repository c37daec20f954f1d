"""Stage kernels of the tile pipeline, each defined once.

A stage kernel is ``fn(tile, cls, loc) -> (tile, cls)`` — one tile, its
optional classes planes ``(nclasses, *spatial)`` and its grid location —
built by a factory that closes over the stage's static parameters (grid,
overlaps, chunk shape, ...), never over a TileSet.  The staged operators
run one kernel per Spark pass (``operators/halo.map_tiles``); the fused
chains of ``operators/pipeline.py`` call the same kernels back to back
inside one pass, so both produce the same bytes.  ``annotate_stage`` is
the terminal exception: it returns the tile's annotation record.
"""
from __future__ import annotations

import json
from typing import Optional

import numpy as np

from .annotate import (annotation_offset, annotation_offset_nd,
                       labels_to_annotations, labels_to_annotations_3d)
from .halo import pad_tile, tile_origin, trim_halo, unpad_tile
from .relabel import (merge_tiles, remove_overlapped_objects,
                      zero_classes_where_removed)


def per_plane(cls: Optional[np.ndarray], fn) -> Optional[np.ndarray]:
    """Apply a spatial kernel to every classes plane; ``None`` (no
    classes) passes through."""
    return None if cls is None else np.stack([fn(p) for p in cls])


def pad_stage(chunk):
    """Zero-pad a tile and its classes up to the chunk shape (reference
    ``relabeling.py:169-183``)."""
    def pad(tile, cls, loc):
        return (pad_tile(tile, chunk),
                per_plane(cls, lambda p: pad_tile(p, chunk)))
    return pad


def trim_stage(grid, overlaps):
    """Strip the halo of a tile and its classes (``trim_halo``)."""
    def trim(tile, cls, loc):
        return (trim_halo(tile, loc, grid, overlaps),
                per_plane(cls, lambda p: trim_halo(p, loc, grid, overlaps)))
    return trim


def crop_stage(chunk, image_shape):
    """Drop the chunk-multiple pad of a tile and its classes
    (``unpad_tile``)."""
    def crop(tile, cls, loc):
        return (unpad_tile(tile, loc, chunk, image_shape),
                per_plane(cls, lambda p: unpad_tile(p, loc, chunk,
                                                    image_shape)))
    return crop


def split_seg_output(out, returns_classes: bool):
    """Normalize a segmentation function's output to (labels, classes):
    plane 0 is labels when the fn returns a stacked classes array
    (reference contract, ``relabeling.py:22-24``)."""
    out = np.asarray(out)
    if returns_classes:
        return out[0].astype(np.int64), out[1:].astype(np.int64)
    return out.astype(np.int64), None


def segment_stage(fn, kwargs: dict, returns_classes: bool):
    """Run the segmentation function on one tile; its output replaces
    the incoming classes."""
    def segment(tile, cls, loc):
        return split_seg_output(fn(tile, **kwargs), returns_classes)
    return segment


def dedup_stage(grid, overlaps, threshold: float):
    """Border dedup + deterministic global offset
    (``remove_overlapped_objects``), with the classes zeroed where labels
    were removed."""
    def dedup(tile, cls, loc):
        removed = remove_overlapped_objects(tile, overlaps, threshold, loc,
                                            grid)
        return removed, per_plane(
            cls, lambda p: zero_classes_where_removed(removed, p))
    return dedup


def merge_stage(grid, overlaps):
    """Paste the neighbors' labels into a halo-expanded tile
    (``merge_tiles``), returning it at the pre-exchange geometry with its
    classes split off again."""
    def merge(expanded, cls, loc):
        merged = merge_tiles(expanded, overlaps, loc, grid, classes=cls)
        if cls is not None:
            return merged[0], merged[1:]
        return merged, None
    return merge


def annotate_stage(grid, chunk, overlaps,
                   object_classes: Optional[dict] = None):
    """Terminal kernel: one deduped label tile -> ``[record]``, its
    GeoJSON FeatureCollection in global image coordinates under the tile
    key (NULL for an empty tile, the reference's scalar-0 sentinel).
    3D tiles take the footprint-contour + ``zRange`` extension."""
    if object_classes is None:
        object_classes = {0: "cell"}

    def annotate(tile, cls, loc):
        origin = tile_origin(loc, grid, chunk, overlaps)
        if tile.ndim == 2:
            off = annotation_offset(loc, origin, overlaps)
            ann = labels_to_annotations(tile, object_classes,
                                        classes=cls, offset=off)
        else:
            off = annotation_offset_nd(loc, origin, overlaps)
            ann = labels_to_annotations_3d(tile, object_classes,
                                           classes=cls, offset=off)
        return [{"cz": loc[0] if len(loc) == 3 else None,
                 "cy": loc[-2], "cx": loc[-1],
                 "annotation": None if ann is None else json.dumps(ann)}]

    return annotate
