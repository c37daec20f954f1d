"""Relabeling pipeline operators: segment, dedup (remove), merge, sort.

Each operator is a thin Spark wrapper over a pure-NumPy kernel from
``dask_relabeling_spark.kernels``; physical shapes:

* ``segment`` / ``remove``: narrow ``mapInPandas`` — zero shuffles, the
  kernels fuse into one Python stage per tile;
* ``merge``: one halo exchange (margins shuffle) feeding the paste kernel;
* ``sort_label_indices``: distributed ``explode -> distinct`` for the global
  label dictionary (partial + final hash agg; never ships pixels to the
  driver — only the distinct label set), then a broadcast of the sorted
  dictionary into a narrow remap.  This replaces the reference's explicit
  driver-side barrier (``relabeling.py:331``) and its O(L^2) ``list.index``
  remap (``chunkops.py:104-113``).

The segment, dedup and merge stage kernels come from
``kernels/stages.py``, shared with the fused chains in
``operators/pipeline.py``; every per-tile pass runs through
``operators/halo._per_tile``.
"""
from __future__ import annotations

from typing import Callable, Optional

import numpy as np
from pyspark.sql import functions as F

from ..kernels.ccl import segment_fn as default_segment_fn
from ..kernels.relabel import sort_indices
from ..kernels.stages import (dedup_stage, merge_stage, segment_stage,
                              split_seg_output)
from ..sources.tiles import (TILE_SCHEMA, TileSet, key_cols, pdf_classes,
                             pdf_tile, tile_record)
from .halo import _per_tile, halo_exchange, map_tiles, trim_overlap


def segment_overlapped_input(ts: TileSet,
                             seg_fn: Optional[Callable] = None,
                             returns_classes: bool = False,
                             segmentation_fn_kwargs: Optional[dict] = None,
                             extra_tiles: Optional[dict] = None) -> TileSet:
    """Run the user segmentation function independently per (overlapped)
    tile (reference ``relabeling.py:14-47``).

    ``seg_fn(tile, **kwargs) -> int32 labels`` — or, with
    ``returns_classes``, a stacked ``(1 + nclasses, *spatial)`` array whose
    plane 0 is labels.  ``extra_tiles`` maps kwarg names to other TileSets
    already aligned chunk-wise (the reference's dask-array kwargs,
    ``relabeling.py:28-36``); they are equi-joined on the tile key before
    the UDF, so alignment costs one co-partitioned join, not a new shuffle
    pattern.
    """
    fn = seg_fn or default_segment_fn
    kwargs = dict(segmentation_fn_kwargs or {})
    if extra_tiles:
        return _segment_with_aligned_kwargs(ts, fn, kwargs, returns_classes,
                                            extra_tiles)
    return map_tiles(ts, segment_stage(fn, kwargs, returns_classes))


def _segment_with_aligned_kwargs(ts: TileSet, fn, kwargs: dict,
                                 returns_classes: bool,
                                 extra_tiles: dict) -> TileSet:
    """Chunk-aligned array kwargs: each extra TileSet equi-joins on the tile
    key (both sides hash-partition on the same integer key, so with
    co-partitioned inputs this is a single co-located shuffle), and its
    payload becomes an ndarray kwarg of the segmentation function —
    the reference's dask-array kwarg threading (``relabeling.py:28-36``).
    """
    nd = ts.nd
    keys = key_cols(nd)
    names = sorted(extra_tiles)
    df = ts.df
    for name in names:
        other_df = extra_tiles[name].df.select(
            *keys, F.col("data").alias(f"kw_{name}"))
        df = df.join(other_df, on=keys)

    def segment(row, loc):
        tile = pdf_tile(row, nd)
        extra = {name: np.asarray(row[f"kw_{name}"],
                                  dtype=np.int64).reshape(tile.shape)
                 for name in names}
        return [tile_record(loc, *split_seg_output(
            fn(tile, **extra, **kwargs), returns_classes))]

    return ts.with_df(_per_tile(df, nd, ts.grid, segment, TILE_SCHEMA))


def remove_overlapped_labels(ts: TileSet, threshold: float = 0.5
                             ) -> TileSet:
    """Border dedup + deterministic global offset (narrow, no shuffle).
    Reference ``relabeling.py:50-76``."""
    return map_tiles(ts, dedup_stage(ts.grid, ts.overlaps, threshold))


def merge_overlapped_tiles(ts: TileSet) -> TileSet:
    """Second halo exchange + neighbor paste + trim (one shuffle).
    Reference ``relabeling.py:79-99``."""
    ov = ts.overlaps
    merged = map_tiles(halo_exchange(ts, ov), merge_stage(ts.grid, ov))
    # merge_kernel already stripped the exchange halo; tiles are back to the
    # pre-exchange (prepare-overlapped) geometry
    merged = merged.with_df(merged.df, overlaps=ov)
    return trim_overlap(merged)


def sort_label_indices(ts: TileSet, distributed: bool = False) -> TileSet:
    """Dense re-index of all labels to 0..N in sorted order.

    Default path: global dictionary = ``explode(data) -> distinct``
    (distributed partial + final aggregation); only the distinct labels
    (tiny vs pixels) reach the driver, are sorted, and ship back inside
    the remap closure — the Spark rendition of a broadcast join against a
    ``dense_rank`` dictionary.  Reference ``relabeling.py:312-346``.

    ``distributed=True`` is the scale path for when even the distinct
    label set is too large to collect/broadcast: dense ids come from
    ``functions.ids.dense_ids`` (range-partitioned two-pass indexing — no
    single-partition window, no driver materialization), each tile joins
    only ITS OWN labels' dictionary entries back (shuffle is O(distinct
    labels per tile), not O(global dictionary) per task), and the remap
    runs per tile against that local fragment.  Results are identical.
    """
    if not distributed:
        uniq = (ts.df.select(F.explode("data").alias("label"))
                .distinct().collect())
        dictionary = np.sort(np.array([r.label for r in uniq],
                                      dtype=np.int64))
        bc = ts.df.sparkSession.sparkContext.broadcast(dictionary)

        def fn(tile, cls, loc):
            return sort_indices(tile, bc.value), cls

        return map_tiles(ts, fn)

    from ..functions.ids import dense_ids
    nd = ts.nd
    keys = key_cols(nd)
    tile_labels = (ts.df.select(*keys, F.explode("data").alias("label"))
                   .distinct())
    dictionary = dense_ids(tile_labels.select("label").distinct(), "label")
    frag = (tile_labels.join(dictionary, "label")
            .groupBy(*keys)
            .agg(F.sort_array(F.collect_list(
                F.struct("label", "id"))).alias("_dict")))
    joined = ts.df.join(frag, list(keys))

    def remap(row, loc):
        tile = pdf_tile(row, nd)
        cls = pdf_classes(row, nd)
        ents = row["_dict"]
        labs = np.array([e["label"] for e in ents], dtype=np.int64)
        ids = np.array([e["id"] for e in ents], dtype=np.int64)
        remapped = ids[np.searchsorted(labs, tile)].astype(tile.dtype)
        return [tile_record(loc, remapped, cls)]

    return ts.with_df(_per_tile(joined, nd, ts.grid, remap, TILE_SCHEMA))
