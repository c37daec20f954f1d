"""GeoJSON annotation operator and the zip sink.

``annotate_labeled_tiles`` turns each deduped label tile into one GeoJSON
FeatureCollection (reference ``relabeling.py:102-123``); the result is a
DataFrame of ``(tile key, annotation JSON string)`` — a *structured* column,
so downstream consumers can ``from_json`` it into the nested struct schema
(FIXTURES.md) or write it out as-is.

``zip_annotated_tiles`` reproduces the reference sink
(``relabeling.py:126-163``): one ``{cy}-{cx}.geojson`` file per non-empty
tile, zipped (DEFLATE-9).  Files are written executor-side (shared
filesystem assumed, as any Spark file sink does); only the written *paths*
are collected for the driver-side zip step.
"""
from __future__ import annotations

import os
import pathlib
import shutil
import zipfile
from datetime import datetime
from typing import Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernels.stages import annotate_stage
from ..sources.tiles import TileSet
from .halo import map_tiles_records

ANNOTATION_SCHEMA = T.StructType([
    T.StructField("cz", T.IntegerType(), True),
    T.StructField("cy", T.IntegerType(), False),
    T.StructField("cx", T.IntegerType(), False),
    T.StructField("annotation", T.StringType(), True),
])

# Spark-typed view of one FeatureCollection, for F.from_json consumers
GEOJSON_SPARK_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("features", T.ArrayType(T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("geometry", T.StructType([
            T.StructField("type", T.StringType()),
            T.StructField("coordinates", T.ArrayType(
                T.ArrayType(T.ArrayType(T.LongType())))),
        ])),
        T.StructField("properties", T.StructType([
            T.StructField("objectType", T.StringType()),
        ])),
    ]))),
])


def annotate_labeled_tiles(ts: TileSet,
                           object_classes: Optional[dict] = None
                           ) -> DataFrame:
    """Per-tile GeoJSON FeatureCollection; NULL for empty tiles (the
    reference's scalar ``0`` sentinel, ``utils.py:182-186``).

    2D matches the reference goldens byte-for-byte.  3D is an EXTENSION
    (the reference's own 3D path cannot execute — its tests pass
    ``annotations_output=None``, ``tests/fixtures.py:93``): each 3D
    object is annotated by the 2D contour of its (y, x) footprint plus
    an inclusive ``zRange`` property
    (``kernels/annotate.py::labels_to_annotations_3d``)."""
    if ts.nd not in (2, 3):
        raise NotImplementedError(f"annotation supports 2D/3D, got {ts.nd}D")
    return map_tiles_records(
        ts, annotate_stage(ts.grid, ts.chunk_shape, ts.overlaps,
                           object_classes), ANNOTATION_SCHEMA)


def zip_annotated_tiles(annotations: DataFrame,
                        out_dir: Union[str, pathlib.Path, None] = None
                        ) -> pathlib.Path:
    """Write per-tile ``.geojson`` files and zip them (reference
    ``relabeling.py:126-163``, including the out-dir conventions: a fresh
    directory is removed after zipping, a pre-existing one is kept)."""
    if out_dir is None:
        out_dir = "./annotations_output-" + \
            datetime.now().strftime("%Y%m%d-%H%M%S")
    out_dir = pathlib.Path(out_dir)
    safe_to_remove = False
    if not out_dir.is_dir():
        os.makedirs(out_dir, exist_ok=True)
        safe_to_remove = True

    out_dir_str = str(out_dir)

    def write_partition(rows):
        written = []
        for row in rows:
            if row.annotation is None:
                continue
            loc = [row.cz, row.cy, row.cx]
            name = "-".join(str(c) for c in loc if c is not None)
            path = os.path.join(out_dir_str, name + ".geojson")
            with open(path, "w") as fp:
                fp.write(row.annotation)
            written.append(path)
        return iter(written)

    paths = annotations.rdd.mapPartitions(write_partition).collect()

    out_zip = pathlib.Path(out_dir_str + ".zip")
    with zipfile.ZipFile(out_zip, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=9) as zf:
        for p in sorted(paths):
            zf.write(p, arcname=os.path.relpath(p, out_dir_str))

    if safe_to_remove and out_dir.is_dir():
        shutil.rmtree(out_dir)
    return out_zip
