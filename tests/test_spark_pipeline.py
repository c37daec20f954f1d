"""End-to-end Spark pipeline tests against the reference goldens — the
Spark rendition of reference tests/test_relabeling.py:193-304."""
import json
import stat
import zipfile

import numpy as np
import pytest

from dask_relabeling_spark import (from_tiles, image2geojson, image2labels,
                                   labels2geojson, sort_label_indices,
                                   to_array, to_tiles, zip_annotated_tiles)
from dask_relabeling_spark.operators.pipeline import prepare_input
from dask_relabeling_spark.operators.relabel_ops import (
    remove_overlapped_labels, segment_overlapped_input)
from dask_relabeling_spark.sources.tiles import load_npz_tiles

SAMPLES = "/root/reference/tests/samples"

CASES = {
    "2d": dict(grid=(4, 3), chunk=(4, 4), overlaps=(2, 2), threshold=0.25),
    "3d": dict(grid=(3, 2, 3), chunk=(5, 5, 5), overlaps=(2, 2, 2),
               threshold=0.125),
}


def golden_array(stage, dim, crop=None):
    grid = CASES[dim]["grid"]
    tiles = load_npz_tiles(f"{SAMPLES}/{stage}_{dim}.npz", grid)
    if len(grid) == 2:
        arr = np.block([[tiles[(y, x)] for x in range(grid[1])]
                        for y in range(grid[0])])
    else:
        arr = np.block([[[tiles[(z, y, x)] for x in range(grid[2])]
                         for y in range(grid[1])] for z in range(grid[0])])
    if crop:
        arr = arr[tuple(slice(0, s) for s in crop)]
    return arr


@pytest.mark.parametrize("dim", ["2d", "3d"])
def test_image2labels_golden(spark, dim):
    p = CASES[dim]
    inp = load_npz_tiles(f"{SAMPLES}/input_{dim}.npz", p["grid"])
    img_shape = tuple(
        sum(inp[tuple(r if ax == a else 0 for a, _ in enumerate(p["grid"]))]
            .shape[ax] for r in range(p["grid"][ax]))
        for ax in range(len(p["grid"])))
    ts = from_tiles(spark, inp, nd=len(p["grid"]), grid=p["grid"],
                    chunk_shape=p["chunk"], overlaps=(0,) * len(p["grid"]),
                    image_shape=img_shape)
    out = image2labels(ts, overlaps=list(p["overlaps"]),
                       threshold=p["threshold"])
    got = to_array(out)
    exp = golden_array("trim", dim, crop=img_shape)
    assert np.array_equal(got, exp)


def test_sort_label_indices_golden(spark):
    p = CASES["2d"]
    trim = load_npz_tiles(f"{SAMPLES}/trim_2d.npz", p["grid"])
    ts = from_tiles(spark, trim, nd=2, grid=p["grid"],
                    chunk_shape=p["chunk"], overlaps=(0, 0),
                    image_shape=(16, 12))
    got = to_tiles(sort_label_indices(ts))
    exp = load_npz_tiles(f"{SAMPLES}/sort_2d.npz", p["grid"])
    for loc in exp:
        assert np.array_equal(got[loc], exp[loc]), loc


def test_labels2geojson_from_labels_golden(spark):
    """pre_overlapped=False: existing labels re-observed through a fresh
    halo exchange before dedup+annotate (reference
    tests/test_relabeling.py:261-285)."""
    p = CASES["2d"]
    trim = load_npz_tiles(f"{SAMPLES}/trim_2d.npz", p["grid"])
    ts = from_tiles(spark, trim, nd=2, grid=p["grid"],
                    chunk_shape=p["chunk"], overlaps=(0, 0),
                    image_shape=(16, 12))
    ann = labels2geojson(ts, overlaps=list(p["overlaps"]),
                         threshold=p["threshold"], pre_overlapped=False)
    rows = {(r.cy, r.cx): r.annotation for r in ann.collect()}
    exp_tiles = load_npz_tiles(f"{SAMPLES}/ann_2d.npz", p["grid"])
    for loc, exp in exp_tiles.items():
        exp = exp.item()
        got = rows[loc]
        if exp == 0:
            assert got is None, loc
        else:
            assert json.loads(got) == exp, loc


def test_labels2geojson_and_zip_golden(spark, tmp_path):
    p = CASES["2d"]
    # labels2geojson(pre_overlapped=True) consumed right after segmentation
    inp = load_npz_tiles(f"{SAMPLES}/input_2d.npz", p["grid"])
    ts = from_tiles(spark, inp, nd=2, grid=p["grid"], chunk_shape=p["chunk"],
                    overlaps=(0, 0), image_shape=(14, 12))
    overlapped = prepare_input(ts, list(p["overlaps"]))
    segmented = segment_overlapped_input(overlapped)
    ann = labels2geojson(overlapped.with_df(segmented.df),
                         overlaps=list(p["overlaps"]),
                         threshold=p["threshold"], pre_overlapped=True)
    rows = {(r.cy, r.cx): r.annotation for r in ann.collect()}
    exp_tiles = load_npz_tiles(f"{SAMPLES}/ann_2d.npz", p["grid"])
    for loc, exp in exp_tiles.items():
        exp = exp.item()
        got = rows[loc]
        if exp == 0:
            assert got is None, loc
        else:
            assert json.loads(got) == exp, loc

    # sink round-trip (reference tests/test_relabeling.py:158-190)
    out_zip = zip_annotated_tiles(ann, out_dir=tmp_path / "anns")
    with zipfile.ZipFile(out_zip) as zf:
        names = sorted(zf.namelist())
        assert names == sorted(
            f"{loc[0]}-{loc[1]}.geojson" for loc, e in exp_tiles.items()
            if e.item() != 0)
        for n in names:
            loc = tuple(int(c) for c in n[:-len(".geojson")].split("-"))
            assert json.loads(zf.read(n)) == exp_tiles[loc].item()


def test_zero_overlap_axis_multi_chunk_not_emptied(spark):
    """overlaps=0 on an axis with multiple chunks must not trim tiles to
    empty (slice(0, -0) regression): with no halo on that axis the
    pipeline degrades to independent per-chunk labeling there, but every
    pixel must survive."""
    import numpy as np
    import pandas as pd
    from dask_relabeling_spark.operators.pipeline import image2labels
    from dask_relabeling_spark.sources.tiles import (TILE_SCHEMA, TileSet,
                                                     tile_record)

    rng = np.random.default_rng(5)
    vol = (rng.random((8, 16, 16)) < 0.2).astype(np.int64)
    recs = []
    for cz in range(2):
        for cy in range(2):
            for cx in range(2):
                recs.append(tile_record(
                    (cz, cy, cx),
                    vol[cz*4:(cz+1)*4, cy*8:(cy+1)*8, cx*8:(cx+1)*8]))
    df = spark.createDataFrame(
        pd.DataFrame.from_records(
            recs, columns=[f.name for f in TILE_SCHEMA.fields]),
        TILE_SCHEMA)
    ts = TileSet(df=df, nd=3, grid=(2, 2, 2), chunk_shape=(4, 8, 8),
                 overlaps=(0, 0, 0), image_shape=(8, 16, 16))
    out = image2labels(ts, overlaps=(0, 2, 2), threshold=0.05)
    tiles = {(r.cz, r.cy, r.cx):
             np.asarray(r.data).reshape(r.d, r.h, r.w)
             for r in out.df.collect()}
    assert len(tiles) == 8
    assert all(t.shape == (4, 8, 8) for t in tiles.values())
    # pixels on the zero-overlap axis are never lost
    total_fg = sum(int((t != 0).sum()) for t in tiles.values())
    assert total_fg >= int(vol.sum()) * 0.9  # y/x corner losses only


def test_from_pieces_path_equals_tile_table_path(spark):
    """The builder-side fusion (emit pieces straight out of the source's
    own Python pass) must produce byte-identical labels to building a
    tile table first and running image2labels on it."""
    import numpy as np
    import pandas as pd
    from dask_relabeling_spark.operators.halo import (PIECE_SCHEMA,
                                                      emit_piece_records)
    from dask_relabeling_spark.operators.pipeline import (
        image2labels, image2labels_from_pieces)
    from dask_relabeling_spark.sources.tiles import from_array

    rng = np.random.default_rng(9)
    mask = (rng.random((48, 40)) < 0.15).astype(np.int64)
    chunk, grid, ov = (16, 16), (3, 3), (4, 4)

    ts = from_array(spark, mask, chunk_shape=chunk)
    exp = {(r.cy, r.cx): np.asarray(r.data).reshape(r.h, r.w)
           for r in image2labels(ts, overlaps=4, threshold=0.05)
           .df.collect()}

    from dask_relabeling_spark.kernels.halo import pad_tile
    recs = []
    for cy in range(grid[0]):
        for cx in range(grid[1]):
            tile = pad_tile(
                mask[cy*16:(cy+1)*16, cx*16:(cx+1)*16], chunk)
            recs.extend(emit_piece_records(tile, None, (cy, cx), grid, ov))
    pieces = spark.createDataFrame(
        pd.DataFrame.from_records(recs,
                                  columns=PIECE_SCHEMA.fieldNames()),
        PIECE_SCHEMA)
    got = {(r.cy, r.cx): np.asarray(r.data).reshape(r.h, r.w)
           for r in image2labels_from_pieces(
               pieces, 2, grid, chunk, mask.shape, spark,
               overlaps=4, threshold=0.05).df.collect()}
    assert set(got) == set(exp)
    for loc in exp:
        assert np.array_equal(got[loc], exp[loc]), loc


@pytest.mark.parametrize("distributed", [False, True],
                         ids=["driver", "distributed"])
def test_sort_runs_pipeline_once(spark, tmp_path, distributed):
    """``image2labels -> sort_label_indices -> write_tile_store`` runs the
    segmentation once per tile: the sort's dictionary pass and the
    sink's remap share one materialized input instead of each re-running
    the whole pipeline."""
    from dask_relabeling_spark.kernels.ccl import segment_fn
    from dask_relabeling_spark.session import release_persists
    from dask_relabeling_spark.sources.tile_store import (read_tile_store,
                                                          write_tile_store)
    from dask_relabeling_spark.sources.tiles import from_array

    calls = spark.sparkContext.accumulator(0)

    def counted_seg(tile):
        calls.add(1)
        return segment_fn(tile)

    rng = np.random.default_rng(11)
    mask = (rng.random((32, 32)) < 0.2).astype(np.int64)
    ts = from_array(spark, mask, chunk_shape=(16, 16))
    labels = image2labels(ts, seg_fn=counted_seg, overlaps=4,
                          threshold=0.05)
    out = tmp_path / "sorted"
    write_tile_store(sort_label_indices(labels, distributed=distributed),
                     str(out))
    release_persists()
    assert calls.value == 4
    got = to_array(read_tile_store(spark, str(out)))
    assert np.array_equal(np.unique(got), np.arange(got.max() + 1))


@pytest.mark.parametrize("distributed", [False, True],
                         ids=["driver", "distributed"])
def test_sort_all_background(spark, distributed):
    """An image with no objects sorts to all zeros, dtype kept."""
    from dask_relabeling_spark.session import release_persists
    from dask_relabeling_spark.sources.tiles import from_array

    ts = from_array(spark, np.zeros((12, 10), dtype=np.int64),
                    chunk_shape=(6, 5))
    out = sort_label_indices(ts, distributed=distributed)
    assert out.df.schema["data"].dataType == ts.df.schema["data"].dataType
    got = to_array(out)
    release_persists()
    assert got.dtype == np.int64 and got.shape == (12, 10)
    assert not got.any()


def _squares_geojson(spark, shape=(64, 64), objects=True, seg_fn=None):
    """Annotations of three squares in 32-px tiles, one square straddling
    the border between the two tile rows (depth is never tiled)."""
    from dask_relabeling_spark.sources.tiles import from_array
    img = np.zeros(shape, dtype=np.int64)
    if objects:
        img[..., 4:12, 4:12] = 1
        img[..., 28:36, 40:48] = 1
        img[..., 44:60, 10:20] = 1
    ts = from_array(spark, img, chunk_shape=(*shape[:-2], 32, 32))
    return image2geojson(ts, seg_fn=seg_fn, overlaps=8)


def _expected_entries(ann) -> dict:
    """Entry name -> parsed FeatureCollection, from the annotation rows."""
    return {"-".join(str(c) for c in (r.cz, r.cy, r.cx) if c is not None)
            + ".geojson": json.loads(r.annotation)
            for r in ann.collect() if r.annotation is not None}


def _zip_entries(out_zip) -> dict:
    with zipfile.ZipFile(out_zip) as zf:
        return {n: json.loads(zf.read(n)) for n in zf.namelist()}


def test_zip_sink_relative_out_dir_from_other_cwd(spark, tmp_path,
                                                  monkeypatch):
    """A relative out_dir resolves against the driver's cwd only: no task
    writes a file, so the executors' cwd does not matter."""
    ann = _squares_geojson(spark)
    monkeypatch.chdir(tmp_path)
    out_zip = zip_annotated_tiles(ann, "anns")
    expected = _expected_entries(ann)
    assert len(expected) >= 3
    assert _zip_entries(tmp_path / out_zip) == expected
    assert not (tmp_path / "anns").exists()


def test_zip_sink_records_one_sql_execution(spark, tmp_path):
    """The sink's one action runs through the DataFrame, so it shows up
    in the SQL status store like every other operator."""
    ann = _squares_geojson(spark)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    sql = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    before = sql.executionsCount()
    zip_annotated_tiles(ann, tmp_path / "anns")
    bus.waitUntilEmpty()
    assert sql.executionsCount() - before == 1


def test_zip_sink_failing_upstream_leaves_nothing(spark, tmp_path):
    def broken_seg(tile):
        raise RuntimeError("segmentation model crashed")

    ann = _squares_geojson(spark, seg_fn=broken_seg)
    out_dir = tmp_path / "anns"
    with pytest.raises(Exception, match="segmentation model crashed"):
        zip_annotated_tiles(ann, out_dir)
    assert not out_dir.exists()
    assert not (tmp_path / "anns.zip").exists()


@pytest.mark.parametrize("shape,objects,preexisting", [
    ((64, 64), True, True),
    ((8, 64, 64), True, False),
    ((64, 64), False, False),
], ids=["preexisting_dir", "3d", "all_background"])
def test_zip_sink_out_dir_contract(spark, tmp_path, shape, objects,
                                   preexisting):
    """Entries are ``{cz-}cy-cx.geojson`` in sorted order with mode 0o644;
    a pre-existing out_dir also gets the loose files, byte-equal to the
    entries, and is kept; a fresh one is never created."""
    ann = _squares_geojson(spark, shape, objects)
    out_dir = tmp_path / "anns"
    if preexisting:
        out_dir.mkdir()
    out_zip = zip_annotated_tiles(ann, out_dir)
    assert out_zip == tmp_path / "anns.zip"
    expected = _expected_entries(ann)
    assert all(len(n.split("-")) == len(shape) for n in expected)
    assert bool(expected) == objects
    with zipfile.ZipFile(out_zip) as zf:
        assert zf.testzip() is None
        infos = zf.infolist()
        assert [i.filename for i in infos] == sorted(expected)
        assert {i.filename: json.loads(zf.read(i)) for i in infos} \
            == expected
        assert all(i.compress_type == zipfile.ZIP_DEFLATED for i in infos)
        assert all(stat.S_IMODE(i.external_attr >> 16) == 0o644
                   for i in infos)
        if preexisting:
            assert sorted(p.name for p in out_dir.iterdir()) \
                == sorted(expected)
            for i in infos:
                assert (out_dir / i.filename).read_bytes() == zf.read(i)
        else:
            assert not out_dir.exists()
