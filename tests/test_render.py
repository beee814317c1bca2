"""Raster tile render: the vectorized kernel must match the per-sample
scalar statement of the pixel rule exactly; the Spark operator must match
an independently composed per-tile reference (transform -> tile fan-out ->
scalar rasterize) on a real chunk table, and its payloads must decode back
to the very mask the stats describe."""

import os
import zlib

import numpy as np
from pyspark.sql import functions as F

from coords_spark.fixtures.lines import LONDON, line_table, way_chunks
from coords_spark.kernels import codec, mercator, raster


def _dense_segments(n: int, lo: int = -40, span: int = 340):
    k = np.arange(n, dtype=np.int64)
    x0 = (k * 37 + 11) % span + lo
    y0 = (k * 53 + 7) % span + lo
    x1 = (k * 71 + 3) % span + lo
    y1 = (k * 29 + 19) % span + lo
    return x0, y0, x1, y1


def test_kernel_matches_scalar():
    x0, y0, x1, y1 = _dense_segments(200)
    a = raster.rasterize_segments(x0, y0, x1, y1, 256, 256)
    b = raster.rasterize_segments_scalar(x0, y0, x1, y1, 256, 256)
    assert np.array_equal(a, b)
    assert a.sum() > 0  # the case is non-trivial


def test_kernel_edges():
    empty = raster.rasterize_segments([], [], [], [], 16, 16)
    assert empty.shape == (16, 16) and empty.sum() == 0
    # zero-length segment = one pixel
    one = raster.rasterize_segments([3], [5], [3], [5], 16, 16)
    assert one[5, 3] == 255 and np.count_nonzero(one) == 1
    # fully outside -> clipped to nothing
    out = raster.rasterize_segments([-9, 20], [-9, 20], [-5, 30], [-5, 30], 16, 16)
    assert out.sum() == 0
    # horizontal line covers every column it crosses
    h = raster.rasterize_segments([0], [2], [15], [2], 16, 16)
    assert np.count_nonzero(h) == 16 and h[2].sum() == 16 * 255


def test_kernel_pieces():
    """Piece rule invariants: (1) the union of piece-restricted walks
    marks exactly the pixels of the full walk (vectorized AND scalar);
    (2) every sample of a piece lies inside the rect spanned by the
    piece's endpoint samples (membership-by-rect is an exact superset);
    (3) pieces tile the sample range without gap or overlap."""
    x0, y0, x1, y1 = _dense_segments(60, lo=-400, span=3000)
    full = raster.rasterize_segments(x0, y0, x1, y1, 256, 256)
    xs, ys, xe, ye, kl, kh = [], [], [], [], [], []
    for a, b, c, d in zip(x0, y0, x1, y1):
        a, b, c, d = int(a), int(b), int(c), int(d)
        n1 = max(abs(c - a), abs(d - b))
        prev_end = -1
        for k_lo, k_hi, ax, ay, bx, by in raster.segment_pieces(a, b, c, d, 256):
            assert k_lo == prev_end + 1  # no gap, no overlap
            prev_end = k_hi
            xs.append(a); ys.append(b); xe.append(c); ye.append(d)
            kl.append(k_lo); kh.append(k_hi)
            for k in range(k_lo, k_hi + 1):
                px = a + ((c - a) * k) // max(n1, 1)
                py = b + ((d - b) * k) // max(n1, 1)
                assert min(ax, bx) <= px <= max(ax, bx)
                assert min(ay, by) <= py <= max(ay, by)
        assert prev_end == n1  # full coverage
    pieced = raster.rasterize_segments(xs, ys, xe, ye, 256, 256, k_lo=kl, k_hi=kh)
    assert np.array_equal(full, pieced)
    sc = raster.rasterize_segments_scalar(xs, ys, xe, ye, 256, 256, k_lo=kl, k_hi=kh)
    assert np.array_equal(pieced, sc)


def _expected_tiles(resolved_rows, bbox, zoom, tile_px):
    """Independent per-tile reference: anchor filter -> pixel transform ->
    segment tile fan-out -> scalar rasterize (mirrors the golden twin)."""
    lat0, lon0, lat1, lon1 = bbox
    scale = tile_px << zoom
    from coords_spark.operators.render import bbox_tile_range

    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tile_px)
    tiles = {}
    for way_id, pts in resolved_rows:
        ll = [(p["lat"], p["lon"]) for p in pts]
        alat, alon = ll[0]
        if not (lat0 <= alat <= lat1 and lon0 <= alon <= lon1):
            continue
        ux, uy = mercator.latlon_i32_to_unit(
            np.array([p[0] for p in ll]), np.array([p[1] for p in ll])
        )
        gx = np.minimum((ux * scale).astype(np.int64), scale - 1)
        gy = np.minimum((uy * scale).astype(np.int64), scale - 1)
        for i in range(len(gx) - 1):
            a, b, c, d = int(gx[i]), int(gy[i]), int(gx[i + 1]), int(gy[i + 1])
            for k_lo, k_hi, ax, ay, bx, by in raster.segment_pieces(a, b, c, d, tile_px):
                for tx in range(min(ax, bx) // tile_px, max(ax, bx) // tile_px + 1):
                    for ty in range(min(ay, by) // tile_px, max(ay, by) // tile_px + 1):
                        if not (tx0 <= tx <= tx1 and ty0 <= ty <= ty1):
                            continue
                        t = tiles.setdefault((tx, ty), {"ways": set(), "segs": []})
                        t["ways"].add(way_id)
                        t["segs"].append(
                            (a - tx * tile_px, b - ty * tile_px,
                             c - tx * tile_px, d - ty * tile_px, k_lo, k_hi)
                        )
    out = {}
    for key, t in tiles.items():
        segs = t["segs"]
        img = raster.rasterize_segments_scalar(
            [s[0] for s in segs], [s[1] for s in segs],
            [s[2] for s in segs], [s[3] for s in segs], tile_px, tile_px,
            k_lo=[s[4] for s in segs], k_hi=[s[5] for s in segs],
        )
        out[key] = (len(t["ways"]), int(np.count_nonzero(img)),
                    zlib.crc32(img.tobytes()), img)
    return out


import pytest


@pytest.fixture(scope="module")
def chunk_table(spark, tmp_path_factory):
    """Shared chunk table + scalar-resolved rows for the render tests."""
    from coords_spark.fixtures import gen_nodes, gen_ways

    chunked = way_chunks(
        spark.createDataFrame(gen_ways(300, 2000)), spark.createDataFrame(gen_nodes(2000))
    )
    path = str(tmp_path_factory.mktemp("render") / "tiles")
    line_table(path, chunked)
    resolved_rows = [(r["way_id"], r["pts"]) for r in chunked.select("way_id", "pts").collect()]
    return path, resolved_rows


# the chunk_table world's viewport: 15 tiles at zoom 8
_VIEW = LONDON


@pytest.mark.parametrize("path_kind", ["default", "distributed"])
def test_render_tiles_end_to_end(spark, chunk_table, force_distributed, path_kind):
    """Both render paths against the independent per-tile reference: the
    default (the driver path at this size) and every cap at 0 (Spark)."""
    from coords_spark.operators import render

    path, resolved_rows = chunk_table
    bbox = _VIEW
    zoom, tile_px = 8, 256
    if path_kind == "distributed":
        force_distributed()
    got = render.render_tile_images(spark, path, bbox, zoom, tile_px).collect()

    want = _expected_tiles(resolved_rows, bbox, zoom, tile_px)
    assert len(got) == len(want) > 0
    for r in got:
        n_ways, n_px, crc, img = want[(r["tile_x"], r["tile_y"])]
        assert (r["n_ways"], r["n_px"], r["px_crc"]) == (n_ways, n_px, crc)
        # payload decodes back to the exact mask (RGB-stacked, lossless fmt)
        dec = codec.decode_image(bytes(r["payload"]), "pngz", tile_px, tile_px)
        assert np.array_equal(dec[:, :, 0], img)
        assert np.array_equal(dec[:, :, 0], dec[:, :, 1])


def _lat_lon_for_px(px: int, py: int, scale: int) -> tuple[int, int]:
    """Fixed-point (lat, lon) whose projection at `scale` lands on global
    pixel (px, py) — bisection over the monotone mercator transform."""

    def first(lo, hi, hit):  # smallest v in [lo, hi) with hit(v)
        while lo < hi:
            mid = (lo + hi) // 2
            lo, hi = (lo, mid) if hit(mid) else (mid + 1, hi)
        return lo

    def gx(lon):
        return min(int(mercator.latlon_i32_to_unit(0, lon)[0] * scale), scale - 1)

    def gy(lat):
        return min(int(mercator.latlon_i32_to_unit(lat, 0)[1] * scale), scale - 1)

    lon = first(-1_800_000_000, 1_800_000_000, lambda v: gx(v) >= px)
    lat = first(-850_000_000, 850_000_000, lambda v: gy(v) <= py)
    assert (gx(lon), gy(lat)) == (px, py)
    return lat, lon


def _edge_case_ways(scale: int, tp: int):
    """(way_id, [(px, py), ...]) in global pixels: the fan-out's edge
    cases around tile (2000, 1300)."""
    x, y = 2000 * tp, 1300 * tp
    return [
        (1, [(x + 10, y + 10), (x + 10, y + 10)]),  # zero-length segment
        (2, [(x, y + 20), (x + tp - 1, y + 20)]),  # exactly tp samples
        (3, [(x, y + 30), (x + tp, y + 30)]),  # tp + 1 samples
        (4, [(x, y + 40), (x, y + 300)]),  # along a tile's left edge
        (5, [(x - 1, y + 300), (x - 1, y + 40)]),  # along the last column before it
        (6, [(x + 40, y), (x + 600, y)]),  # along a tile's top edge
        (7, [(x + 77, y + 99)]),  # 1-vertex way
        (8, [(x + 600, y + 700), (x + 3, y + 9), (x + 255, y + 256)]),  # reversed
        (9, [(x, y), (x + 300_000, y + 50_000)]),  # continental: ~1,200 pieces
    ]


def _pieces_scalar(way_ids, offs, gx, gy, tp):
    """segment_tile_pieces' rows from the scalar segment_pieces rule."""
    out = []
    for i, w in enumerate(way_ids):
        for s in range(offs[i], offs[i + 1] - 1):
            a, b, c, d = int(gx[s]), int(gy[s]), int(gx[s + 1]), int(gy[s + 1])
            for k_lo, k_hi, ax, ay, bx, by in raster.segment_pieces(a, b, c, d, tp):
                for tx in range(min(ax, bx) // tp, max(ax, bx) // tp + 1):
                    for ty in range(min(ay, by) // tp, max(ay, by) // tp + 1):
                        out.append((w, s - offs[i], tx, ty, a, b, c, d, k_lo, k_hi))
    return sorted(out)


@pytest.mark.parametrize("world", ["chunk_table", "edge_cases"])
def test_segment_tile_pieces_matches_sql_fanout(spark, chunk_table, world):
    """The numpy fan-out (raster.segment_tile_pieces, the driver render's
    copy of the piece rule) equals the SQL one (_segment_tile_fanout) row
    for row, and both equal the scalar segment_pieces expansion."""
    import pyarrow as pa

    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    tp = 256
    if world == "chunk_table":
        zoom = 4  # its planet-spanning ways fan out to ~1.8M rows at zoom 8
        t = IcepickTable(chunk_table[0])
        ways = t.read_arrow(t.data_paths(), ["way_id", "pts"])
    else:
        zoom = 12
        pts_type = pa.list_(
            pa.struct([("node_id", pa.int64()), ("lat", pa.int32()), ("lon", pa.int32())])
        )
        cases = _edge_case_ways(tp << zoom, tp)
        pts = []
        for _w, line in cases:
            lls = [_lat_lon_for_px(px, py, tp << zoom) for px, py in line]
            pts.append([{"node_id": 0, "lat": la, "lon": lo} for la, lo in lls])
        ways = pa.table(
            {
                "way_id": pa.array([w for w, _ in cases], pa.int64()),
                "pts": pa.array(pts, pts_type),
            }
        )
    scale = tp << zoom
    offs, gx, gy = render._project(ways.column("pts"), scale)
    if world == "edge_cases":  # the cases land on the pixels they name
        assert [(int(a), int(b)) for a, b in zip(gx, gy)] == [
            v for _w, line in _edge_case_ways(scale, tp) for v in line
        ]
    way_ids = ways.column("way_id").to_pylist()
    p = raster.segment_tile_pieces(offs, gx, gy, tp)
    cols = ["seg", "tx", "ty", "x0", "y0", "x1", "y1", "k_lo", "k_hi"]
    got = sorted(
        zip(np.asarray(way_ids, np.int64)[p["line"]].tolist(), *(p[c].tolist() for c in cols))
    )
    sql = sorted(
        tuple(r)
        for r in render._segment_tile_fanout(spark.createDataFrame(ways), scale, tp)
        .select("way_id", "seg_idx", "tx", "ty", "x0", "y0", "x1", "y1", "k_lo", "k_hi")
        .collect()
    )
    assert got == sql
    assert got == _pieces_scalar(way_ids, offs, gx, gy, tp)
    if world == "edge_cases":
        per_way = {w: sum(1 for r in got if r[0] == w) for w, _ in _edge_case_ways(scale, tp)}
        assert per_way[1] == 1 and per_way[2] == 1 and per_way[7] == 0
        # tp + 1 samples: the last one is a piece of its own, in the next tile
        assert {(r[2], r[8], r[9]) for r in got if r[0] == 3} == {(2000, 0, 255), (2001, 256, 256)}
        assert {(r[2], r[3]) for r in got if r[0] == 4} == {(2000, 1300), (2000, 1301)}
        assert {(r[2], r[3]) for r in got if r[0] == 5} == {(1999, 1300), (1999, 1301)}
        assert per_way[9] > 1000


def _finest_chunk_copy(src: str, dst: str) -> str:
    """A copy of chunk table `src` chunked by the finest split set (each
    row's chunk is its own envelope cell, capped at the base level), one
    file per row, committed with pyarrow. A small world otherwise keeps
    every row in the root chunk, whose file every viewport overlaps."""
    import pyarrow as pa

    from coords_spark import bounded
    from coords_spark.kernels import zcurve
    from coords_spark.operators import tiling
    from coords_spark.sources.icepick import IcepickTable

    t = IcepickTable(src)
    tbl = t.read_arrow(t.data_paths())
    cells = tbl.column("cell").to_numpy()
    chunk = zcurve.z_ancestor(
        cells, np.minimum(zcurve.cell_level(cells), tiling.DEFAULT_BASE_LEVEL)
    )
    tbl = tbl.set_column(
        tbl.schema.get_field_index("chunk_id"), "chunk_id", pa.array(chunk, pa.int64())
    )
    stage = os.path.join(os.path.dirname(dst), "finest-stage")
    os.makedirs(stage)
    bounded.write_sorted(tbl, stage, ["chunk_id"], tbl.num_rows)
    IcepickTable.create(dst).commit_staged(stage, chunk_col="chunk_id")
    return dst


def _tiles_arrow(df):
    """A tile DataFrame collected as Arrow, rows ordered by tile."""
    return df.toArrow().sort_by([("tile_x", "ascending"), ("tile_y", "ascending")])


# a viewport around cluster 0 of the cluster world, clear of the others
_CLUSTER0_VIEW = (505_000_000, -1_610_000_000, 525_000_000, -1_480_000_000)


@pytest.mark.parametrize(
    "case", ["in_cap", "empty", "pruned", "over_rows_cap", "over_bytes_cap"]
)
def test_render_driver_path_matches_spark(
    spark, chunk_table, force_distributed, monkeypatch, request, tmp_path, case
):
    """The driver render and the Spark render return the same Arrow
    output: field names and types, rows and payload bytes. An empty
    mid-Pacific viewport of the local refresh world prunes to zero files
    and opens none; the cluster world chunked at 2 KiB spreads its
    clusters over files with disjoint chunk ranges, and a viewport on
    cluster 0 keeps some of them and prunes the rest (at the refresh
    world's 32 KiB every file holds chunk 0 and none is pruned); a
    viewport whose pruned rows exceed SMALL_REWRITE_ROWS or whose pruned
    files exceed SMALL_REWRITE_BYTES takes the Spark path."""
    import pyarrow.parquet as pq

    from coords_spark import bounded
    from coords_spark.operators import ingest, render
    from coords_spark.sources.icepick import IcepickTable

    path, _ = chunk_table
    zoom, tp = 8, 256
    bbox = _VIEW
    if case == "empty":
        path = _finest_chunk_copy(
            request.getfixturevalue("refresh_world")["paths"]["pre"], str(tmp_path / "finest")
        )
        bbox = (int(-45.0e7), int(-155.0e7), int(-44.0e7), int(-154.0e7))
    if case == "pruned":
        nodes_t, ways_t = _cluster_world()
        path = str(tmp_path / "lines")
        line_table(
            path,
            way_chunks(
                spark.createDataFrame(ways_t), spark.createDataFrame(nodes_t), max_bytes=2048
            ),
        )
        bbox = _CLUSTER0_VIEW
    scan = ingest.viewport_scan(path, bbox, zoom)
    if case == "pruned":
        assert 0 < len(scan.paths) < len(IcepickTable(path).data_paths())
    real = raster.segment_tile_pieces
    fanouts = []

    def counted(*a, **kw):
        fanouts.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(raster, "segment_tile_pieces", counted)
    if case == "empty":
        assert scan.paths == []

        def no_read(*a, **kw):
            raise AssertionError("a data file was opened")

        monkeypatch.setattr(pq, "read_table", no_read)
    if case == "over_rows_cap":
        assert scan.rows > 0
        monkeypatch.setattr(bounded, "SMALL_REWRITE_ROWS", scan.rows - 1)
    if case == "over_bytes_cap":
        monkeypatch.setattr(
            bounded, "SMALL_REWRITE_BYTES", sum(map(os.path.getsize, scan.paths)) - 1
        )
    driver_renders = int(case in ("in_cap", "empty", "pruned"))
    got = _tiles_arrow(render.render_tile_images(spark, path, bbox, zoom, tp))
    assert len(fanouts) == driver_renders
    force_distributed()
    want = _tiles_arrow(render.render_tile_images(spark, path, bbox, zoom, tp))
    assert len(fanouts) == driver_renders
    assert [(f.name, f.type) for f in got.schema] == [(f.name, f.type) for f in want.schema]
    assert got.column_names == ["tile_x", "tile_y", "n_ways", "n_px", "px_crc", "payload"]
    assert got.to_pylist() == want.to_pylist()
    assert (got.num_rows == 0) == (case == "empty")


def test_render_viewport_job_count(spark, chunk_table, monkeypatch):
    """Under the caps the viewport render reads through the shared
    viewport gate (ViewportScan.read_arrow) and runs no Spark job itself,
    and collecting its result runs exactly one."""
    from test_bounded import _with_jobs

    from coords_spark.operators import ingest, render

    path, _ = chunk_table
    real = ingest.ViewportScan.read_arrow
    gated = []

    def counted(self, *a, **kw):
        gated.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(ingest.ViewportScan, "read_arrow", counted)
    df, jobs = _with_jobs(spark, lambda: render.render_tile_images(spark, path, _VIEW, 8, 256))
    assert jobs == 0 and len(gated) == 1
    tbl, jobs = _with_jobs(spark, df.toArrow)
    assert jobs == 1 and tbl.num_rows > 0


def _pool2x_scalar(mosaic: np.ndarray, tp: int) -> np.ndarray:
    """Per-pixel statement of the overzoom rule (independent of the
    operator's reshape/max trick)."""
    out = np.zeros((tp, tp), np.uint8)
    for yy in range(tp):
        for xx in range(tp):
            out[yy, xx] = max(
                mosaic[2 * yy, 2 * xx], mosaic[2 * yy, 2 * xx + 1],
                mosaic[2 * yy + 1, 2 * xx], mosaic[2 * yy + 1, 2 * xx + 1],
            )
    return out


def test_overzoom_rule(spark):
    """Four hand-built children -> one parent; mask == scalar max-pool of
    the quadrant mosaic, and missing-children parents pool against zeros."""
    import zlib

    from coords_spark.operators import render

    tp = 16
    imgs = {}
    for tx, ty in [(10, 6), (11, 6), (10, 7)]:  # quadrant (11,7) missing
        m = np.zeros((tp, tp), np.uint8)
        m[(tx + ty) % tp, :] = 255
        m[:, (tx * 3 + ty) % tp] = 255
        imgs[(tx, ty)] = m
    rows = [
        (tx, ty, bytearray(codec.encode_image(np.repeat(m[:, :, None], 3, 2), "pngz")))
        for (tx, ty), m in imgs.items()
    ] + [(40, 41, bytearray(codec.encode_image(np.zeros((tp, tp, 3), np.uint8), "pngz")))]
    tiles = spark.createDataFrame(rows, "tile_x long, tile_y long, payload binary")
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.overzoom_tiles(tiles, tile_px=tp).collect()
    }
    assert set(got) == {(5, 3), (20, 20)}
    mosaic = np.zeros((2 * tp, 2 * tp), np.uint8)
    for (tx, ty), m in imgs.items():
        mosaic[(ty % 2) * tp : (ty % 2 + 1) * tp, (tx % 2) * tp : (tx % 2 + 1) * tp] = m
    want = _pool2x_scalar(mosaic, tp)
    r = got[(5, 3)]
    assert r["n_children"] == 3
    assert r["n_px"] == int(np.count_nonzero(want))
    assert r["px_crc"] == zlib.crc32(want.tobytes())
    dec = codec.decode_image(bytes(r["payload"]), "pngz", tp, tp)
    assert np.array_equal(dec[:, :, 0], want)
    assert got[(20, 20)]["n_px"] == 0 and got[(20, 20)]["n_children"] == 1


def test_render_pyramid_end_to_end(spark, chunk_table):
    """Pyramid levels: base == render_tile_images; every parent mask ==
    scalar max-pool of its decoded children, level by level."""
    import zlib

    from coords_spark.operators import render

    path, resolved_rows = chunk_table
    bbox = LONDON
    zoom, min_zoom, tp = 8, 6, 256
    got = render.render_tile_pyramid(spark, path, bbox, zoom, min_zoom, tp).collect()
    by_zoom: dict[int, dict] = {}
    for r in got:
        by_zoom.setdefault(r["zoom"], {})[(r["tile_x"], r["tile_y"])] = r
    assert sorted(by_zoom) == [6, 7, 8]

    base_want = _expected_tiles(resolved_rows, bbox, zoom, tp)
    assert set(by_zoom[8]) == set(base_want)
    for key, r in by_zoom[8].items():
        assert (r["n_src"], r["n_px"], r["px_crc"]) == base_want[key][:3]

    masks = {
        key: codec.decode_image(bytes(r["payload"]), "pngz", tp, tp)[:, :, 0]
        for key, r in by_zoom[8].items()
    }
    for z in (7, 6):
        parents: dict[tuple, dict] = {}
        for (tx, ty), m in masks.items():
            p = parents.setdefault((tx // 2, ty // 2), {"n": 0, "mosaic": np.zeros((2 * tp, 2 * tp), np.uint8)})
            p["n"] += 1
            p["mosaic"][(ty % 2) * tp : (ty % 2 + 1) * tp, (tx % 2) * tp : (tx % 2 + 1) * tp] = m
        assert set(by_zoom[z]) == set(parents)
        next_masks = {}
        for key, p in parents.items():
            want = _pool2x_scalar(p["mosaic"], tp)
            r = by_zoom[z][key]
            assert r["n_src"] == p["n"]
            assert r["n_px"] == int(np.count_nonzero(want))
            assert r["px_crc"] == zlib.crc32(want.tobytes())
            next_masks[key] = want
        masks = next_masks


def test_dirty_tiles(spark, tmp_path):
    """Tile expiry vs reality: move a set of non-anchor nodes, render the
    same viewport from PRE and POST chunk tables, and require (a) every
    tile whose rendered content changed is in the dirty set, (b) the base
    dirty set EQUALS the scalar segment-rectangle fan-out of the affected
    ways' old+new geometry, (c) each ancestor level is exactly the child
    level shifted right."""
    from coords_spark.fixtures import gen_nodes, gen_ways
    from coords_spark.operators import render

    nodes_t, ways_t = gen_nodes(800), gen_ways(120, 800)
    # drop the fixture's 2000-ref mega-way: world-spanning segment
    # rectangles would dominate the scalar twin's runtime, not its logic
    keep = [i for i, r in enumerate(ways_t.column("refs").to_pylist()) if len(r) < 500]
    ways_t = ways_t.take(keep)
    way_refs = {r["id"]: list(r["refs"]) for r in ways_t.to_pylist()}
    anchors = {refs[0] for refs in way_refs.values()}
    node_ids = nodes_t.column("id").to_numpy()
    moved = {int(i) for i in node_ids if i % 23 == 1 and int(i) not in anchors}
    affected = {wid for wid, refs in way_refs.items() if moved & set(refs)}
    assert affected

    import pyarrow as pa

    lat = nodes_t.column("lat").to_numpy().copy()
    lon = nodes_t.column("lon").to_numpy().copy()
    mv = np.isin(node_ids, list(moved))
    lat[mv] += 180_000
    lon[mv] += 260_000
    post_t = nodes_t.set_column(2, "lat", pa.array(lat, pa.int32())).set_column(
        3, "lon", pa.array(lon, pa.int32())
    )

    zoom, min_zoom, tp = 10, 8, 256
    bbox = LONDON
    pre_nodes, post_nodes = spark.createDataFrame(nodes_t), spark.createDataFrame(post_t)
    ways = spark.createDataFrame(ways_t)

    rendered = {}
    geoms = {}
    for name, nd in (("pre", pre_nodes), ("post", post_nodes)):
        chunked = way_chunks(ways, nd)
        path = str(tmp_path / name)
        line_table(path, chunked)
        rendered[name] = {
            (r["zoom"], r["tile_x"], r["tile_y"]): (r["n_src"], r["n_px"], r["px_crc"])
            for r in render.render_tile_pyramid(
                spark, path, bbox, zoom, min_zoom, tp
            ).collect()
        }
        geoms[name] = {
            r["way_id"]: [(p["lat"], p["lon"]) for p in r["pts"]]
            for r in chunked.filter(
                F.col("way_id").isin([int(w) for w in affected])
            ).collect()
        }

    pre, post = rendered["pre"], rendered["post"]
    changed_all = {k for k in set(pre) | set(post) if pre.get(k) != post.get(k)}
    changed = {(tx, ty) for z, tx, ty in changed_all if z == zoom}
    assert changed  # the move is visible at this zoom

    old_new = (
        spark.createDataFrame(
            [
                (wid, [{"node_id": 0, "lat": la, "lon": lo} for la, lo in pts])
                for side in ("pre", "post")
                for wid, pts in geoms[side].items()
            ],
            "way_id long, pts array<struct<node_id: long, lat: int, lon: int>>",
        )
    )
    dirty = render.dirty_tiles(old_new, zoom, min_zoom, tp).collect()
    by_zoom: dict[int, set] = {}
    for r in dirty:
        by_zoom.setdefault(r["zoom"], set()).add((r["tile_x"], r["tile_y"]))
    assert sorted(by_zoom) == [8, 9, 10]

    # (a) completeness against the real renders
    assert changed <= by_zoom[10]

    # (b) base level == scalar rectangle fan-out of old+new geometry
    scale = tp << zoom
    want = set()
    for side in ("pre", "post"):
        for pts in geoms[side].values():
            ux, uy = mercator.latlon_i32_to_unit(
                np.array([p[0] for p in pts]), np.array([p[1] for p in pts])
            )
            gx = np.minimum((ux * scale).astype(np.int64), scale - 1)
            gy = np.minimum((uy * scale).astype(np.int64), scale - 1)
            for i in range(len(gx) - 1):
                for _kl, _kh, ax, ay, bx, by in raster.segment_pieces(
                    int(gx[i]), int(gy[i]), int(gx[i + 1]), int(gy[i + 1]), tp
                ):
                    for tx in range(min(ax, bx) // tp, max(ax, bx) // tp + 1):
                        for ty in range(min(ay, by) // tp, max(ay, by) // tp + 1):
                            want.add((tx, ty))
    assert by_zoom[10] == want

    # (c) ancestor closure, level by level
    for z in (9, 8):
        assert by_zoom[z] == {(tx >> (10 - z), ty >> (10 - z)) for tx, ty in by_zoom[10]}

    # (d) incremental pyramid patch == full rebuild: take the PRE pyramid,
    # drop every dirty (zoom, tile), splice in the POST renders of exactly
    # those tiles — the result must equal the full POST pyramid at every
    # level (so the dirty set is also complete for every overzoom level,
    # and re-rolling only listed ancestors is sufficient)
    patched = {k: v for k, v in pre.items() if (k[1], k[2]) not in by_zoom[k[0]]}
    patched |= {k: v for k, v in post.items() if (k[1], k[2]) in by_zoom[k[0]]}
    assert patched == post


def test_render_dirty_tiles_worklist(spark, chunk_table):
    """Work-list re-render == full viewport render restricted to the list
    (payload bytes included), and the per-tile range pruning reads
    strictly fewer files than the table holds for a small work list."""
    from coords_spark.kernels import zcurve
    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    path, _resolved_rows = chunk_table
    bbox = LONDON
    zoom, tp = 8, 256
    full = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_tile_images(spark, path, bbox, zoom, tp).collect()
    }
    assert len(full) > 3
    worklist = sorted(full)[::2][:3]  # a few tiles, as a dirty set would be
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_dirty_tiles(
            spark, path, bbox, worklist, zoom, tp
        ).collect()
    }
    assert set(got) == set(worklist)
    for key in worklist:
        want = full[key]
        assert (got[key]["n_ways"], got[key]["n_px"], got[key]["px_crc"]) == (
            want["n_ways"], want["n_px"], want["px_crc"]
        )
        assert bytes(got[key]["payload"]) == bytes(want["payload"])

    # pruning: one tile's ranges must keep fewer files than the table holds
    t = IcepickTable(path)
    tx, ty = worklist[0]
    shift = zcurve.MAX_LEVEL - zoom
    ranges = zcurve.bbox_cover_ranges(
        tx << shift, ty << shift,
        ((tx + 1) << shift) - 1, ((ty + 1) << shift) - 1,
        zoom, max_level=8,
    )
    pruned = t.data_paths_ranges(ranges)
    assert 0 < len(pruned) < len(t.data_paths())

    # empty work list and off-world tile: no rows, no errors
    assert render.render_dirty_tiles(spark, path, bbox, [], zoom, tp).count() == 0
    assert (
        render.render_dirty_tiles(spark, path, bbox, [(9999, 9999)], zoom, tp).count()
        == 0
    )


def test_render_dirty_tiles_duplicate_entries(spark, chunk_table):
    """A work list naming a tile twice re-renders it as ONE row, equal to
    the viewport render's row for that tile."""
    from coords_spark.operators import render

    path, _ = chunk_table
    zoom, tp = 8, 256
    full = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_tile_images(spark, path, _VIEW, zoom, tp).collect()
    }
    key = max(full, key=lambda k: full[k]["n_px"])
    twice = render.render_dirty_tiles(spark, path, _VIEW, [key, key], zoom, tp).collect()
    assert len(twice) == 1
    assert bytes(twice[0]["payload"]) == bytes(full[key]["payload"])


def test_build_pyramid_table(spark, chunk_table, tmp_path):
    """Sink-materialized pyramid == the in-memory pyramid (payload bytes
    included), each level committed as its own group reading children
    back from the sink; a partially-built table (base only) RESUMES —
    the base group is not re-committed and the final content matches."""
    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    path, _ = chunk_table
    bbox = LONDON
    zoom, min_zoom, tp = 8, 6, 256
    want = {
        (r["zoom"], r["tile_x"], r["tile_y"]): (
            r["n_src"], r["n_px"], r["px_crc"], bytes(r["payload"])
        )
        for r in render.render_tile_pyramid(spark, path, bbox, zoom, min_zoom, tp).collect()
    }

    out = str(tmp_path / "pyramid")
    # partial build first: base level only (simulates a kill after z8)
    render.build_pyramid_table(spark, path, out, bbox, zoom, zoom, tp)
    t = IcepickTable(out)
    assert set(t.committed_groups()) == {f"z{zoom}"}
    v_after_base = t.current_manifest()["version"]

    # full build resumes: z8 skipped (no new version for it), z7/z6 added
    render.build_pyramid_table(spark, path, out, bbox, zoom, min_zoom, tp)
    t = IcepickTable(out)
    assert sorted(t.committed_groups()) == ["z6", "z7", "z8"]
    assert t.current_manifest()["version"] == v_after_base + 2

    got = {
        (r["zoom"], r["tile_x"], r["tile_y"]): (
            r["n_src"], r["n_px"], r["px_crc"], bytes(r["payload"])
        )
        for r in spark.read.parquet(*t.data_paths()).collect()
    }
    assert got == want

    # re-run is a full no-op
    render.build_pyramid_table(spark, path, out, bbox, zoom, min_zoom, tp)
    assert IcepickTable(out).current_manifest()["version"] == v_after_base + 2


def _sink_rows(spark, path):
    """{(zoom, tile_x, tile_y): (n_src, n_px, px_crc, payload)} of a
    pyramid sink table."""
    from coords_spark.sources.icepick import IcepickTable

    return {
        (r["zoom"], r["tile_x"], r["tile_y"]): (
            r["n_src"], r["n_px"], r["px_crc"], bytes(r["payload"])
        )
        for r in spark.read.parquet(*IcepickTable(path).data_paths()).collect()
    }


def _cluster_world():
    """(nodes, ways) pa.Tables of a purpose-built LOCAL world: 8 clusters
    of short chain-ways, each confined to its own lon band (gen_ways'
    random global refs would make every way span the planet, dirtying
    every x range — a real replication diff is local, and locality is
    exactly what the refresh blast-radius assertion measures)."""
    import pyarrow as pa

    node_rows, way_rows = [], []
    nid, wid = 1, 1
    for c in range(8):
        clat, clon = 510_000_000, (c * 42 - 160) * 10_000_000
        cluster_ids = []
        for k in range(40):
            node_rows.append(
                (nid, 1,
                 clat + ((k * 37) % 23) * 400_000,
                 clon + ((k * 53) % 29) * 400_000, {})
            )
            cluster_ids.append(nid)
            nid += 1
        for s in range(0, 35, 5):
            way_rows.append((wid, 1, cluster_ids[s : s + 6], {}))
            wid += 1
    nodes_t = pa.table(
        {
            "id": pa.array([r[0] for r in node_rows], pa.int64()),
            "version": pa.array([r[1] for r in node_rows], pa.int32()),
            "lat": pa.array([r[2] for r in node_rows], pa.int32()),
            "lon": pa.array([r[3] for r in node_rows], pa.int32()),
        }
    )
    ways_t = pa.table(
        {
            "id": pa.array([r[0] for r in way_rows], pa.int64()),
            "version": pa.array([r[1] for r in way_rows], pa.int32()),
            "refs": pa.array([r[2] for r in way_rows], pa.list_(pa.int64())),
        }
    )
    return nodes_t, ways_t


@pytest.fixture(scope="module")
def refresh_world(spark, tmp_path_factory):
    """Pre and post chunk tables of the local cluster world, and the dirty
    tile list between them: the shared input of the refresh tests."""
    import pyarrow as pa

    from coords_spark.operators import render

    tmp_path = tmp_path_factory.mktemp("refresh_world")
    nodes_t, ways_t = _cluster_world()
    way_refs = dict(zip(ways_t.column("id").to_pylist(), ways_t.column("refs").to_pylist()))
    anchors = {refs[0] for refs in way_refs.values()}
    node_ids = nodes_t.column("id").to_numpy()
    lat = nodes_t.column("lat").to_numpy().copy()
    lon = nodes_t.column("lon").to_numpy().copy()
    # the edit: a few non-anchor nodes of cluster 0 only
    moved = {int(i) for i in node_ids if i <= 40 and i % 7 == 3 and int(i) not in anchors}
    affected = {w for w, refs in way_refs.items() if moved & set(refs)}
    assert affected and len(affected) < len(way_refs) // 2

    mv = np.isin(node_ids, list(moved))
    lat[mv] += 600_000
    lon[mv] += 900_000
    post_t = nodes_t.set_column(2, "lat", pa.array(lat, pa.int32())).set_column(
        3, "lon", pa.array(lon, pa.int32())
    )

    zoom, min_zoom, tp = 10, 8, 256
    bbox = (-850_000_000, -1_799_999_999, 850_000_000, 1_799_999_999)
    ways = spark.createDataFrame(ways_t)
    paths, geoms = {}, {}
    for name, nd_t in (("pre", nodes_t), ("post", post_t)):
        chunked = way_chunks(ways, spark.createDataFrame(nd_t), max_bytes=32 * 1024)
        paths[name] = str(tmp_path / name)
        line_table(paths[name], chunked)
        geoms[name] = chunked.filter(
            F.col("way_id").isin([int(w) for w in affected])
        ).select("way_id", "pts")

    dirty = render.dirty_tiles(
        geoms["pre"].unionByName(geoms["post"]), zoom, min_zoom, tp
    )
    return {
        "paths": paths, "dirty": dirty, "bbox": bbox,
        "zoom": zoom, "min_zoom": min_zoom, "tp": tp,
    }


def test_refresh_pyramid_table(spark, refresh_world, tmp_path):
    """Incremental pyramid refresh == full rebuild, through the SINK:
    build the pre pyramid table, apply the dirty list against the post
    chunk table, and the refreshed table must equal a from-scratch build
    on the post world byte-for-byte — with untouched files carried (not
    rewritten) and a replayed refresh a per-level no-op."""
    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    w = refresh_world
    paths, dirty, bbox = w["paths"], w["dirty"], w["bbox"]
    zoom, min_zoom, tp = w["zoom"], w["min_zoom"], w["tp"]
    pyr = str(tmp_path / "pyr")
    render.build_pyramid_table(spark, paths["pre"], pyr, bbox, zoom, min_zoom, tp)
    pre_files = {e["path"]: e["checksum"] for e in IcepickTable(pyr).files()}

    stats = render.refresh_pyramid_table(
        spark, paths["post"], pyr, bbox, dirty, zoom, min_zoom, tp
    )
    assert all(isinstance(v, dict) and v["dirty"] > 0 for v in stats.values())

    fresh = str(tmp_path / "fresh")
    render.build_pyramid_table(spark, paths["post"], fresh, bbox, zoom, min_zoom, tp)

    assert _sink_rows(spark, pyr) == _sink_rows(spark, fresh)

    # blast radius: untouched files survive the refresh with identical
    # checksums, and at least one file per build was NOT rewritten
    post_files = {e["path"]: e["checksum"] for e in IcepickTable(pyr).files()}
    survivors = set(pre_files) & set(post_files)
    assert survivors
    assert all(pre_files[p] == post_files[p] for p in survivors)
    total_rewritten = sum(v["files_rewritten"] for v in stats.values())
    assert 0 < total_rewritten < len(pre_files)

    # replay: same group -> per-level no-op, manifest version unchanged
    v0 = IcepickTable(pyr).current_manifest()["version"]
    stats2 = render.refresh_pyramid_table(
        spark, paths["post"], pyr, bbox, dirty, zoom, min_zoom, tp
    )
    assert all(v == "replayed" for v in stats2.values())
    assert IcepickTable(pyr).current_manifest()["version"] == v0


def test_build_pyramid_forced_distributed_matches_default(
    spark, chunk_table, tmp_path, force_distributed
):
    """With every bounded cap at 0, the sink build (range-partitioned
    level writes, Spark overzoom) and the in-memory pyramid (checkpointed
    levels) must land the same tiles as the default driver-side paths."""
    from coords_spark.operators import render

    path, _ = chunk_table
    bbox = LONDON
    args = (bbox, 8, 6, 256)
    default = str(tmp_path / "default")
    render.build_pyramid_table(spark, path, default, *args)
    want = _sink_rows(spark, default)
    force_distributed()
    forced = str(tmp_path / "forced")
    render.build_pyramid_table(spark, path, forced, *args)
    assert _sink_rows(spark, forced) == want
    mem = {
        (r["zoom"], r["tile_x"], r["tile_y"]): (
            r["n_src"], r["n_px"], r["px_crc"], bytes(r["payload"])
        )
        for r in render.render_tile_pyramid(spark, path, *args).collect()
    }
    assert mem == want


def test_refresh_forced_distributed_matches_default(
    spark, refresh_world, tmp_path, force_distributed
):
    """A refresh with every bounded cap at 0 (range-partitioned level
    writes, Spark overzoom of every coarser level) must equal a fresh
    default build of the post world, as the default refresh does."""
    from coords_spark.operators import render

    w = refresh_world
    paths, bbox = w["paths"], w["bbox"]
    args = (w["zoom"], w["min_zoom"], w["tp"])
    fresh = str(tmp_path / "fresh")
    render.build_pyramid_table(spark, paths["post"], fresh, bbox, *args)
    pyr = str(tmp_path / "pyr")
    render.build_pyramid_table(spark, paths["pre"], pyr, bbox, *args)
    force_distributed()
    stats = render.refresh_pyramid_table(
        spark, paths["post"], pyr, bbox, w["dirty"], *args
    )
    assert all(isinstance(v, dict) and v["dirty"] > 0 for v in stats.values())
    assert _sink_rows(spark, pyr) == _sink_rows(spark, fresh)


def test_build_pyramid_empty_viewport_distributed(spark, refresh_world, tmp_path, monkeypatch):
    """A viewport with no geometry commits an empty base level; the
    distributed overzoom of the next level must not read zero paths
    (Spark cannot infer a schema from none). Every level commits empty."""
    from coords_spark import bounded
    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    monkeypatch.setattr(bounded, "SMALL_OVERZOOM_TILES", 0)
    bbox = (int(-45.0e7), int(-155.0e7), int(-44.0e7), int(-154.0e7))  # mid-Pacific
    out = str(tmp_path / "empty")
    render.build_pyramid_table(spark, refresh_world["paths"]["pre"], out, bbox, 10, 8, 256)
    t = IcepickTable(out)
    assert sorted(t.committed_groups()) == ["z10", "z8", "z9"]
    assert t.files() == []


def test_refresh_distributed_level_with_empty_level_above(spark, refresh_world, tmp_path):
    """Default caps: an empty-viewport pyramid gets an ancestor-closed
    dirty list with more than SMALL_REFRESH_TILES tiles one level below
    the base. That level refreshes on the distributed path with no file
    above it; it must refresh to empty (as a fresh build is), not ask
    Spark to read zero paths."""
    from coords_spark import bounded
    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    bbox = (int(-50.0e7), int(-160.0e7), int(-42.0e7), int(-152.0e7))  # mid-Pacific
    zoom, min_zoom, tp = 10, 8, 256
    pyr = str(tmp_path / "pyr")
    render.build_pyramid_table(spark, refresh_world["paths"]["pre"], pyr, bbox, zoom, min_zoom, tp)
    tx0, tx1, ty0, ty1 = render.bbox_tile_range(bbox, zoom - 1, tp)
    below = [(tx, ty) for tx in range(tx0, tx1 + 1) for ty in range(ty0, ty1 + 1)]
    assert len(below) > bounded.SMALL_REFRESH_TILES
    dirty = [(zoom - 1, tx, ty) for tx, ty in below]
    dirty += [(zoom - 2, tx, ty) for tx, ty in sorted({(tx // 2, ty // 2) for tx, ty in below})]

    stats = render.refresh_pyramid_table(
        spark, refresh_world["paths"]["post"], pyr, bbox, dirty, zoom, min_zoom, tp
    )
    assert stats[zoom - 1]["dirty"] == len(below)
    t = IcepickTable(pyr)
    assert {f"refresh-z{zoom - 1}", f"refresh-z{zoom - 2}"} <= t.committed_groups()
    assert t.total_rows() == 0


def test_refresh_driver_level_error_raises(spark, refresh_world, tmp_path, monkeypatch):
    """An error inside a driver-side refresh level (here its commit)
    propagates. The level does not run again on the distributed path:
    overzoom_tiles never runs and the level is never committed."""
    from coords_spark.operators import render
    from coords_spark.sources.icepick import IcepickTable

    w = refresh_world
    args = (w["zoom"], w["min_zoom"], w["tp"])
    pyr = str(tmp_path / "pyr")
    render.build_pyramid_table(spark, w["paths"]["pre"], pyr, w["bbox"], *args)
    target = f"refresh-z{w['zoom'] - 1}"
    real = IcepickTable.commit_replace
    groups = []

    def fail_once(self, *a, **kw):
        groups.append(kw.get("group"))
        if groups.count(target) == 1 and groups[-1] == target:
            raise OSError("commit failed")
        return real(self, *a, **kw)

    def overzoom_tiles(*a, **kw):
        raise AssertionError("the distributed overzoom ran")

    monkeypatch.setattr(IcepickTable, "commit_replace", fail_once)
    monkeypatch.setattr(render, "overzoom_tiles", overzoom_tiles)
    with pytest.raises(OSError, match="commit failed"):
        render.refresh_pyramid_table(
            spark, w["paths"]["post"], pyr, w["bbox"], w["dirty"], *args
        )
    assert groups.count(target) == 1
    assert target not in IcepickTable(pyr).committed_groups()


def test_vector_tiles(spark, chunk_table):
    """Vector tiles vs an independent scalar assembly: same piece-rect
    membership, runs of consecutive segments -> one LINE blob each in
    (way_id, seg_idx) order; payload bytes equal, and each blob decodes
    back (geomblob roundtrip) to the expected local polyline."""
    from coords_spark.kernels import geomblob
    from coords_spark.operators import render

    path, resolved_rows = chunk_table
    bbox = LONDON
    zoom, tp = 8, 256
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.vector_tiles(spark, path, bbox, zoom, tp).collect()
    }
    assert got

    # scalar twin
    lat0, lon0, lat1, lon1 = bbox
    scale = tp << zoom
    from coords_spark.operators.render import bbox_tile_range

    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tp)
    tiles: dict = {}
    for way_id, pts in resolved_rows:
        ll = [(p["lat"], p["lon"]) for p in pts]
        if not (lat0 <= ll[0][0] <= lat1 and lon0 <= ll[0][1] <= lon1):
            continue
        ux, uy = mercator.latlon_i32_to_unit(
            np.array([p[0] for p in ll]), np.array([p[1] for p in ll])
        )
        gx = np.minimum((ux * scale).astype(np.int64), scale - 1)
        gy = np.minimum((uy * scale).astype(np.int64), scale - 1)
        for i in range(len(gx) - 1):
            a, b, c, d = int(gx[i]), int(gy[i]), int(gx[i + 1]), int(gy[i + 1])
            for _kl, _kh, ax, ay, bx, by in raster.segment_pieces(a, b, c, d, tp):
                for tx in range(min(ax, bx) // tp, max(ax, bx) // tp + 1):
                    for ty in range(min(ay, by) // tp, max(ay, by) // tp + 1):
                        if not (tx0 <= tx <= tx1 and ty0 <= ty <= ty1):
                            continue
                        tiles.setdefault((tx, ty), {})[(way_id, i)] = (
                            a - tx * tp, b - ty * tp, c - tx * tp, d - ty * tp
                        )
    assert set(got) == set(tiles)
    for key, segmap in tiles.items():
        entries = sorted(segmap.items())
        blobs = []
        i, n = 0, len(entries)
        while i < n:
            (wid, sidx), (a, b, c, d) = entries[i]
            run = [entries[i]]
            j = i + 1
            while (
                j < n
                and entries[j][0][0] == wid
                and entries[j][0][1] == entries[j - 1][0][1] + 1
            ):
                run.append(entries[j])
                j += 1
            ys = np.array([run[0][1][1]] + [e[1][3] for e in run], dtype=np.int32)
            xs = np.array([run[0][1][0]] + [e[1][2] for e in run], dtype=np.int32)
            blobs.append(geomblob.encode_geom(geomblob.GTYPE_LINE, int(wid), [(ys, xs)], []))
            i = j
        payload = b"".join(blobs)
        r = got[key]
        assert r["n_segs"] == n
        assert r["n_geoms"] == len(blobs)
        assert r["n_ways"] == len({w for (w, _s) in segmap})
        assert bytes(r["payload"]) == payload
        assert r["payload_crc"] == zlib.crc32(payload)
        # roundtrip the first blob
        if blobs:
            g = geomblob.decode_geom(blobs[0])
            assert g[0] == geomblob.GTYPE_LINE


def test_vector_tiles_int32_saturation(spark):
    """A piece carries the FULL segment's endpoints; at high zooms a long
    segment's far endpoint exceeds int32 in tile-local pixels. The blob
    layout is int32, so assembly must SATURATE (clamped far outside the
    window — consumers clip) instead of silently wrapping to a bogus
    in-window coordinate (ADVICE r6)."""
    from coords_spark.kernels import geomblob
    from coords_spark.operators import render

    # 210-degree 2-point way; tp=65536 keeps the piece explode small while
    # scale = tp << zoom = 2^32 pushes the far endpoint's tile-local x to
    # ~2.5e9 > int32 max. (The span stays under ~2^31.5 — the fan-out's
    # own int64 domain limit: its exact floor-division multiplies
    # span * sample_index.)
    zoom, tp = 16, 65536
    ways = spark.createDataFrame(
        [(1, [{"node_id": 1, "lat": 0, "lon": int(-179.0e7)},
              {"node_id": 2, "lat": int(0.5e7), "lon": int(31.0e7)}])],
        "way_id bigint, pts array<struct<node_id: bigint, lat: int, lon: int>>",
    )
    bbox = (int(-1.0e7), int(-179.5e7), int(1.0e7), int(-178.5e7))
    rows = render.vector_tiles(spark, None, bbox, zoom, tp, ways=ways).collect()
    assert rows
    hi = (1 << 31) - 1
    saturated = False
    for r in rows:
        pos = 0
        buf = bytes(r["payload"])
        while pos < len(buf):
            gtype, gid, rings, tags = geomblob.decode_geom(buf[pos:])
            for ys, xs in rings:
                for v in np.concatenate([ys.astype(np.int64), xs.astype(np.int64)]):
                    assert -(1 << 31) <= v <= hi
                    if v == hi:
                        saturated = True
            # advance: recompute blob length from its rings/tags
            import struct as _st
            ln = _st.calcsize("<Bqi")
            for ring in rings:
                ln += 4 + 8 * len(ring[0])
            ln += 4
            for k, v2 in tags:
                ln += 4 + len(k.encode()) + len(v2.encode())
            pos += ln
    # the east endpoint is ~2^32 px from the west tile: must have clamped
    assert saturated


def test_fill_rings_kernel_lockstep():
    """Vectorized scanline fill == per-pixel scalar statement, random
    polygons incl. holes, degenerate and horizontal-edge shapes."""
    rng = np.random.default_rng(11)
    for trial in range(25):
        rings = []
        for _ in range(int(rng.integers(1, 4))):
            n = int(rng.integers(3, 9))
            rings.append(
                (rng.integers(-40, 90, n), rng.integers(-40, 90, n))
            )
        a = raster.fill_rings(rings, 64, 64)
        b = raster.fill_rings_scalar(rings, 64, 64)
        assert (a == b).all(), trial
    # square with hole: interior of hole empty, annulus filled
    outer = (np.array([8, 56, 56, 8]), np.array([8, 8, 56, 56]))
    inner = (np.array([24, 40, 40, 24]), np.array([24, 24, 40, 40]))
    m = raster.fill_rings([outer, inner], 64, 64)
    assert m[32, 32] == 0 and m[16, 16] == 255 and m[4, 4] == 0
    assert (m == raster.fill_rings_scalar([outer, inner], 64, 64)).all()
    # horizontal-only ring fills nothing; <2 points ignored
    assert raster.fill_rings([(np.array([0, 60]), np.array([30, 30]))], 64, 64).sum() == 0
    assert raster.fill_rings([(np.array([5]), np.array([5]))], 64, 64).sum() == 0


def _poly_fixture(spark, n_rel=15):
    from coords_spark.fixtures import gen_relations
    from coords_spark.operators import multipolygon, resolve

    relations, ring_ways = gen_relations(n_rel)
    rel_df = spark.createDataFrame(relations)
    rw_df = spark.createDataFrame(ring_ways).select(
        F.col("id").alias("way_id"), "pts"
    )
    members = resolve.resolve_relation_members(rel_df, rw_df)
    return (
        multipolygon.reconstruct_multipolygons(members).localCheckpoint(),
        relations,
        ring_ways,
    )


def test_render_polygon_tiles_interior_filled(spark):
    """A rectangle spanning several tiles: tiles wholly inside the
    polygon get FULL masks (fills are not outlines), the payload decodes
    back to the mask, and holes punch through."""
    from coords_spark.operators import render

    # big lat/lon rectangle with a hole, zoom 6 -> spans multiple tiles
    def ring(lat0, lon0, lat1, lon1):
        return [
            {"lat": lat0, "lon": lon0}, {"lat": lat0, "lon": lon1},
            {"lat": lat1, "lon": lon1}, {"lat": lat1, "lon": lon0},
        ]

    polys = spark.createDataFrame(
        [
            (
                1, 0,
                ring(int(-30e7), int(-60e7), int(45e7), int(60e7)),
                [ring(int(5e7), int(-10e7), int(15e7), int(10e7))],
            )
        ],
        "relation_id long, poly_idx int, "
        "outer array<struct<lat:int,lon:int>>, "
        "inners array<array<struct<lat:int,lon:int>>>",
    )
    bbox = (int(-85e7), int(-179.9e7), int(85e7), int(179.9e7))
    zoom, tp = 6, 256
    rows = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_polygon_tiles(
            spark, None, bbox, zoom, tp, polys=polys
        ).collect()
    }
    assert rows
    full = [k for k, r in rows.items() if r["n_px"] == tp * tp]
    assert full, "no fully-interior tile got a full mask"
    # payload roundtrip on one tile
    k, r = next(iter(rows.items()))
    img = codec.decode_image(bytes(r["payload"]), "pngz", tp, tp)
    assert int(np.count_nonzero(img[:, :, 0])) == r["n_px"]
    assert zlib.crc32(img[:, :, 0].tobytes()) == r["px_crc"]
    # the hole is inside exactly one tile region: total filled < envelope area
    assert sum(r["n_px"] for r in rows.values()) < len(rows) * tp * tp


def test_polygon_dirty_splice_equals_rebuild(spark):
    """The expiry invariant extended to polygon worlds: re-rendering ONLY
    dirty_polygon_tiles' base tiles and splicing them over the pre-diff
    tile set equals a full re-render of the post state — interior tiles
    included (an envelope-rect dirty rule, not outline tiles)."""
    from coords_spark.operators import multipolygon, render, resolve

    mp1, relations, ring_ways = _poly_fixture(spark, 15)
    bbox = (int(-85e7), int(-179.9e7), int(85e7), int(179.9e7))
    zoom = 7

    def tiles_of(polys):
        return {
            (r["tile_x"], r["tile_y"]): (r["n_polys"], r["n_px"], r["px_crc"])
            for r in render.render_polygon_tiles(
                spark, None, bbox, zoom, polys=polys
            ).collect()
        }

    t1 = tiles_of(mp1)

    # move one relation's ring ways south-east -> its polygons change
    moved_rel = relations.to_pylist()[0]["id"]
    moved_ways = {
        m["ref"] for m in relations.to_pylist()[0]["members"] if m["mtype"] == 1
    }
    rw2 = [
        {
            "id": w["id"],
            "pts": [
                {"lat": p["lat"] - int(1.3e7), "lon": p["lon"] + int(2.1e7)}
                for p in w["pts"]
            ]
            if w["id"] in moved_ways
            else w["pts"],
        }
        for w in ring_ways.to_pylist()
    ]
    rel_df = spark.createDataFrame(relations)
    rw_df2 = spark.createDataFrame(
        rw2, "id long, pts array<struct<lat:int,lon:int>>"
    ).select(F.col("id").alias("way_id"), "pts")
    mp2 = multipolygon.reconstruct_multipolygons(
        resolve.resolve_relation_members(rel_df, rw_df2)
    ).localCheckpoint()
    t2_full = tiles_of(mp2)

    changed = mp1.filter(F.col("relation_id") == moved_rel).unionByName(
        mp2.filter(F.col("relation_id") == moved_rel)
    )
    dirty = {
        (r["tile_x"], r["tile_y"])
        for r in render.dirty_polygon_tiles(changed, zoom).collect()
    }
    assert dirty

    rerendered = {
        k: v for k, v in tiles_of(mp2).items() if k in dirty
    }
    spliced = {k: v for k, v in t1.items() if k not in dirty} | rerendered
    assert spliced == t2_full


def test_vector_tile_pyramid_lod(spark, chunk_table):
    """Per-zoom LOD vector tiles: deterministic bytes per level, all
    levels present, and the sub-pixel drop rule holds — a way whose
    envelope is below the 2px threshold at the coarse zoom must appear in
    NO coarse-level blob while (generally) still appearing at the base
    zoom."""
    from coords_spark.kernels import geomblob
    from coords_spark.operators import render

    path, resolved_rows = chunk_table
    bbox = LONDON
    zoom, min_zoom = 8, 6

    # the organic fixture has no sub-2px ways even at z6; inject one whose
    # extent (0.02 deg = 200k units) sits between z8's 2px threshold
    # (~110k) and z6's (~440k): drawn at the base zoom, dropped at z6
    tiny_id = 999_999
    resolved_rows = resolved_rows + [
        (
            tiny_id,
            [
                {"node_id": 1, "lat": int(51.0e7), "lon": int(0.5e7)},
                {"node_id": 2, "lat": int(51.0e7) + 200_000, "lon": int(0.5e7) + 150_000},
            ],
        )
    ]
    ways_df = spark.createDataFrame(
        [(w, [{"lat": p["lat"], "lon": p["lon"]} for p in pts])
         for w, pts in resolved_rows],
        "way_id bigint, pts array<struct<lat:int,lon:int>>",
    ).localCheckpoint()

    def run():
        return {
            (r["zoom"], r["tile_x"], r["tile_y"]): (
                r["n_ways"], r["n_geoms"], r["n_segs"], r["payload_crc"],
                bytes(r["payload"]),
            )
            for r in render.vector_tile_pyramid(
                spark, None, bbox, zoom, min_zoom, ways=ways_df
            ).collect()
        }

    a = run()
    assert a == run()  # byte-deterministic
    assert {z for z, _, _ in a} == {6, 7, 8}

    def gids_at(z):
        out = set()
        for (zz, _tx, _ty), (_w, _g, _s, _c, payload) in a.items():
            if zz != z:
                continue
            pos = 0
            while pos < len(payload):
                gtype, gid, rings, tags = geomblob.decode_geom(payload[pos:])
                out.add(gid)
                ln = 13  # <Bqi
                for ring in rings:
                    ln += 4 + 8 * len(ring[0])
                ln += 4
                pos += ln
        return out

    # ways failing the 2px envelope threshold at min_zoom (the engine's
    # own drop rule restated driver-side on the raw fixture)
    px_deg = int(3_600_000_000 / ((1 << min_zoom) * 256))
    dropped = set()
    for wid, pts in resolved_rows:
        la = [p["lat"] for p in pts]
        lo = [p["lon"] for p in pts]
        if not (
            max(lo) - min(lo) >= 2.0 * px_deg or max(la) - min(la) >= 2.0 * px_deg
        ):
            dropped.add(wid)
    coarse = gids_at(min_zoom)
    base = gids_at(zoom)
    assert dropped and not (coarse & dropped)
    assert base & dropped, "base zoom should still draw some sub-2px-at-z6 ways"
    # coarse way set is a subset of the base set (drop rule is monotone)
    assert coarse <= base


def test_fill_edge_classification_equivalence():
    """The per-tile shipping reductions (drop y-disjoint, drop
    entirely-left, collapse entirely-right to row-parity deltas) must be
    EXACT: classified fill_edges == whole-ring fill_rings on random
    polygons against random tile windows."""
    rng = np.random.default_rng(23)
    w = h = 64
    for trial in range(40):
        rings = []
        for _ in range(int(rng.integers(1, 4))):
            n = int(rng.integers(3, 10))
            # coords far beyond the window so every class occurs
            rings.append(
                (rng.integers(-300, 360, n), rng.integers(-300, 360, n))
            )
        want = raster.fill_rings(rings, w, h)

        ex0, ey0, ex1, ey1, rrow, rdel = [], [], [], [], [], []
        for xs, ys in rings:
            n = len(xs)
            for i in range(n):
                j = (i + 1) % n
                x0, y0, x1, y1 = int(xs[i]), int(ys[i]), int(xs[j]), int(ys[j])
                if y0 == y1:
                    continue
                ymin, ymax = min(y0, y1), max(y0, y1)
                if ymin >= h or ymax <= 0:
                    continue  # y-disjoint with the window
                if max(x0, x1) <= 0:
                    continue  # entirely left
                if min(x0, x1) >= w:
                    lo, hi = max(ymin, 0), min(ymax, h)
                    if lo < hi:
                        rrow += [lo, hi]
                        rdel += [1, -1]
                    continue  # entirely right -> parity deltas
                ex0.append(x0)
                ey0.append(y0)
                ex1.append(x1)
                ey1.append(y1)
        got = raster.fill_edges(
            ex0, ey0, ex1, ey1, w, h, right_rows=rrow, right_deltas=rdel
        )
        assert (got == want).all(), trial


def test_render_map_tiles_composite(spark, chunk_table):
    """Composite == mask-OR of the two layers per tile, union of both tile
    sets, absent layers zero; payload decodes to the composite mask."""
    from coords_spark.operators import render

    path, resolved_rows = chunk_table
    mp, _rel, _rw = _poly_fixture(spark, 15)
    bbox = LONDON
    zoom, tp = 8, 256
    ways = spark.createDataFrame(
        [(w, [{"lat": p["lat"], "lon": p["lon"]} for p in pts])
         for w, pts in resolved_rows
         if bbox[0] <= pts[0]["lat"] <= bbox[2] and bbox[1] <= pts[0]["lon"] <= bbox[3]],
        "way_id bigint, pts array<struct<lat:int,lon:int>>",
    ).localCheckpoint()

    lines = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_tile_images(
            spark, None, bbox, zoom, tp, ways=ways
        ).collect()
    }
    fills = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_polygon_tiles(
            spark, None, bbox, zoom, tp, polys=mp
        ).collect()
    }
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in render.render_map_tiles(
            spark, None, None, bbox, zoom, tp, ways=ways, polys=mp
        ).collect()
    }
    assert set(got) == set(lines) | set(fills)
    assert set(lines) - set(fills), "need a line-only tile for the null path"
    for key, r in got.items():
        img = np.zeros((tp, tp), np.uint8)
        for layer in (lines.get(key), fills.get(key)):
            if layer is not None:
                dec = codec.decode_image(bytes(layer["payload"]), "pngz", tp, tp)
                np.maximum(img, dec[:, :, 0], out=img)
        assert r["n_px"] == int(np.count_nonzero(img))
        assert r["px_crc"] == zlib.crc32(img.tobytes())
        assert r["n_ways"] == (lines[key]["n_ways"] if key in lines else 0)
        assert r["n_polys"] == (fills[key]["n_polys"] if key in fills else 0)
        dec = codec.decode_image(bytes(r["payload"]), "pngz", tp, tp)
        assert np.array_equal(dec[:, :, 0], img)
