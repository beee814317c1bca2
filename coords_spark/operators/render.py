"""Raster tile render (SURVEY.md §3 E3 last mile, §2.8 image fns × S5).

The reference's render read path ends at "deserialize -> bbox filter ->
render", with pixel output delegated to a companion Mapnik plugin [M] and
correctness checked VISUALLY (SURVEY §5.3). This operator makes that check
computable and distributed: viewport -> pruned chunk read (S5) -> way
polylines -> per-tile deterministic uint8 masks, encoded with the house
codec (kernels/codec.py).

Plan shape — two paths for a chunk-table render, chosen by two sizes
known from the bbox and the manifest before any Spark job
(_viewport_tiles_arrow):
  * DRIVER, when the viewport holds at most bounded.SMALL_OVERZOOM_TILES
    tiles AND its pruned files hold at most bounded.SMALL_REWRITE_ROWS
    manifest rows and bounded.SMALL_REWRITE_BYTES on-disk bytes: the same
    pruning and the same anchor predicate, read with pyarrow
    (ingest.ViewportScan.read_arrow, render_read's driver read), the numpy
    fan-out (kernels/raster.py segment_tile_pieces) and the shared
    per-tile body (_raster_tile); the result returns as a local relation,
    so the render runs no Spark job and collecting it runs one (per-job
    fixed cost dominates a 2x2-tile viewport).
  * SPARK otherwise, and whenever the caller passes `ways=` or a work
    list (`only_tiles=`) — the 100 TB posture:
    1. `ingest.render_read` prunes to the viewport before any geometry
       work (manifest multi-range pruning + exact bbox predicate; a
       driver read under its own caps, else a pruned parquet scan);
    2. ONE Arrow exchange projects pts -> global pixel coords at the
       target zoom (vectorized mercator, only the pts column ships);
    3. segment + tile fan-out is pure JVM (inline explode of transform/
       sequence — generators stay fused with their explode);
    4. ONE shuffle keyed by (tile_x, tile_y) — bounded by the viewport's
       tile count, never by table size;
    5. rasterize+encode runs where the groups land; payload bytes are
       PRODUCED worker-side and never round-trip.

Ways shorter than 2 vertices emit no segments (nothing to draw).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark import bounded
from coords_spark.kernels import codec, mercator, raster
from coords_spark.operators import ingest, tiling

# deflate level for TILE payloads (masks): level 1 encodes ~4x faster for
# ~1.7x the bytes (measured on line-work masks) and any level decodes
# identically — raster goldens pin px_crc of the RAW mask, never payload
# bytes, and every product path shares this constant so splice==rebuild
# byte-equality holds. Archival image fixtures keep codec's default 6.
_TILE_PNGZ_LEVEL = 1

# pyramid level files cluster on tile position
_TILE_KEYS = ["tile_x", "tile_y"]
# a pyramid level row: n_src counts ways at the base zoom, children above
_LEVEL_COLS = ["zoom", "tile_x", "tile_y", "n_src", "n_px", "px_crc", "payload"]


def bbox_tile_range(bbox, zoom: int, tile_px: int = 256) -> tuple[int, int, int, int]:
    """(tx0, tx1, ty0, ty1) inclusive tile index ranges covering the
    fixed-point bbox (lat0, lon0, lat1, lon1) at `zoom`. Mercator y grows
    SOUTH, so the lat order flips into the ty order."""
    lat0, lon0, lat1, lon1 = bbox
    scale = tile_px << zoom
    ux, uy = mercator.latlon_i32_to_unit(
        np.array([lat0, lat1]), np.array([lon0, lon1])
    )
    gx = np.minimum((ux * scale).astype(np.int64), scale - 1)
    gy = np.minimum((uy * scale).astype(np.int64), scale - 1)
    tx0, tx1 = sorted((int(gx[0]) // tile_px, int(gx[1]) // tile_px))
    ty0, ty1 = sorted((int(gy[0]) // tile_px, int(gy[1]) // tile_px))
    return tx0, tx1, ty0, ty1


def _list_offsets(arr: pa.Array) -> np.ndarray:
    lens = arr.value_lengths().to_numpy(zero_copy_only=False)
    return np.concatenate(([0], np.cumsum(lens)))


def _project(pts, scale: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A pts polyline column -> (CSR offsets, gx, gy): every vertex in
    global pixel coords at the target zoom (vectorized mercator)."""
    if isinstance(pts, pa.ChunkedArray):
        pts = pts.combine_chunks()
    offs = _list_offsets(pts)
    flat = pts.flatten()
    lat = flat.field("lat").to_numpy(zero_copy_only=False)
    lon = flat.field("lon").to_numpy(zero_copy_only=False)
    ux, uy = mercator.latlon_i32_to_unit(lat, lon)
    gx = np.minimum((ux * scale).astype(np.int64), scale - 1)
    gy = np.minimum((uy * scale).astype(np.int64), scale - 1)
    return offs, gx, gy


def _pix_udf(scale: int):
    """Arrow UDF projecting a pts polyline to global pixel coords at the
    target zoom (_project; only the pts column ships)."""

    @F.arrow_udf("array<struct<gx: bigint, gy: bigint>>")
    def _pix(pts: pa.Array) -> pa.Array:
        offs, gx, gy = _project(pts, scale)
        vals = pa.StructArray.from_arrays(
            [pa.array(gx, pa.int64()), pa.array(gy, pa.int64())], names=["gx", "gy"]
        )
        return pa.ListArray.from_arrays(pa.array(offs, pa.int32()), vals)

    return _pix


def _segment_tile_fanout(ways: DataFrame, scale: int, tp: int) -> DataFrame:
    """(way_id, pts) -> one row per (segment PIECE, touched tile): way_id,
    tx, ty, x0, y0, x1, y1 (global pixel coords of the FULL segment),
    k_lo, k_hi (the piece's sample sub-range). Pure JVM after the one
    Arrow projection exchange: inline explodes of transform/sequence
    (generators stay fused with their explode, CLAUDE.md).

    Piece rule (kernels/raster.py segment_pieces is the scalar statement):
    the pixel walk's sample range [0, n-1] splits into non-overlapping
    chunks of `tp` samples; a chunk's endpoint samples span a rect (the
    walk is monotone per axis) of at most 2x2 tiles, and the chunk fans
    only to THAT rect. So a continental segment amplifies O(length/tp),
    never O(area/tp^2) as whole-segment rectangles would, and each tile
    receives only pieces whose samples can actually land in it — the
    rasterizer then walks O(tp) samples per piece instead of the whole
    segment. floor((d*k)/n1) is spelled (v - pmod(v, n1)) div n1 so SQL
    integer math floors exactly like the numpy/Python twins.

    Domain: the exact floor division multiplies span * sample_index, so a
    single segment's pixel span must stay below ~2^31.5 (ANSI int64
    overflow raises beyond that — loud, never wrong). At 256px tiles that
    is every zoom <= 23; beyond, split mega-segments upstream."""
    seg = (
        ways.select("way_id", _pix_udf(scale)(F.col("pts")).alias("gp"))
        .select(
            "way_id",
            F.expr(
                "explode(transform(slice(gp, 1, size(gp)-1), (p, i) -> "
                "struct(i AS seg_idx, p.gx AS x0, p.gy AS y0, "
                "gp[i+1].gx AS x1, gp[i+1].gy AS y1))) AS s"
            ),
        )
        .select("way_id", "s.*")
    )

    def fd(v: str, d: str) -> str:  # exact floor division in SQL
        return f"(({v}) - pmod({v}, {d})) div ({d})"

    n1 = "greatest(abs(x1-x0), abs(y1-y0))"
    piece = (
        seg.select(
            "way_id",
            "seg_idx",
            "x0",
            "y0",
            "x1",
            "y1",
            F.expr(
                f"explode(transform(sequence(0L, {n1} div {tp}), j -> named_struct("
                f"'k_lo', j * {tp}, 'k_hi', least(j * {tp} + {tp - 1}, {n1})))) AS p"
            ),
        )
        .select(
            "way_id",
            "seg_idx",
            "x0",
            "y0",
            "x1",
            "y1",
            F.col("p.k_lo").alias("k_lo"),
            F.col("p.k_hi").alias("k_hi"),
            F.expr(f"x0 + {fd('(x1-x0) * p.k_lo', f'greatest({n1}, 1)')}").alias("ax"),
            F.expr(f"y0 + {fd('(y1-y0) * p.k_lo', f'greatest({n1}, 1)')}").alias("ay"),
            F.expr(f"x0 + {fd('(x1-x0) * p.k_hi', f'greatest({n1}, 1)')}").alias("bx"),
            F.expr(f"y0 + {fd('(y1-y0) * p.k_hi', f'greatest({n1}, 1)')}").alias("by"),
        )
    )
    return (
        piece.select(
            "way_id",
            "seg_idx",
            "x0",
            "y0",
            "x1",
            "y1",
            "k_lo",
            "k_hi",
            F.expr(
                f"explode(flatten(transform("
                f"sequence(least(ax, bx) div {tp}, greatest(ax, bx) div {tp}), "
                f"tx -> transform(sequence(least(ay, by) div {tp}, greatest(ay, by) div {tp}), "
                f"ty -> struct(tx AS tx, ty AS ty))))) AS t"
            ),
        )
        .select(
            "way_id", "seg_idx", "t.tx", "t.ty",
            "x0", "y0", "x1", "y1", "k_lo", "k_hi",
        )
    )


# one viewport tile row: the columns both render paths return
_TILE_SCHEMA = pa.schema(
    [
        ("tile_x", pa.int64()),
        ("tile_y", pa.int64()),
        ("n_ways", pa.int64()),
        ("n_px", pa.int64()),
        ("px_crc", pa.int64()),
        ("payload", pa.binary()),
    ]
)


def _columns(rows: list[tuple], fields: list[pa.Field]) -> list[pa.Array]:
    """Row tuples -> one Arrow array per field, typed by the field."""
    return [pa.array([r[j] for r in rows], f.type) for j, f in enumerate(fields)]


def _raster_tile(wid, x0, y0, x1, y1, k_lo, k_hi, tp: int, fmt: str) -> tuple:
    """ONE tile from its segment pieces (tile-local pixel coords) ->
    (n_ways, n_px, px_crc, payload) — the single statement of the per-tile
    rule, shared by the raster UDF and the driver-side viewport path."""
    import zlib

    img = raster.rasterize_segments(x0, y0, x1, y1, tp, tp, k_lo=k_lo, k_hi=k_hi)
    return (
        int(np.unique(wid).size),
        int(np.count_nonzero(img)),
        zlib.crc32(img.tobytes()),
        codec.encode_image(np.repeat(img[:, :, None], 3, axis=2), fmt, _TILE_PNGZ_LEVEL),
    )


def _viewport_tiles_arrow(
    table_path: str,
    bbox,
    zoom: int,
    tile_px: int,
    base_level: int,
    fmt: str,
) -> pa.Table | None:
    """The driver path of render_tile_images: the viewport's tiles as one
    pa.Table (_TILE_SCHEMA, sorted by tile), or None when a size known
    before any job is over its cap — first the viewport's tile count
    (bounded.SMALL_OVERZOOM_TILES: the same single-threaded per-tile codec
    cost as the driver-side overzoom), then the rows and bytes of its
    pruned files (ingest.ViewportScan.read_arrow, the gate every
    driver-side viewport read shares). Fans the kept ways' segment pieces
    out to tiles in numpy (raster.segment_tile_pieces) and renders each
    tile with _raster_tile: zero Spark jobs."""
    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tile_px)
    if (tx1 - tx0 + 1) * (ty1 - ty0 + 1) > bounded.SMALL_OVERZOOM_TILES:
        return None
    ways = ingest.viewport_scan(table_path, bbox, zoom, base_level).read_arrow(
        ["way_id", "pts", "lat", "lon"]
    )
    if ways is None:
        return None
    tp = tile_px
    offs, gx, gy = _project(ways.column("pts"), tp << zoom)
    p = raster.segment_tile_pieces(offs, gx, gy, tp)
    tx, ty = p["tx"], p["ty"]
    keep = (tx >= tx0) & (tx <= tx1) & (ty >= ty0) & (ty <= ty1)
    order = np.flatnonzero(keep)
    order = order[np.lexsort((ty[order], tx[order]))]
    wid = ways.column("way_id").to_numpy()[p["line"][order]]
    tx, ty = tx[order], ty[order]
    x0, y0 = p["x0"][order] - tx * tp, p["y0"][order] - ty * tp
    x1, y1 = p["x1"][order] - tx * tp, p["y1"][order] - ty * tp
    k_lo, k_hi = p["k_lo"][order], p["k_hi"][order]
    first = np.ones(tx.size, bool)
    first[1:] = (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], tx.size)
    rows = [
        (int(tx[a]), int(ty[a]))
        + _raster_tile(
            wid[a:b], x0[a:b], y0[a:b], x1[a:b], y1[a:b], k_lo[a:b], k_hi[a:b], tp, fmt
        )
        for a, b in zip(starts, ends)
    ]
    return pa.Table.from_arrays(_columns(rows, list(_TILE_SCHEMA)), schema=_TILE_SCHEMA)


def render_tile_images(
    spark,
    table_path: str | None,
    bbox,
    zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
    ways: DataFrame | None = None,
    only_tiles=None,
) -> DataFrame:
    """One row per viewport tile: (tile_x, tile_y, n_ways, n_px, px_crc,
    payload). px_crc is zlib.crc32 of the raw mask bytes (the golden-twin
    handle); payload is the mask encoded as `fmt` via kernels/codec.
    Input is either a chunk-table path (S5 pruned render_read — anchor
    must fall in bbox) or a pre-read `ways` DataFrame of (way_id, pts)
    when the caller already holds the geometry (e.g. re-rendering an
    update's dirty tiles from post-diff entity stores).

    A table path with no work list whose viewport is under both caps of
    _viewport_tiles_arrow renders on the driver and returns its table as
    a local relation (bounded.arrow_frame): this call runs no Spark job
    and collecting the result runs one. Otherwise the Spark plan below.

    `only_tiles` (list of (tx, ty)) restricts the render to a WORK LIST
    BEFORE the rasterize shuffle — semantically identical to rendering the
    viewport and keeping those tiles, but the discarded tiles are never
    rasterized (the r7 fix that made dirty re-renders dirty-proportional
    in compute, not just I/O)."""
    if ways is None:
        tbl = None
        if only_tiles is None:
            tbl = _viewport_tiles_arrow(table_path, bbox, zoom, tile_px, base_level, fmt)
        if tbl is not None:
            return bounded.arrow_frame(spark, tbl)
        ways = ingest.render_read(spark, table_path, bbox, zoom, base_level=base_level)
    scale = tile_px << zoom
    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tile_px)
    tp = tile_px
    tiles = _segment_tile_fanout(ways, scale, tp).filter(
        f"tx BETWEEN {tx0} AND {tx1} AND ty BETWEEN {ty0} AND {ty1}"
    )
    if only_tiles is not None:
        want = spark.createDataFrame(
            [(int(a), int(b)) for a, b in only_tiles], "tx long, ty long"
        )
        tiles = tiles.join(F.broadcast(want), ["tx", "ty"])
    # way_id rides inside the collected struct and the distinct-way count
    # moves into the raster UDF (np.unique per group): a count_distinct
    # BESIDE collect_list forces the aggregate out of the cheap plan
    # (measured ~1.6x on the grouped stage at sf0.1) for a value the UDF
    # derives for free from rows it already receives (guide §2.3).
    grouped = tiles.groupBy("tx", "ty").agg(
        F.collect_list(
            F.struct(
                F.col("way_id").alias("w"),
                (F.col("x0") - F.col("tx") * tp).alias("x0"),
                (F.col("y0") - F.col("ty") * tp).alias("y0"),
                (F.col("x1") - F.col("tx") * tp).alias("x1"),
                (F.col("y1") - F.col("ty") * tp).alias("y1"),
                F.col("k_lo"),
                F.col("k_hi"),
            )
        ).alias("segs"),
    )

    @F.arrow_udf("struct<n_ways: bigint, n_px: bigint, px_crc: bigint, payload: binary>")
    def _raster(segs: pa.Array) -> pa.Array:
        if isinstance(segs, pa.ChunkedArray):
            segs = segs.combine_chunks()
        offs = _list_offsets(segs)
        flat = segs.flatten()
        cols = [
            flat.field(f).to_numpy(zero_copy_only=False)
            for f in ("w", "x0", "y0", "x1", "y1", "k_lo", "k_hi")
        ]
        out = [
            _raster_tile(*(c[offs[i] : offs[i + 1]] for c in cols), tp, fmt)
            for i in range(len(offs) - 1)
        ]
        fields = list(_TILE_SCHEMA)[2:]
        return pa.StructArray.from_arrays(
            _columns(out, fields), names=[f.name for f in fields]
        )

    return grouped.select(
        F.col("tx").cast("long").alias("tile_x"),
        F.col("ty").cast("long").alias("tile_y"),
        _raster(F.col("segs")).alias("r"),
    ).select("tile_x", "tile_y", "r.n_ways", "r.n_px", "r.px_crc", "r.payload")


def _pool_group(group, tp: int, fmt: str) -> np.ndarray:
    """ONE parent's 2x max-pool mosaic from its <=4 children — the single
    statement of the overzoom pixel rule, shared by the Spark UDF and the
    driver-side small-level path (the scalar twins in tests/goldens remain
    the independent checks). `group`: dicts with qx, qy, payload."""
    mosaic = np.zeros((2 * tp, 2 * tp), np.uint8)
    for ch in group:
        img = codec.decode_image(bytes(ch["payload"]), fmt, tp, tp)
        qy, qx = int(ch["qy"]) * tp, int(ch["qx"]) * tp
        mosaic[qy : qy + tp, qx : qx + tp] = img[:, :, 0]
    return mosaic.reshape(tp, 2, tp, 2).max(axis=(1, 3))


def overzoom_rows_local(rows, tile_px: int = 256, fmt: str = "pngz"):
    """Driver-side overzoom of ONE level: `rows` iterable of (tile_x,
    tile_y, payload) -> sorted list of parent tuples (tile_x, tile_y,
    n_children, n_px, px_crc, payload). Same per-parent rule as
    overzoom_tiles (shared _pool_group); exists so viewport-bounded
    pyramid levels can roll up without a Spark shuffle + UDF job."""
    import zlib

    groups: dict[tuple[int, int], list[dict]] = {}
    for tx, ty, payload in rows:
        tx, ty = int(tx), int(ty)  # viewport tiles are non-negative
        groups.setdefault((tx // 2, ty // 2), []).append(
            {"qx": tx % 2, "qy": ty % 2, "payload": payload}
        )
    out = []
    for (ptx, pty), group in sorted(groups.items()):
        pooled = _pool_group(group, tile_px, fmt)
        out.append(
            (
                ptx,
                pty,
                len(group),
                int(np.count_nonzero(pooled)),
                zlib.crc32(pooled.tobytes()),
                codec.encode_image(
                    np.repeat(pooled[:, :, None], 3, axis=2), fmt, _TILE_PNGZ_LEVEL
                ),
            )
        )
    return out


def overzoom_tiles(tiles: DataFrame, tile_px: int = 256, fmt: str = "pngz") -> DataFrame:
    """ONE zoom step of the raster tile pyramid: zoom-z tiles
    (tile_x, tile_y, payload) -> zoom-(z-1) tiles. The standard map-tile
    rollup: each parent mosaics its <=4 children (child (tx, ty) lands in
    quadrant (tx & 1, ty & 1) of parent (tx div 2, ty div 2)) and
    downsamples 2x by per-block MAX — masks are 0/255 so max-pool == OR,
    a thin line stays visible at every level (mean-pooling would fade it
    below any threshold after a few levels). Missing children are empty.

    100 TB posture: ONE shuffle keyed by parent tile with a hard fan-in of
    4 (never data-sized); decode/pool/encode runs where the groups land;
    building z-1 from z touches only tile payloads, never source geometry
    — at planet scale each level is materialized to the tile sink and the
    next level reads it, so the full pyramid is sum-of-levels cost
    (geometric series, ~1.33x the base zoom)."""
    tp = tile_px

    @F.arrow_udf("struct<n_px: bigint, px_crc: bigint, payload: binary>")
    def _pool(children: pa.Array) -> pa.Array:
        import zlib

        if isinstance(children, pa.ChunkedArray):
            children = children.combine_chunks()
        n_px, crcs, payloads = [], [], []
        for group in children.to_pylist():
            pooled = _pool_group(group, tp, fmt)
            n_px.append(int(np.count_nonzero(pooled)))
            crcs.append(zlib.crc32(pooled.tobytes()))
            payloads.append(
                codec.encode_image(np.repeat(pooled[:, :, None], 3, axis=2), fmt, _TILE_PNGZ_LEVEL)
            )
        return pa.StructArray.from_arrays(
            [
                pa.array(n_px, pa.int64()),
                pa.array(crcs, pa.int64()),
                pa.array(payloads, pa.binary()),
            ],
            names=["n_px", "px_crc", "payload"],
        )

    return (
        tiles.select(
            F.expr("tile_x div 2").alias("ptx"),
            F.expr("tile_y div 2").alias("pty"),
            F.struct(
                (F.col("tile_x") % 2).alias("qx"),
                (F.col("tile_y") % 2).alias("qy"),
                F.col("payload"),
            ).alias("child"),
        )
        .groupBy("ptx", "pty")
        .agg(
            F.count("*").alias("n_children"),
            F.collect_list("child").alias("children"),
        )
        .select(
            F.col("ptx").cast("long").alias("tile_x"),
            F.col("pty").cast("long").alias("tile_y"),
            F.col("n_children").cast("long").alias("n_children"),
            _pool(F.col("children")).alias("r"),
        )
        .select("tile_x", "tile_y", "n_children", "r.n_px", "r.px_crc", "r.payload")
    )


def _tile_rows(tbl: pa.Table) -> list[tuple]:
    """A render_tile_images table as row tuples (tile_x, tile_y, n_ways,
    n_px, px_crc, payload) — _level_table_arrow's input shape."""
    return list(zip(*(tbl.column(f.name).to_pylist() for f in _TILE_SCHEMA)))


def _level_table_arrow(z: int, parents: list) -> "pa.Table":
    """(zoom, tile_x, tile_y, n_src, n_px, px_crc, payload) pa.Table from
    overzoom_rows_local output."""
    return pa.table(
        {
            "zoom": pa.array([z] * len(parents), pa.int64()),
            "tile_x": pa.array([p[0] for p in parents], pa.int64()),
            "tile_y": pa.array([p[1] for p in parents], pa.int64()),
            "n_src": pa.array([p[2] for p in parents], pa.int64()),
            "n_px": pa.array([p[3] for p in parents], pa.int64()),
            "px_crc": pa.array([p[4] for p in parents], pa.int64()),
            "payload": pa.array([p[5] for p in parents], pa.binary()),
        }
    )


def _as_level(tiles: DataFrame, zoom: int, count_col: str) -> DataFrame:
    """Tile rows as pyramid level `zoom`: `count_col` (n_ways of a render,
    n_children of an overzoom) becomes n_src, in _LEVEL_COLS order."""
    return (
        tiles.withColumnRenamed(count_col, "n_src")
        .withColumn("zoom", F.lit(zoom).cast("long"))
        .select(*_LEVEL_COLS)
    )


def _overzoom_level_local(
    t, child_paths: list[str], z: int, tile_px: int, fmt: str, level_partitions: int
) -> None:
    """Roll ONE sink pyramid level driver-side: read the (small, local,
    zoom-pruned) children files with pyarrow, pool with the shared
    _pool_group rule, write + commit the level — zero Spark jobs."""
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as _pq

    rows: list = []
    for p in child_paths:
        ft = _pq.read_table(p, columns=["zoom", "tile_x", "tile_y", "payload"])
        ft = ft.filter(pc.equal(ft.column("zoom"), z + 1))
        rows.extend(
            zip(
                ft.column("tile_x").to_pylist(),
                ft.column("tile_y").to_pylist(),
                ft.column("payload").to_pylist(),
            )
        )
    parents = overzoom_rows_local(rows, tile_px, fmt)
    stage = tempfile.mkdtemp(prefix=f"pyr_z{z}_")
    bounded.write_sorted(_level_table_arrow(z, parents), stage, _TILE_KEYS, level_partitions)
    t.commit_staged(stage, group=f"z{z}", chunk_col="tile_x", extra_stats={"zoom": z})


def render_tile_pyramid(
    spark,
    table_path: str,
    bbox,
    zoom: int,
    min_zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
) -> DataFrame:
    """Full raster pyramid for a viewport: render the base zoom from
    geometry (render_tile_images), then overzoom level by level down to
    `min_zoom`. One row per (zoom, tile): zoom, tile_x, tile_y, n_src
    (ways at the base zoom, children above), n_px, px_crc, payload.
    Each level is materialized (localCheckpoint — viewport-bounded tile
    count) before feeding the next, mirroring the write-z/read-z-minus-1
    shape a planet-scale pipeline uses against the tile sink."""
    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tile_px)
    tbl = None
    if (tx1 - tx0 + 1) * (ty1 - ty0 + 1) <= bounded.SMALL_OVERZOOM_TILES:
        # viewport-bounded pyramid: the base level comes to the driver
        # once (rendered there when its rows fit, else collected from the
        # Spark render) and every coarser level rolls up driver-side via
        # the shared _pool_group rule — replaces one localCheckpoint +
        # shuffle + UDF job per level with plain numpy over a few MB
        tbl = _viewport_tiles_arrow(table_path, bbox, zoom, tile_px, base_level, fmt)
        if tbl is None:
            tbl = bounded.bounded_arrow(
                render_tile_images(spark, table_path, bbox, zoom, tile_px, base_level, fmt)
            )
    if tbl is not None:
        rows = _tile_rows(tbl)
        parts = [_level_table_arrow(zoom, rows)]
        for z in range(zoom - 1, min_zoom - 1, -1):
            rows = overzoom_rows_local([(r[0], r[1], r[5]) for r in rows], tile_px, fmt)
            parts.append(_level_table_arrow(z, rows))
        return spark.createDataFrame(pa.concat_tables(parts))
    base = _as_level(
        render_tile_images(spark, table_path, bbox, zoom, tile_px, base_level, fmt),
        zoom,
        "n_ways",
    ).localCheckpoint()
    levels = [base]
    cur = base
    for z in range(zoom - 1, min_zoom - 1, -1):
        cur = _as_level(
            overzoom_tiles(cur.select("tile_x", "tile_y", "payload"), tile_px, fmt),
            z,
            "n_children",
        ).localCheckpoint()
        levels.append(cur)
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


def build_pyramid_table(
    spark,
    chunk_table_path: str,
    out_table_path: str,
    bbox,
    zoom: int,
    min_zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
    level_partitions: int = 4,
):
    """Materialize the raster pyramid INTO a tile sink, level by level:
    the base zoom renders from geometry and commits as group 'z{zoom}';
    each coarser level reads its children BACK FROM THE SINK and commits
    as its own group — the literal write-z/read-z-1 shape a planet-scale
    pipeline uses (each level is sum-of-children cost; the whole pyramid
    a ~1.33x geometric series over the base). Levels are exactly-once via
    the committed-group ledger, so a killed build RESUMES at the first
    uncommitted level; tile_x min/max lineage is stamped per file for
    range pruning of tile fetches. Returns the IcepickTable."""
    import tempfile

    from coords_spark.sources.icepick import IcepickTable

    t = IcepickTable.create(out_table_path)

    def _commit(df: DataFrame | None, z: int, tbl: pa.Table | None = None) -> None:
        stage = tempfile.mkdtemp(prefix=f"pyr_z{z}_")
        # viewport-bounded levels (tile count known from the bbox BEFORE
        # any job) collect as Arrow and write their range-clustered files
        # driver-side: one job executes the render chain exactly once,
        # replacing localCheckpoint + range-sampling + write (the
        # checkpoint existed only to keep the sampling pass from
        # re-rendering). Bigger levels keep that classic path. A level
        # already on the driver (`tbl`) writes with no job at all.
        tx0_, tx1_, ty0_, ty1_ = bbox_tile_range(bbox, z, tile_px)
        if tbl is None and (tx1_ - tx0_ + 1) * (ty1_ - ty0_ + 1) <= bounded.SMALL_LEVEL_TILES:
            tbl = bounded.bounded_arrow(df)
        if tbl is not None:
            bounded.write_sorted(tbl, stage, _TILE_KEYS, level_partitions)
        else:
            df = df.localCheckpoint()
            # range-cluster by tile so each file's tile_x lineage is TIGHT —
            # this is what lets refresh_pyramid_table rewrite only the files
            # a dirty tile can live in (and tile fetches range-prune)
            df.repartitionByRange(level_partitions, "tile_x", "tile_y").write.mode(
                "overwrite"
            ).parquet(stage)
        # each entry carries its zoom so refresh_pyramid_table can identify
        # a level's files regardless of which commit (build or a later
        # refresh) produced them
        t.commit_staged(stage, group=f"z{z}", chunk_col="tile_x", extra_stats={"zoom": z})

    if f"z{zoom}" not in t.committed_groups():
        tbl = _viewport_tiles_arrow(chunk_table_path, bbox, zoom, tile_px, base_level, fmt)
        if tbl is not None:
            _commit(None, zoom, _level_table_arrow(zoom, _tile_rows(tbl)))
        else:
            base = render_tile_images(
                spark, chunk_table_path, bbox, zoom, tile_px, base_level, fmt
            )
            _commit(_as_level(base, zoom, "n_ways"), zoom)
    import os as _os

    for z in range(zoom - 1, min_zoom - 1, -1):
        if f"z{z}" in t.committed_groups():
            continue
        # manifest zoom stamps prune the children read to the level above
        # BEFORE Spark sees a path (files without a stamp stay, filtered
        # by the predicate as before)
        child_paths = [
            _os.path.join(t.path, e["path"])
            for e in t.files()
            if e.get("zoom") in (z + 1, None)
        ]
        if not child_paths:
            # the level above committed no file (an empty viewport): there
            # is nothing to roll up, and Spark cannot read zero paths
            t.mark_group_committed(f"z{z}")
            continue
        ctx0, ctx1, cty0, cty1 = bbox_tile_range(bbox, z + 1, tile_px)
        if (ctx1 - ctx0 + 1) * (cty1 - cty0 + 1) <= bounded.SMALL_OVERZOOM_TILES:
            _overzoom_level_local(t, child_paths, z, tile_px, fmt, level_partitions)
            continue
        children = (
            t.read(spark, child_paths)
            .filter(F.col("zoom") == z + 1)
            .select("tile_x", "tile_y", "payload")
        )
        _commit(_as_level(overzoom_tiles(children, tile_px, fmt), z, "n_children"), z)
    return t


def _refresh_level_local(
    t,
    upper_entries: list[dict],
    aff_entries: list[dict],
    tiles: list,
    child_set: list,
    z: int,
    tile_px: int,
    fmt: str,
    gname: str,
) -> None:
    """Refresh ONE coarser pyramid level driver-side: read the refreshed
    children of the dirty parents from the (small, zoom+range-pruned)
    level-above files, pool with the shared _pool_group rule, carry the
    affected files' non-dirty rows over, commit — zero Spark jobs."""
    import os as _os
    import tempfile

    import pyarrow.parquet as _pq

    want = set(map(tuple, child_set))
    rows = []
    for e in upper_entries:
        ft = _pq.read_table(_os.path.join(t.path, e["path"]), columns=["tile_x", "tile_y", "payload"])
        for tx, ty, payload in zip(
            ft.column("tile_x").to_pylist(),
            ft.column("tile_y").to_pylist(),
            ft.column("payload").to_pylist(),
        ):
            if (tx, ty) in want:
                rows.append((tx, ty, payload))
    parents = overzoom_rows_local(rows, tile_px, fmt)
    parts = [_level_table_arrow(z, parents)]
    dirty_set = set(map(tuple, tiles))
    for e in aff_entries:
        ft = _pq.read_table(_os.path.join(t.path, e["path"]))
        keep_idx = [
            i
            for i, (tx, ty) in enumerate(
                zip(ft.column("tile_x").to_pylist(), ft.column("tile_y").to_pylist())
            )
            if (tx, ty) not in dirty_set
        ]
        if keep_idx:
            parts.append(ft.take(keep_idx).select(_LEVEL_COLS).cast(parts[0].schema))
    tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
    stage = tempfile.mkdtemp(prefix=f"pyr_refresh_z{z}_")
    bounded.write_sorted(tbl, stage, _TILE_KEYS, 1)
    t.commit_replace(
        stage,
        [e["path"] for e in aff_entries],
        group=gname,
        chunk_col="tile_x",
        extra_stats={"zoom": z},
    )


def refresh_pyramid_table(
    spark,
    chunk_table_path: str,
    pyramid_table_path: str,
    bbox,
    dirty,
    zoom: int,
    min_zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
    group: str = "refresh",
    level_partitions: int = 4,
) -> dict:
    """Apply a tile-expiry list to an existing sink pyramid — the
    incremental tile pipeline's last mile. `dirty` is the dirty_tiles
    output ((zoom, tile_x, tile_y) rows or tuples; MUST be
    ancestor-closed, which dirty_tiles guarantees). Per level, top down:
    the base zoom re-renders its dirty tiles from the post-update chunk
    table (render_dirty_tiles — pruned I/O); each coarser level re-rolls
    its dirty parents by reading their <=4 children back from the
    already-refreshed level above. Only files whose tile_x lineage can
    hold a dirty tile are rewritten (their non-dirty rows carried over
    verbatim); one atomic commit_replace per level, ledgered as
    '{group}-z{z}' so a killed refresh resumes at the first uncommitted
    level. Dirty tiles with no post content simply drop, matching a
    fresh rebuild. Work is dirty-proportional: reads, renders, rolls and
    rewrites all scale with the expiry list, never the pyramid."""
    import os as _os
    import tempfile

    from coords_spark.sources.icepick import IcepickTable

    t = IcepickTable(pyramid_table_path)
    # every pyramid file must carry its zoom stamp — a file without one
    # would be silently excluded from the per-level children/affected-file
    # scans below, leaving stale rows beside re-rendered ones (ADVICE r6);
    # refuse loudly instead (compact() preserves the stamp since r7)
    unstamped = [e["path"] for e in t.files() if e.get("zoom") is None]
    if unstamped:
        raise ValueError(
            f"pyramid table {pyramid_table_path} has files without a 'zoom' "
            f"stat (written by a pre-r7 compact?): {unstamped[:4]}"
        )
    # clip the expiry list to the pyramid's viewport FIRST: dirty_tiles is
    # global (an update can dirty tiles of many viewports/pyramids), while
    # this pyramid only holds bbox's tiles — a handful of moved nodes on
    # world-spanning ways can dirty 100k+ tiles globally but only the
    # viewport slice exists here. Clip before any collect/planning so the
    # refresh is proportional to dirty-WITHIN-viewport.
    view = {z: bbox_tile_range(bbox, z, tile_px) for z in range(min_zoom, zoom + 1)}
    if isinstance(dirty, DataFrame):
        clip = None
        for z, (tx0, tx1, ty0, ty1) in view.items():
            c = (
                (F.col("zoom") == z)
                & F.col("tile_x").between(tx0, tx1)
                & F.col("tile_y").between(ty0, ty1)
            )
            clip = c if clip is None else (clip | c)
        dirty = [
            (r["zoom"], r["tile_x"], r["tile_y"])
            for r in dirty.filter(clip)
            .select("zoom", "tile_x", "tile_y")
            .distinct()
            .collect()
        ]
    by_z: dict[int, set] = {}
    for z, tx, ty in dirty:
        z, tx, ty = int(z), int(tx), int(ty)
        if z not in view:
            continue
        tx0, tx1, ty0, ty1 = view[z]
        if tx0 <= tx <= tx1 and ty0 <= ty <= ty1:
            by_z.setdefault(z, set()).add((tx, ty))
    stats: dict = {}
    levels = list(range(zoom, min_zoom - 1, -1))

    def _aff_files(z: int, tiles: list) -> list[dict]:
        txs = {tx for tx, _ in tiles}
        return [
            e
            for e in t.files()
            if e.get("zoom") == z
            and (
                e["chunk_min"] is None
                or any(e["chunk_min"] <= tx <= e["chunk_max"] for tx in txs)
            )
        ]

    def _staged_level(z: int, staged, aff: list[dict]):
        if aff:
            tiles_df = spark.createDataFrame(
                sorted(by_z[z]), "tile_x long, tile_y long"
            )
            keep = (
                t.read(spark, [_os.path.join(t.path, e["path"]) for e in aff])
                .join(F.broadcast(tiles_df), ["tile_x", "tile_y"], "left_anti")
                .select(*_LEVEL_COLS)
            )
            staged = staged.unionByName(keep)
        return staged

    def _write_staged(staged, stage: str, n_dirty: int):
        """Small dirty sets collect the staged level as Arrow and write
        ONE sorted file driver-side (one job: no range sampling, no
        pre-write checkpoint, no parquet-committer fixed cost); large sets
        keep the range write, checkpointed first so sampling cannot
        re-render (CLAUDE.md gotcha)."""
        tbl = None
        if n_dirty <= bounded.SMALL_REFRESH_TILES:
            tbl = bounded.bounded_arrow(staged)
        if tbl is not None:
            bounded.write_sorted(tbl, stage, _TILE_KEYS, 1)
        else:
            staged = staged.localCheckpoint()
            staged.repartitionByRange(
                level_partitions, "tile_x", "tile_y"
            ).write.mode("overwrite").parquet(stage)

    for z in levels:
        gname = f"{group}-z{z}"
        tiles = sorted(by_z.get(z, ()))
        if gname in t.committed_groups():
            stats[z] = "replayed"
            continue
        if not tiles:
            stats[z] = {"dirty": 0, "files_rewritten": 0}
            continue
        if z == zoom:
            new_rows = _as_level(
                render_dirty_tiles(
                    spark, chunk_table_path, bbox, tiles, z, tile_px, base_level, fmt
                ),
                z,
                "n_ways",
            )
        else:
            child_set = [
                (2 * tx + dx, 2 * ty + dy)
                for tx, ty in tiles
                for dx in (0, 1)
                for dy in (0, 1)
            ]
            upper = _aff_files(z + 1, child_set)
            # dirty-bounded coarser level: children fetch + pool + carry-
            # over + commit all run driver-side (zero Spark jobs)
            if (
                len(tiles) <= bounded.SMALL_REFRESH_TILES
                and len(child_set) <= bounded.SMALL_OVERZOOM_TILES
            ):
                aff = _aff_files(z, tiles)
                _refresh_level_local(t, upper, aff, tiles, child_set, z, tile_px, fmt, gname)
                stats[z] = {"dirty": len(tiles), "files_rewritten": len(aff)}
                continue
            if upper:
                child_df = spark.createDataFrame(child_set, "tile_x long, tile_y long")
                children = (
                    t.read(spark, [_os.path.join(t.path, e["path"]) for e in upper])
                    .join(F.broadcast(child_df), ["tile_x", "tile_y"])
                    .select("tile_x", "tile_y", "payload")
                )
            else:
                # no file of the level above can hold a child, and Spark
                # cannot read zero paths
                children = spark.createDataFrame([], "tile_x long, tile_y long, payload binary")
            new_rows = _as_level(overzoom_tiles(children, tile_px, fmt), z, "n_children")
        aff = _aff_files(z, tiles)
        stage = tempfile.mkdtemp(prefix=f"pyr_refresh_z{z}_")
        _write_staged(_staged_level(z, new_rows, aff), stage, len(tiles))
        t.commit_replace(
            stage,
            [e["path"] for e in aff],
            group=gname,
            chunk_col="tile_x",
            extra_stats={"zoom": z},
        )
        stats[z] = {"dirty": len(tiles), "files_rewritten": len(aff)}
    return stats


def render_dirty_tiles(
    spark,
    table_path: str,
    bbox,
    tiles,
    zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
) -> DataFrame:
    """Work-list re-render — the production shape of the expiry loop:
    render EXACTLY `tiles` (e.g. the dirty_tiles list at this zoom) of
    the `bbox` viewport, reading ONLY chunk-table files whose range
    lineage can hold a way overlapping one of those tiles. Ways are
    chunked by their ENVELOPE cell, so each tile's quadtree cover ranges
    (ancestors included) are a sound superset of every way whose geometry
    can cross it; the union of per-tile ranges drives the manifest
    pruning, then the viewport anchor predicate keeps semantics identical
    to render_tile_images(bbox) restricted to `tiles`.

    `tiles` is the work list itself (a bounded, driver-side dirty set —
    at 100 TB the per-batch expiry list, not anything data-sized); I/O is
    proportional to the dirty area, not the viewport or the table."""
    from coords_spark.kernels import zcurve
    from coords_spark.sources.icepick import IcepickTable

    # a set: a tile listed twice still renders as one row
    tiles = sorted({(int(a), int(b)) for a, b in tiles})
    shift = zcurve.MAX_LEVEL - zoom
    ranges: list[tuple[int, int]] = []
    if len(tiles) > 256:
        # large work list: one conservative cover over the tiles' bounding
        # box instead of |tiles| quadtree walks — pruning only ever shrinks
        # I/O, and planning must stay cheap when the list is big
        txs = [t[0] for t in tiles]
        tys = [t[1] for t in tiles]
        ranges = zcurve.bbox_cover_ranges(
            min(txs) << shift, min(tys) << shift,
            ((max(txs) + 1) << shift) - 1, ((max(tys) + 1) << shift) - 1,
            zoom, max_level=base_level,
        )
    else:
        for tx, ty in tiles:
            ranges += zcurve.bbox_cover_ranges(
                tx << shift, ty << shift,
                ((tx + 1) << shift) - 1, ((ty + 1) << shift) - 1,
                zoom, max_level=base_level,
            )
    t = IcepickTable(table_path)
    paths = t.data_paths_ranges(ranges)
    lat0, lon0, lat1, lon1 = bbox
    lat0, lat1 = min(lat0, lat1), max(lat0, lat1)
    lon0, lon1 = min(lon0, lon1), max(lon0, lon1)
    # miss path: plan from the manifest schema, open no data file
    ways = t.read(spark, paths).filter(
        F.col("lat").between(lat0, lat1) & F.col("lon").between(lon0, lon1)
    ).select("way_id", "pts")
    return render_tile_images(
        spark, None, bbox, zoom, tile_px, base_level, fmt, ways=ways,
        only_tiles=tiles,
    )


def dirty_tiles(
    changed_geom: DataFrame,
    zoom: int,
    min_zoom: int | None = None,
    tile_px: int = 256,
) -> DataFrame:
    """Tile-expiry set for an update batch (the public osm2pgsql
    "expire-tiles" concept, composed with this engine's update family):
    given the OLD and NEW geometry of every way an update touched —
    caller unions pre-diff and post-diff `(way_id, pts)` rows, including
    deleted ways' pre-diff geometry (a tile must re-render to ERASE as
    much as to draw) — emit the distinct (zoom, tile_x, tile_y) whose
    raster content can differ, for every zoom in [min_zoom, zoom].

    Completeness: render_tile_images marks pixels only along segments,
    and _segment_tile_fanout covers each segment's full tile bounding
    rectangle, so any tile whose mask or way fan-in changes is touched by
    an old or new segment of a changed way and lands here. Ancestors are
    the base tiles shifted right level by level — exactly the parents
    overzoom_tiles would rebuild.

    100 TB posture: the input is the update's blast radius (the same
    diff-proportional set apply_way_diff rewrites), never the planet;
    one Arrow projection exchange + JVM explodes, then distincts bounded
    by the dirty-set size. The output feeds the tile sink as a work list:
    re-render the base tiles, then re-roll only the listed ancestors."""
    if min_zoom is None:
        min_zoom = zoom
    tp = tile_px
    base = (
        _segment_tile_fanout(changed_geom, tp << zoom, tp)
        .select("tx", "ty")
        .distinct()
    )
    return (
        base.select(
            F.explode(F.sequence(F.lit(min_zoom), F.lit(zoom))).alias("zoom"),
            "tx",
            "ty",
        )
        .select(
            F.col("zoom").cast("long").alias("zoom"),
            F.expr(f"shiftright(tx, cast({zoom} - zoom AS int))").cast("long").alias("tile_x"),
            F.expr(f"shiftright(ty, cast({zoom} - zoom AS int))").cast("long").alias("tile_y"),
        )
        .distinct()
    )


def vector_tiles(
    spark,
    table_path: str | None,
    bbox,
    zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    ways: DataFrame | None = None,
) -> DataFrame:
    """VECTOR tiles — the literal shape the reference's Mapnik companion
    consumes, made a per-tile artifact: for each viewport tile, every
    way's in-tile geometry as GenericGeometry-style LINE blobs
    (kernels/geomblob layout) in TILE-LOCAL integer pixel coords (the
    blob's (lat, lon) slots carry (y_local, x_local)). A way contributes
    one blob per maximal RUN of consecutive segments touching the tile
    (consecutive seg_idx chain back into a polyline), blobs concatenate
    in (way_id, first seg_idx) order — fully deterministic bytes.

    Plan: same piece fan-out as the raster path (tile membership by
    256-sample piece rects — a superset of any drawable pixel), distinct
    per (tile, way, segment), ONE shuffle keyed by tile; blob assembly
    runs where the groups land. Output: tile_x, tile_y, n_ways, n_geoms,
    n_segs, payload_crc, payload."""
    import zlib

    from coords_spark.kernels import geomblob

    scale = tile_px << zoom
    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tile_px)
    tp = tile_px
    if ways is None:
        ways = ingest.render_read(spark, table_path, bbox, zoom, base_level=base_level)
    segs = (
        _segment_tile_fanout(ways, scale, tp)
        .filter(f"tx BETWEEN {tx0} AND {tx1} AND ty BETWEEN {ty0} AND {ty1}")
        .select(
            "way_id",
            "seg_idx",
            "tx",
            "ty",
            (F.col("x0") - F.col("tx") * tp).alias("x0"),
            (F.col("y0") - F.col("ty") * tp).alias("y0"),
            (F.col("x1") - F.col("tx") * tp).alias("x1"),
            (F.col("y1") - F.col("ty") * tp).alias("y1"),
        )
        .distinct()  # several pieces of one segment may touch the tile
    )
    # n_ways derives inside the blob UDF (np.unique over the way_id field
    # already in the collected struct) — same count_distinct-beside-
    # collect_list plan regression as render_tile_images (guide §2.3)
    grouped = segs.groupBy("tx", "ty").agg(
        F.array_sort(
            F.collect_list(F.struct("way_id", "seg_idx", "x0", "y0", "x1", "y1"))
        ).alias("segs"),
    )

    # the geomblob layout stores int32 coords; tile-local endpoints are
    # int64 here (a piece carries the FULL segment's endpoints, and global
    # pixel coords reach 2^31 by zoom 23 at 256px — ADVICE r6). Saturate
    # instead of wrapping: a clamped endpoint stays millions of pixels
    # outside the tile window, so consumers (which clip to the tile) draw
    # the same in-window geometry, and bytes never silently corrupt.
    _I32 = (1 << 31) - 1

    @F.arrow_udf(
        "struct<n_ways: bigint, n_geoms: bigint, n_segs: bigint, "
        "payload_crc: bigint, payload: binary>"
    )
    def _assemble(segs_col: pa.Array) -> pa.Array:
        if isinstance(segs_col, pa.ChunkedArray):
            segs_col = segs_col.combine_chunks()
        offs = _list_offsets(segs_col)
        flat = segs_col.flatten()
        way_id = flat.field("way_id").to_numpy(zero_copy_only=False)
        seg_idx = flat.field("seg_idx").to_numpy(zero_copy_only=False)
        # int64 end-to-end; saturating cast to the blob's int32 slots
        fx0, fy0, fx1, fy1 = (
            np.clip(
                flat.field(f).to_numpy(zero_copy_only=False), -_I32 - 1, _I32
            ).astype(np.int32)
            for f in ("x0", "y0", "x1", "y1")
        )
        n_ways_l, n_geoms_l, n_segs_l, crcs, payloads = [], [], [], [], []
        for gi in range(len(offs) - 1):
            s0, s1 = offs[gi], offs[gi + 1]
            n = s1 - s0
            w = way_id[s0:s1]
            si = seg_idx[s0:s1]
            n_ways_l.append(int(np.unique(w).size))
            # run starts: way change OR a seg_idx gap (rows arrive sorted by
            # (way_id, seg_idx) from array_sort) — np.diff over both keys
            # replaces the per-segment Python while-loop (VERDICT r6 #8)
            if n:
                starts = np.concatenate(
                    ([0], 1 + np.flatnonzero((np.diff(w) != 0) | (np.diff(si) != 1)))
                )
                bounds = np.concatenate((starts, [n]))
            else:
                starts = bounds = np.zeros(1, dtype=np.int64)[:0]
            blobs = []
            for r in range(len(starts)):
                a, b = s0 + bounds[r], s0 + bounds[r + 1]
                ys = np.concatenate(([fy0[a]], fy1[a:b]))
                xs = np.concatenate(([fx0[a]], fx1[a:b]))
                blobs.append(
                    geomblob.encode_geom(
                        geomblob.GTYPE_LINE, int(way_id[a]), [(ys, xs)], []
                    )
                )
            payload = b"".join(blobs)
            n_geoms_l.append(len(blobs))
            n_segs_l.append(int(n))
            crcs.append(zlib.crc32(payload))
            payloads.append(payload)
        return pa.StructArray.from_arrays(
            [
                pa.array(n_ways_l, pa.int64()),
                pa.array(n_geoms_l, pa.int64()),
                pa.array(n_segs_l, pa.int64()),
                pa.array(crcs, pa.int64()),
                pa.array(payloads, pa.binary()),
            ],
            names=["n_ways", "n_geoms", "n_segs", "payload_crc", "payload"],
        )

    return grouped.select(
        F.col("tx").cast("long").alias("tile_x"),
        F.col("ty").cast("long").alias("tile_y"),
        _assemble(F.col("segs")).alias("v"),
    ).select(
        "tile_x", "tile_y", "v.n_ways", "v.n_geoms", "v.n_segs",
        "v.payload_crc", "v.payload",
    )


# ---------------------------------------------------------------------------
# polygon FILL rendering (VERDICT r6 ask #3) — multipolygon chunk tables
# reach tiles as filled areas, not just outlines
# ---------------------------------------------------------------------------


def _poly_rings(polys: DataFrame, scale: int) -> DataFrame:
    """(relation_id, poly_idx, outer, inners) -> one row per RING with
    projected global pixel coords: ring 0 = outer, 1.. = holes. One Arrow
    exchange (only ring coords ship); the concat/posexplode stays inline
    with its generator (CLAUDE.md)."""
    return polys.select(
        "relation_id",
        "poly_idx",
        F.expr("posexplode(concat(array(outer), inners))").alias("ring_idx", "ring"),
    ).select(
        "relation_id",
        "poly_idx",
        "ring_idx",
        _pix_udf(scale)(F.col("ring")).alias("gp"),
    )


def render_polygon_tiles(
    spark,
    table_path: str | None,
    bbox,
    zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
    polys: DataFrame | None = None,
) -> DataFrame:
    """Filled multipolygon raster tiles — the render path for T8 output
    (relation chunk tables): one row per viewport tile with (tile_x,
    tile_y, n_polys, n_px, px_crc, payload), masks filled by the scanline
    even/odd rule (kernels/raster.py fill_rings; holes via parity,
    overlapping POLYGONS combine by OR so one relation can never punch a
    hole in another).

    Tile membership is the polygon's OUTER-ring envelope rect — unlike
    lines, a fill legitimately touches every interior tile (a tile wholly
    inside the polygon gets a full mask), so the fan-out is
    O(covered tiles) by semantics, and each tile receives the polygon's
    ring coordinates once. Plan: one Arrow projection exchange, JVM
    envelope + tile explode, ONE shuffle keyed by viewport tile, fill
    where the groups land; payload bytes never round-trip.

    Input: a relation chunk table path (manifest cover-range pruning +
    first-outer-vertex viewport anchor, mirroring the way-table S5 read)
    or a pre-assembled `polys` DataFrame."""
    scale = tile_px << zoom
    tp = tile_px
    tx0, tx1, ty0, ty1 = bbox_tile_range(bbox, zoom, tile_px)
    if polys is None:
        scan = ingest.viewport_scan(table_path, bbox, zoom, base_level)
        polys = scan.table.read(spark, scan.paths).filter(
            scan.anchor_col(
                F.expr("element_at(outer, 1).lat"), F.expr("element_at(outer, 1).lon")
            )
        ).select("relation_id", "poly_idx", "outer", "inners")

    # materialize the projected rings ONCE: four consumers below (envelope,
    # membership counts, local-edge and right-edge classification) would
    # otherwise each re-run the Arrow projection subtree (plan audit r7)
    rings = _poly_rings(polys, scale).localCheckpoint()
    env = (
        rings.filter(F.col("ring_idx") == 0)
        .select(
            "relation_id",
            "poly_idx",
            F.expr(f"greatest(array_min(transform(gp, p -> p.gx)) div {tp}, {tx0})").alias("a"),
            F.expr(f"least(array_max(transform(gp, p -> p.gx)) div {tp}, {tx1})").alias("b"),
            F.expr(f"greatest(array_min(transform(gp, p -> p.gy)) div {tp}, {ty0})").alias("c"),
            F.expr(f"least(array_max(transform(gp, p -> p.gy)) div {tp}, {ty1})").alias("d"),
        )
        # guard BEFORE sequence: sequence(1, 0) descends (CLAUDE.md)
        .filter("a <= b AND c <= d")
    )
    tiles = env.select(
        "relation_id",
        "poly_idx",
        F.expr(
            "explode(flatten(transform(sequence(a, b), tx -> "
            "transform(sequence(c, d), ty -> struct(tx AS tx, ty AS ty))))) AS t"
        ),
    ).select("relation_id", "poly_idx", "t.tx", "t.ty").localCheckpoint()
    # per-tile EDGE classification (r7 scale shaping): shipping whole rings
    # to every covered tile costs O(ring x covered tiles) — a continental
    # polygon would ship megabytes to thousands of interior tiles. The
    # parity rule lets three exact reductions stand in:
    #   * an edge whose y-span misses the tile's rows never straddles any
    #     scanline -> DROPPED;
    #   * an edge entirely LEFT of the tile has x_int <= tile_left <= px
    #     -> never counts -> DROPPED;
    #   * an edge entirely RIGHT always counts when it straddles a row, so
    #     its identity collapses to per-row parity — shipped as (row, ±1)
    #     DIFFERENCE pairs pre-aggregated per (tile, polygon, row);
    # only edges that actually cross the tile's x-window ship coordinates.
    # Per-tile payload: O(locally-crossing edges + tile_px), never
    # O(perimeter). Byte-identity with the ring path is pinned by pytest
    # and the geo_render_polygons golden.
    n_counts = tiles.groupBy("tx", "ty").agg(
        F.count("*").alias("n_polys")  # (relation_id, poly_idx) rows are distinct
    )
    edges = rings.select(
        "relation_id",
        "poly_idx",
        F.expr(
            "explode(transform(gp, (p, i) -> struct("
            "p.gx AS x0, p.gy AS y0, "
            "gp[int(pmod(i + 1, size(gp)))].gx AS x1, "
            "gp[int(pmod(i + 1, size(gp)))].gy AS y1))) AS e"
        ),
    ).select("relation_id", "poly_idx", "e.*").filter("y0 != y1")
    et = (
        tiles.join(edges, ["relation_id", "poly_idx"])
        .withColumn("ymin", F.expr("least(y0, y1)"))
        .withColumn("ymax", F.expr("greatest(y0, y1)"))
        # straddles some tile row (half-open [ymin, ymax)) and is not
        # entirely left of the tile window
        .filter(
            f"ymin < (ty + 1) * {tp} AND ymax > ty * {tp} "
            f"AND greatest(x0, x1) > tx * {tp}"
        )
    )
    locals_ = et.filter(f"least(x0, x1) < (tx + 1) * {tp}").select(
        "tx",
        "ty",
        F.struct(
            "relation_id",
            "poly_idx",
            F.lit(0).alias("kind"),
            (F.col("x0") - F.col("tx") * tp).alias("a"),
            (F.col("y0") - F.col("ty") * tp).alias("b"),
            (F.col("x1") - F.col("tx") * tp).alias("c"),
            (F.col("y1") - F.col("ty") * tp).alias("d"),
        ).alias("r"),
    )
    rights = (
        et.filter(f"least(x0, x1) >= (tx + 1) * {tp}")
        .select(
            "tx", "ty", "relation_id", "poly_idx",
            F.expr(f"greatest(ymin - ty * {tp}, 0L)").alias("lo"),
            F.expr(f"least(ymax - ty * {tp}, {tp}L)").alias("hi"),
        )
        .filter("lo < hi")
        .select(
            "tx", "ty", "relation_id", "poly_idx",
            F.expr(
                "explode(array(struct(lo AS row, 1L AS delta), "
                "struct(hi AS row, -1L AS delta))) AS d"
            ),
        )
        .groupBy("tx", "ty", "relation_id", "poly_idx", "d.row")
        .agg(F.sum("d.delta").alias("delta"))
        .filter("delta != 0")
        .select(
            "tx",
            "ty",
            F.struct(
                "relation_id",
                "poly_idx",
                F.lit(1).alias("kind"),
                F.col("row").alias("a"),
                F.col("delta").alias("b"),
                F.lit(0).cast("long").alias("c"),
                F.lit(0).cast("long").alias("d"),
            ).alias("r"),
        )
    )
    grouped = (
        locals_.unionByName(rights)
        .groupBy("tx", "ty")
        .agg(F.array_sort(F.collect_list("r")).alias("items"))
    )
    # row set = rect-membership tiles (a tile whose every edge classified
    # away still renders an empty mask, exactly like the ring path)
    out_rows = n_counts.join(grouped, ["tx", "ty"], "left")

    @F.arrow_udf("struct<n_px: bigint, px_crc: bigint, payload: binary>")
    def _fill(items_col: pa.Array) -> pa.Array:
        import zlib as _z

        if isinstance(items_col, pa.ChunkedArray):
            items_col = items_col.combine_chunks()
        n_px_l, crcs, payloads = [], [], []
        for group in items_col.to_pylist():
            img = np.zeros((tp, tp), np.uint8)
            group = group or []
            i, n = 0, len(group)
            while i < n:
                j = i
                key = (group[i]["relation_id"], group[i]["poly_idx"])
                ex0, ey0, ex1, ey1, rrow, rdel = [], [], [], [], [], []
                while j < n and (group[j]["relation_id"], group[j]["poly_idx"]) == key:
                    it = group[j]
                    if it["kind"] == 0:
                        ex0.append(it["a"])
                        ey0.append(it["b"])
                        ex1.append(it["c"])
                        ey1.append(it["d"])
                    else:
                        rrow.append(it["a"])
                        rdel.append(it["b"])
                    j += 1
                np.maximum(
                    img,
                    raster.fill_edges(
                        ex0, ey0, ex1, ey1, tp, tp,
                        right_rows=rrow, right_deltas=rdel,
                    ),
                    out=img,
                )
                i = j
            n_px_l.append(int(np.count_nonzero(img)))
            crcs.append(_z.crc32(img.tobytes()))
            payloads.append(
                codec.encode_image(np.repeat(img[:, :, None], 3, axis=2), fmt, _TILE_PNGZ_LEVEL)
            )
        return pa.StructArray.from_arrays(
            [
                pa.array(n_px_l, pa.int64()),
                pa.array(crcs, pa.int64()),
                pa.array(payloads, pa.binary()),
            ],
            names=["n_px", "px_crc", "payload"],
        )

    return out_rows.select(
        F.col("tx").cast("long").alias("tile_x"),
        F.col("ty").cast("long").alias("tile_y"),
        F.col("n_polys").cast("long").alias("n_polys"),
        _fill(F.col("items")).alias("r"),
    ).select("tile_x", "tile_y", "n_polys", "r.n_px", "r.px_crc", "r.payload")


def dirty_polygon_tiles(
    changed_polys: DataFrame,
    zoom: int,
    min_zoom: int | None = None,
    tile_px: int = 256,
) -> DataFrame:
    """Tile-expiry set for a POLYGON update batch: every tile the filled
    area can touch — the OUTER-ring envelope rect, NOT just outline tiles
    (a polygon edit must re-render interior tiles too; holes live inside
    the outer envelope so they add nothing). Caller unions pre-diff and
    post-diff (relation_id, poly_idx, outer, inners) rows, deleted
    polygons included with their pre-diff geometry. Ancestors down to
    min_zoom exactly like dirty_tiles."""
    if min_zoom is None:
        min_zoom = zoom
    tp = tile_px
    rings = _poly_rings(changed_polys, tp << zoom)
    base = (
        rings.filter(F.col("ring_idx") == 0)
        .select(
            F.expr(f"array_min(transform(gp, p -> p.gx)) div {tp}").alias("a"),
            F.expr(f"array_max(transform(gp, p -> p.gx)) div {tp}").alias("b"),
            F.expr(f"array_min(transform(gp, p -> p.gy)) div {tp}").alias("c"),
            F.expr(f"array_max(transform(gp, p -> p.gy)) div {tp}").alias("d"),
        )
        .select(
            F.expr(
                "explode(flatten(transform(sequence(a, b), tx -> "
                "transform(sequence(c, d), ty -> struct(tx AS tx, ty AS ty))))) AS t"
            )
        )
        .select("t.tx", "t.ty")
        .distinct()
    )
    return (
        base.select(
            F.explode(F.sequence(F.lit(min_zoom), F.lit(zoom))).alias("zoom"),
            "tx",
            "ty",
        )
        .select(
            F.col("zoom").cast("long").alias("zoom"),
            F.expr(f"shiftright(tx, cast({zoom} - zoom AS int))").cast("long").alias("tile_x"),
            F.expr(f"shiftright(ty, cast({zoom} - zoom AS int))").cast("long").alias("tile_y"),
        )
        .distinct()
    )


def vector_tile_pyramid(
    spark,
    table_path: str | None,
    bbox,
    zoom: int,
    min_zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    ways: DataFrame | None = None,
    min_px: float = 2.0,
) -> DataFrame:
    """Per-zoom VECTOR tiles with per-zoom LOD geometry (VERDICT r6 ask
    #4 — the reference precomputes simplified geometry per level, REF?
    src/lod/ [L-M]; here T7 composes with the vector-tile assembly): for
    each z in [min_zoom, zoom], every way is Douglas-Peucker-simplified at
    z's one-pixel tolerance and ways whose envelope is below `min_px`
    pixels at z are DROPPED (geometry.build_lod_tables — the identical T7
    rule the LOD tables use, one definition), then assembled into
    GenericGeometry LINE blobs by the same piece fan-out as vector_tiles.
    A z-8 tile therefore carries z-8 geometry, not full resolution.

    One pruned viewport read (S5), materialized once and reused by every
    level; per level: one Arrow DP exchange + the vector-tile plan (ONE
    shuffle keyed by tile). At planet scale the levels write to per-zoom
    sinks exactly like build_pyramid_table; tolerance assumes 256px tiles
    (kernels/simplify.lod_eps_units).

    Output: (zoom, tile_x, tile_y, n_ways, n_geoms, n_segs, payload_crc,
    payload)."""
    from coords_spark.operators import geometry

    if ways is None:
        ways = ingest.render_read(spark, table_path, bbox, zoom, base_level=base_level)
    ways = ways.select("way_id", "pts").localCheckpoint()
    out = None
    for z in range(zoom, min_zoom - 1, -1):
        lv = geometry.build_lod_tables(ways, [z], min_px=min_px)[z].select(
            "way_id", "pts"
        )
        vt = vector_tiles(spark, None, bbox, z, tile_px, ways=lv).select(
            F.lit(z).cast("long").alias("zoom"),
            "tile_x", "tile_y", "n_ways", "n_geoms", "n_segs",
            "payload_crc", "payload",
        )
        out = vt if out is None else out.unionByName(vt)
    return out


def render_map_tiles(
    spark,
    way_table: str | None,
    rel_table: str | None,
    bbox,
    zoom: int,
    tile_px: int = 256,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    fmt: str = "pngz",
    ways: DataFrame | None = None,
    polys: DataFrame | None = None,
) -> DataFrame:
    """COMPOSITE map tiles — polygon fills plus way lines in one mask, the
    literal artifact the reference's Mapnik companion produces from
    COORDS' tiles (fills under strokes; with 0/255 masks compositing is
    OR, so order is moot and the result is deterministic). Composes the
    two existing per-tile pipelines and joins them full-outer on the tile
    key; masks decode, OR and re-encode where the joined rows land —
    payload bytes cross exactly one exchange, never the driver.

    Output: (tile_x, tile_y, n_ways, n_polys, n_px, px_crc, payload)."""
    lines = render_tile_images(
        spark, way_table, bbox, zoom, tile_px, base_level, fmt, ways=ways
    ).select("tile_x", "tile_y", "n_ways", F.col("payload").alias("line_payload"))
    fills = render_polygon_tiles(
        spark, rel_table, bbox, zoom, tile_px, base_level, fmt, polys=polys
    ).select("tile_x", "tile_y", "n_polys", F.col("payload").alias("fill_payload"))
    j = lines.join(fills, ["tile_x", "tile_y"], "full_outer").select(
        "tile_x",
        "tile_y",
        F.coalesce("n_ways", F.lit(0)).cast("long").alias("n_ways"),
        F.coalesce("n_polys", F.lit(0)).cast("long").alias("n_polys"),
        "line_payload",
        "fill_payload",
    )
    tp = tile_px

    @F.arrow_udf("struct<n_px: bigint, px_crc: bigint, payload: binary>")
    def _compose(line_p: pa.Array, fill_p: pa.Array) -> pa.Array:
        import zlib as _z

        n_px_l, crcs, payloads = [], [], []
        for lp, fp in zip(line_p.to_pylist(), fill_p.to_pylist()):
            img = np.zeros((tp, tp), np.uint8)
            for p in (fp, lp):
                if p is not None:
                    dec = codec.decode_image(bytes(p), fmt, tp, tp)
                    np.maximum(img, dec[:, :, 0], out=img)
            n_px_l.append(int(np.count_nonzero(img)))
            crcs.append(_z.crc32(img.tobytes()))
            payloads.append(
                codec.encode_image(np.repeat(img[:, :, None], 3, axis=2), fmt, _TILE_PNGZ_LEVEL)
            )
        return pa.StructArray.from_arrays(
            [
                pa.array(n_px_l, pa.int64()),
                pa.array(crcs, pa.int64()),
                pa.array(payloads, pa.binary()),
            ],
            names=["n_px", "px_crc", "payload"],
        )

    return j.select(
        "tile_x",
        "tile_y",
        "n_ways",
        "n_polys",
        _compose(F.col("line_payload"), F.col("fill_payload")).alias("r"),
    ).select(
        "tile_x", "tile_y", "n_ways", "n_polys", "r.n_px", "r.px_crc", "r.payload"
    )
