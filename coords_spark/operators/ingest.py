"""End-to-end ingest: images table -> anchored points -> quadtree chunks ->
icepick chunk table (SURVEY.md M2; BASELINE.json north_star pipeline).

Stages (all DataFrame ops; per-row math in Arrow-batched numpy):
  1. anchor: (lat, lon) derived from phash (FIXTURES.md §1),
  2. cell encode: deepest-containing cell — for points that is simply the
     cell at base_level (a point's envelope is itself),
  3. split-set pre-pass: subtree size rollup vs max_bytes (tiling.py),
  4. chunk assignment + salted range-partitioned materialization with
     per-group atomic commits (resume).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark import bounded
from coords_spark.operators import cells as C
from coords_spark.operators import tiling as T
from coords_spark.sources.icepick import IcepickTable


def with_anchor(df: DataFrame, phash_col: str = "phash") -> DataFrame:
    return df.withColumn("lat", C.anchor_lat_col(F.col(phash_col))).withColumn(
        "lon", C.anchor_lon_col(F.col(phash_col))
    )


def with_point_cell(df: DataFrame, level: int, lat: str = "lat", lon: str = "lon") -> DataFrame:
    return df.withColumn("cell", C.cell_col(F.col(lat), F.col(lon), level))


def _drop_derived(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """phash is the source of truth for derived geo columns — recompute
    rather than trust stale inputs (and avoid duplicate-column errors)."""
    present = [c for c in cols if c in df.columns]
    return df.drop(*present) if present else df


def with_anchor_cell(df: DataFrame, level: int, phash_col: str = "phash") -> DataFrame:
    """Fused hot path: one Arrow exchange for anchor + mercator + cell
    (equivalent to with_point_cell(with_anchor(df), level), 3x fewer
    Python<->JVM roundtrips)."""
    df = _drop_derived(df, ("lat", "lon", "cell"))
    return df.withColumn("_ac", C.anchor_cell_struct(F.col(phash_col), level)).select(
        "*", "_ac.lat", "_ac.lon", "_ac.cell"
    ).drop("_ac")


def with_anchor_cell_chunk(
    df: DataFrame, split_set, base_level: int, phash_col: str = "phash"
) -> DataFrame:
    """Fully fused assignment stage (anchor + cell + chunk in one Python
    stage) for jobs that already hold the split set."""
    df = _drop_derived(df, ("lat", "lon", "cell", "chunk_id"))
    return df.withColumn(
        "_ac", C.anchor_cell_chunk_struct(F.col(phash_col), split_set, base_level)
    ).select("*", "_ac.lat", "_ac.lon", "_ac.cell", "_ac.chunk_id").drop("_ac")


def payload_nbytes_col(df: DataFrame) -> F.Column:
    """Serialized size estimate per row: payload bytes + fixed overhead.
    Columns that may be absent contribute 0 (bench tables carry no bytes)."""
    cols = set(df.columns)
    size = F.lit(64)
    if "bytes" in cols:
        size = size + F.coalesce(F.length(F.col("bytes")), F.lit(0))
    if "caption" in cols:
        size = size + F.coalesce(F.length(F.col("caption")), F.lit(0))
    return size.cast("long")


def ingest_images(
    images: DataFrame,
    table_path: str,
    base_level: int = T.DEFAULT_BASE_LEVEL,
    max_bytes: int = T.DEFAULT_MAX_BYTES,
    group_level: int = 2,
    key_col: str = "image_id",
) -> tuple[IcepickTable, np.ndarray]:
    """The flagship pipeline. Returns (icepick table, split set).

    Two Spark jobs, as in COORDS' tiler (SURVEY.md §3 E3): (a) the size
    rollup producing the split set, (b) assignment + write. Both read the
    same lineage-tracked input once each."""
    pts = with_anchor_cell(images, base_level).withColumn(
        "nbytes", payload_nbytes_col(images)
    )
    # split set AND per-chunk byte weights from one logical pass — the
    # weights let materialization place rows explicitly instead of paying
    # repartitionByRange's boundary-sampling re-evaluation of the input
    split_set, weights = T.compute_split_set_and_weights(
        pts, cell="cell", nbytes="nbytes", max_bytes=max_bytes, base_level=base_level
    )
    # pass 2 re-derives everything from phash in ONE fused Python stage
    chunked = with_anchor_cell_chunk(images, split_set, base_level)
    table = T.materialize_chunk_table(
        chunked, table_path, key_col=key_col, group_level=group_level,
        chunk_weights=weights,
    )
    return table, split_set


def bbox_grid(lat0_i32: int, lon0_i32: int, lat1_i32: int, lon1_i32: int) -> tuple[int, int, int, int]:
    """(gx0, gy0, gx1, gy1) MAX_LEVEL grid envelope of a lat/lon-i32 bbox.
    Web-mercator flips y (higher latitude -> smaller gy), so the corner
    grid coords are min/max-normalized."""
    import numpy as np

    from coords_spark.kernels import mercator, zcurve

    la = np.asarray([lat0_i32, lat1_i32], dtype=np.int64)
    lo = np.asarray([lon0_i32, lon1_i32], dtype=np.int64)
    ux, uy = mercator.latlon_i32_to_unit(la, lo)
    gx, gy = zcurve.unit_to_grid(ux, uy)
    return int(gx.min()), int(gy.min()), int(gx.max()), int(gy.max())


class ViewportScan(NamedTuple):
    """A viewport's pruned read of a chunk table, planned from manifest
    lineage alone (no Spark job, no data file opened): the data files
    whose chunk lineage overlaps the bbox cover ranges, their summed
    manifest row count, and the min/max-normalized bbox that the exact
    anchor predicate keeps rows by."""

    table: IcepickTable
    paths: list[str]
    rows: int
    lat: tuple[int, int]
    lon: tuple[int, int]

    def anchor_col(self, lat: F.Column, lon: F.Column) -> F.Column:
        """The anchor-in-bbox predicate as a Spark Column."""
        return lat.between(*self.lat) & lon.between(*self.lon)

    def anchor_mask(self, lat, lon):
        """The same predicate over Arrow arrays (inclusive both ends)."""
        import pyarrow.compute as pc

        return pc.and_(
            pc.and_(pc.greater_equal(lat, self.lat[0]), pc.less_equal(lat, self.lat[1])),
            pc.and_(pc.greater_equal(lon, self.lon[0]), pc.less_equal(lon, self.lon[1])),
        )

    def read_arrow(self, columns: list[str] | None = None) -> pa.Table | None:
        """The viewport's rows read on the driver: the pruned files read
        with pyarrow (IcepickTable.read_arrow, zero Spark jobs) and kept
        by anchor_mask. `columns` projects the read (None = every column)
        and must include lat and lon. None when the pruned files hold more
        than bounded.SMALL_REWRITE_ROWS manifest rows or more than
        bounded.SMALL_REWRITE_BYTES on disk (bounded.fits_driver, the gate
        of every driver-side file read)."""
        if not bounded.fits_driver(self.paths, self.rows):
            return None
        tbl = self.table.read_arrow(self.paths, columns)
        return tbl.filter(self.anchor_mask(tbl.column("lat"), tbl.column("lon")))


def viewport_scan(
    table_path: str,
    bbox_i32: tuple[int, int, int, int],
    zoom: int,
    base_level: int = T.DEFAULT_BASE_LEVEL,
) -> ViewportScan:
    """Plan the viewport read of bbox_i32 = (lat_min, lon_min, lat_max,
    lon_max) in 1e-7 fixed-point degrees at a render `zoom`: the bbox
    covers at `zoom` decompose into inclusive chunk-id ranges for every
    level 0..base_level (zcurve.bbox_cover_ranges — the quadtree walk of
    the viewport, driver-side, bounded), and manifest file pruning keeps
    only data files whose chunk min/max lineage overlaps some range
    (IcepickTable.data_paths_ranges). Every read of a viewport — the
    driver read (ViewportScan.read_arrow) and render_read's Spark plan —
    starts here."""
    from coords_spark.kernels import zcurve

    lat0, lon0, lat1, lon1 = bbox_i32
    lat0, lat1 = min(lat0, lat1), max(lat0, lat1)
    lon0, lon1 = min(lon0, lon1), max(lon0, lon1)
    gx0, gy0, gx1, gy1 = bbox_grid(lat0, lon0, lat1, lon1)
    ranges = zcurve.bbox_cover_ranges(gx0, gy0, gx1, gy1, zoom, max_level=base_level)
    t = IcepickTable(table_path)
    man = t.current_manifest()
    paths = t.data_paths_ranges(ranges, version=man["version"])
    rows = t.rows_of(paths, version=man["version"])
    return ViewportScan(t, paths, rows, (lat0, lat1), (lon0, lon1))


def render_read(
    spark,
    table_path: str,
    bbox_i32: tuple[int, int, int, int],
    zoom: int,
    base_level: int = T.DEFAULT_BASE_LEVEL,
) -> DataFrame:
    """The primary user-facing READ: viewport fetch — all rows whose anchor
    falls inside bbox_i32 = (lat_min, lon_min, lat_max, lon_max) in 1e-7
    fixed-point degrees, at a render `zoom` level.

    Pruning stack (coarse -> exact):
      1-2. viewport_scan: bbox cover ranges, then manifest file pruning —
         planning-time, before any data file is opened. It also yields the
         two sizes that pick the path: the pruned files' manifest rows and
         (stat'ed) on-disk bytes;
      3. DRIVER path, when the rows are at most bounded.SMALL_REWRITE_ROWS
         and the bytes at most bounded.SMALL_REWRITE_BYTES
         (ViewportScan.read_arrow): pyarrow reads the pruned files, the
         exact bbox predicate keeps rows, and the table returns as a local
         relation (bounded.arrow_frame) — this call runs no Spark job and
         collecting the result runs one;
      3'. SPARK path over either cap: the exact bbox predicate on
         (lat, lon) is pushed to the parquet scan, and because data lands
         sorted by chunk_id (spatially clustered), row-group lat/lon
         min/max stats prune tightly on their own;
      4. the same bbox predicate is the semantic contract — pruning layers
         only shrink I/O, and both paths return the same rows and schema.

    Returns an empty DataFrame with the table schema when nothing overlaps."""
    scan = viewport_scan(table_path, bbox_i32, zoom, base_level)
    if not scan.paths:
        # viewport miss: schema comes from MANIFEST lineage — the plan is
        # a LocalTableScan, zero parquet files opened (r4 verdict ask #8)
        return scan.table.read(spark, [])
    tbl = scan.read_arrow()
    if tbl is not None:
        return bounded.arrow_frame(spark, tbl)
    return scan.table.read(spark, scan.paths).filter(
        scan.anchor_col(F.col("lat"), F.col("lon"))
    )


def read_chunk_table(spark, table_path: str, chunk_min: int | None = None, chunk_max: int | None = None) -> DataFrame:
    """Manifest-pruned read: only files overlapping [chunk_min, chunk_max]
    reach Spark; parquet row-group pruning then applies within files. A
    range no file overlaps reads as an empty frame of the table schema,
    as render_read's viewport miss does."""
    t = IcepickTable(table_path)
    df = t.read(spark, t.data_paths(chunk_min, chunk_max))
    if chunk_min is not None:
        df = df.filter(F.col("chunk_id") >= chunk_min)
    if chunk_max is not None:
        df = df.filter(F.col("chunk_id") <= chunk_max)
    return df
