"""Vectorized cell-encoding columns (SURVEY.md §2.4 T1/T2/T4).

Each function returns a Column built from an Arrow-batched ``pandas_udf``
whose body is a pure numpy kernel call — the `input_hint` contract
("vectorized H3/S2 cell encoding (Arrow-batched, no per-row Python)").

A pure-Column mercator variant (`unit_xy_cols`) exists for cross-checking
the numpy path in tests and to give Catalyst a fully JVM-side option when
the extra float tolerance is acceptable.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from coords_spark.kernels import mercator, phash, zcurve


def anchor_lat_col(phash_col) -> Column:
    @F.pandas_udf(IntegerType())
    def _lat(ph: pd.Series) -> pd.Series:
        lat, _ = phash.anchor(ph.to_numpy())
        return pd.Series(lat)

    return _lat(phash_col)


def anchor_lon_col(phash_col) -> Column:
    @F.pandas_udf(IntegerType())
    def _lon(ph: pd.Series) -> pd.Series:
        _, lon = phash.anchor(ph.to_numpy())
        return pd.Series(lon)

    return _lon(phash_col)


def anchor_cell_struct(phash_col, level: int) -> Column:
    """Single-pass ingest hot path: phash -> (lat, lon, cell) in ONE Arrow
    exchange (anchor + mercator + cell encode fused in one numpy kernel
    chain). Returns struct<lat:int, lon:int, cell:long>."""

    # arrow_udf, not pandas_udf: skips the pandas Series/DataFrame wrap
    # around what is pure numpy either way (~12% on the warm 2M-row pass)
    @F.arrow_udf("lat int, lon int, cell long")
    def _ac(ph: pa.Array) -> pa.Array:
        lat, lon = phash.anchor(ph.to_numpy(zero_copy_only=False))
        ux, uy = mercator.latlon_i32_to_unit(lat, lon)
        gx, gy = zcurve.unit_to_grid(ux, uy)
        cell = zcurve.cell_from_point(gx, gy, level).astype("int64")
        return pa.StructArray.from_arrays(
            [pa.array(lat, pa.int32()), pa.array(lon, pa.int32()), pa.array(cell, pa.int64())],
            names=["lat", "lon", "cell"],
        )

    return _ac(phash_col)


def anchor_cell_chunk_struct(phash_col, split_sorted, base_level: int) -> Column:
    """Fully fused assignment hot path: phash -> (lat, lon, cell, chunk_id)
    in ONE Arrow exchange (anchor + mercator + cell + first-non-split-
    ancestor walk). Used once the split set is known — halves the Python
    stages of the materialization job."""
    import numpy as np

    from coords_spark.operators.tiling import assign_chunks_np

    split_sorted = np.sort(np.asarray(split_sorted, dtype="int64"))

    @F.arrow_udf("lat int, lon int, cell long, chunk_id long")
    def _acc(ph: pa.Array) -> pa.Array:
        lat, lon = phash.anchor(ph.to_numpy(zero_copy_only=False))
        ux, uy = mercator.latlon_i32_to_unit(lat, lon)
        gx, gy = zcurve.unit_to_grid(ux, uy)
        cell = zcurve.cell_from_point(gx, gy, base_level).astype("int64")
        chunk = assign_chunks_np(cell, split_sorted, base_level)
        return pa.StructArray.from_arrays(
            [pa.array(lat, pa.int32()), pa.array(lon, pa.int32()),
             pa.array(cell, pa.int64()), pa.array(chunk, pa.int64())],
            names=["lat", "lon", "cell", "chunk_id"],
        )

    return _acc(phash_col)


def point_z_col(lat_col, lon_col) -> Column:
    """Z code at MAX_LEVEL for a fixed-point lat/lon point."""

    @F.pandas_udf(LongType())
    def _z(lat: pd.Series, lon: pd.Series) -> pd.Series:
        ux, uy = mercator.latlon_i32_to_unit(lat.to_numpy(), lon.to_numpy())
        gx, gy = zcurve.unit_to_grid(ux, uy)
        return pd.Series(zcurve.zencode(gx, gy).astype("int64"))

    return _z(lat_col, lon_col)


def cell_col(lat_col, lon_col, level: int) -> Column:
    """Cell id at a fixed level for a point (T2)."""

    @F.pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        ux, uy = mercator.latlon_i32_to_unit(lat.to_numpy(), lon.to_numpy())
        gx, gy = zcurve.unit_to_grid(ux, uy)
        return pd.Series(zcurve.cell_from_point(gx, gy, level).astype("int64"))

    return _cell(lat_col, lon_col)


def ancestor_expr(cell_sql: str, level: int) -> Column:
    """z_ancestor as a pure SQL expression (JVM-side, codegen-friendly, no
    UDF). `cell_sql` is a column name or SQL sub-expression; the variable
    shift amount forces the SQL form (the Python shiftrightunsigned API
    only takes literal shifts)."""
    return F.expr(
        f"cast(shiftleft(shiftrightunsigned(shiftrightunsigned({cell_sql}, {zcurve.LEVEL_BITS}), "
        f"2 * ((({cell_sql}) & {int(zcurve.LEVEL_MASK)}) - {level})), {zcurve.LEVEL_BITS}) "
        f"| {level} as long)"
    )


def ancestor_expr_col(cell_sql: str, level_sql: str) -> Column:
    """z_ancestor where the TARGET LEVEL is itself a column (e.g. an
    exploded per-polygon cover level). Caller guarantees level <= the
    cell's own level, as with ancestor_expr."""
    return F.expr(
        f"cast(shiftleft(shiftrightunsigned(shiftrightunsigned({cell_sql}, {zcurve.LEVEL_BITS}), "
        f"2 * ((({cell_sql}) & {int(zcurve.LEVEL_MASK)}) - ({level_sql}))), {zcurve.LEVEL_BITS}) "
        f"| ({level_sql}) as long)"
    )


def unit_xy_cols(lat_col, lon_col) -> tuple[Column, Column]:
    """Pure-Column web-mercator (JVM-side, whole-stage-codegen friendly) —
    cross-checked against the numpy kernel in tests (SURVEY.md T1)."""
    lat_deg = lat_col.cast("double") * F.lit(mercator.SCALE)
    lon_deg = lon_col.cast("double") * F.lit(mercator.SCALE)
    ux = (lon_deg + F.lit(180.0)) / F.lit(360.0)
    latc = F.greatest(F.least(lat_deg, F.lit(mercator.MAX_LAT)), F.lit(-mercator.MAX_LAT))
    s = F.sin(F.radians(latc))
    uy = F.lit(0.5) - F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(4.0 * 3.141592653589793)
    eps = F.lit(1.0 - 2.220446049250313e-16)
    return F.least(F.greatest(ux, F.lit(0.0)), eps), F.least(F.greatest(uy, F.lit(0.0)), eps)
