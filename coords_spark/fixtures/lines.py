"""The line world's chunk table, built one way (SURVEY §3 E1/E3): ways
resolve against their nodes, each way's envelope picks its deepest
containing cell, a size-bounded split set chunks the cells, and the
chunked rows materialize as an icepick table keyed by way id with the
first vertex as the viewport anchor. Driver queries and tests build
their line tables here and nowhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark.operators import geometry, resolve, tiling

# (lat_min, lon_min, lat_max, lon_max) i32 — the viewport around the
# London hotspot every line-world render and fetch reads
LONDON = (int(50.0e7), int(-2.0e7), int(53.0e7), int(1.8e7))


def way_chunks(ways: DataFrame, nodes: DataFrame, max_bytes: int = 64 * 1024) -> DataFrame:
    """Resolved ways (way_id, pts) with their envelope, envelope `cell`,
    `nbytes` (8 bytes a vertex plus 64) and `chunk_id` under the split set
    of `max_bytes`, at tiling.DEFAULT_BASE_LEVEL."""
    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (F.size("pts") * 8 + 64).cast("long"))
    split = tiling.compute_split_set(
        g, max_bytes=max_bytes, base_level=tiling.DEFAULT_BASE_LEVEL
    )
    return tiling.with_chunk(g, split, base_level=tiling.DEFAULT_BASE_LEVEL)


def line_table(path: str, chunked: DataFrame):
    """Materialize way_chunks output at `path` as a line chunk table
    (way_id, cell, chunk_id, pts, lat, lon), anchored at each way's first
    vertex; returns the IcepickTable."""
    rows = chunked.select(
        "way_id",
        "cell",
        "chunk_id",
        "pts",
        F.expr("pts[0].lat").alias("lat"),
        F.expr("pts[0].lon").alias("lon"),
    )
    return tiling.materialize_chunk_table(rows, path, key_col="way_id")
