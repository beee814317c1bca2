"""Driver-side staging: the one place that decides when bounded work runs
on the driver instead of the cluster.

Per-job fixed cost dominates small work on a local cluster (a bare Spark
parquet write job costs ~0.4-0.6 s: committer setup, task dirs, renames),
so diff-, viewport- and dirty-set-bounded work collects to the driver as
Arrow and stages its files with pyarrow. Past the caps below the
distributed path runs instead. Both paths write the same rows.

The caps are plain constants. Callers read them as `bounded.NAME` at call
time, so a test can monkeypatch one to 0 to force the distributed path.
They assume icepick tables live on a local filesystem the driver can read
and write directly (icepick writes only local paths).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import PySparkTypeError, UnsupportedOperationException
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

# upsert planning collects the diff's distinct ids when they fit under
# this cap (one Spark job instead of three); bigger diffs keep the fully
# distributed planning path
DIFF_ID_COLLECT_CAP = 500_000

# the distinct-cell table is bounded by 4^base_level; up to this many
# rows it collects (one Arrow job) and the ancestor rollup runs in numpy
# driver-side — one pass over the data instead of two shuffles plus a
# second rollup job. Bigger per-cell tables keep the distributed rollup.
PER_CELL_COLLECT_CAP = 4_000_000

# the driver-read gate (fits_driver): a diff-sized rewrite (the streaming
# steady state) writes its staged rows as ONE sorted file — no
# repartitionByRange, so no boundary-sampling re-pass and one job instead
# of four — and pruned files this small are read on the driver with
# pyarrow: the viewport reads (ingest.ViewportScan.read_arrow), the
# entity-store id reads (entity_store.read_ids_arrow) and the locator
# lookups. Past either threshold the Spark path runs.
SMALL_REWRITE_BYTES = 48 << 20
SMALL_REWRITE_ROWS = 200_000

# a pyramid level whose viewport holds at most this many tiles is
# collected as Arrow and written driver-side (one job instead of
# checkpoint + range-sampling + write); bigger viewports keep the
# distributed range write
SMALL_LEVEL_TILES = 16384

# the driver-side overzoom decodes/encodes every child single-threaded, so
# its cap is the per-level CHILD count where ~1 s of local codec work
# still beats a Spark shuffle + UDF job — far smaller than the write cap
# (a 2.2k-child level measured SLOWER locally). The viewport render's
# driver path (render_tile_images) renders at most this many tiles, the
# same single-threaded per-tile codec cost.
SMALL_OVERZOOM_TILES = 512

# a pyramid refresh level with at most this many dirty tiles writes ONE
# sorted file (no range sampling, no pre-write checkpoint), and its
# coarser levels re-roll driver-side
SMALL_REFRESH_TILES = 64

# compact() packs signature groups up to this size driver-side with
# pyarrow, skipping the Spark read + range-sampling + write jobs
SMALL_COMPACT_BYTES = 64 << 20


def bounded_arrow(df: DataFrame, cap: int | None = None) -> pa.Table | None:
    """`df` collected as one Arrow table, or None when it must stay
    distributed: a column type Arrow cannot carry (decided from the schema,
    before any Spark job), or more than `cap` rows. `cap=None` means the
    caller has already bounded `df`. A query error raises; it never sends
    the caller down the distributed path to run the query a second time."""
    try:
        to_arrow_schema(df.schema, error_on_duplicated_field_names_in_struct=True)
    except (PySparkTypeError, UnsupportedOperationException):
        return None
    if cap is None:
        return df.toArrow()
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def fits_driver(paths: list[str], rows: int) -> bool:
    """Whether the data files `paths`, holding `rows` rows, are small
    enough to read or rewrite on the driver: at most SMALL_REWRITE_ROWS
    rows and SMALL_REWRITE_BYTES on-disk bytes. The one gate of every
    driver-side file read and staged rewrite."""
    if rows > SMALL_REWRITE_ROWS:
        return False
    return sum(map(os.path.getsize, paths)) <= SMALL_REWRITE_BYTES


def spark_schema(schema: pa.Schema) -> StructType:
    """The Spark schema of Arrow `schema`. A tz-less Arrow timestamp maps
    to TIMESTAMP_NTZ, the type Spark's own parquet footer inference gives
    the same column, so a driver-side table and a Spark read of the same
    files agree on every type."""
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def arrow_frame(spark, tbl: pa.Table) -> DataFrame:
    """`tbl`, already on the driver, as a DataFrame over a local relation:
    reading it back runs no scan of a checkpoint or a file. Each column is
    rebuilt as one array, because createDataFrame rejects a column with
    zero chunks (what filtering a table down to no rows leaves). Its types
    are spark_schema's, those of a Spark read of the same parquet."""
    cols = [c.combine_chunks() for c in tbl.columns]
    return spark.createDataFrame(
        pa.Table.from_arrays(cols, schema=tbl.schema), schema=spark_schema(tbl.schema)
    )


def write_sorted(tbl: pa.Table, stage: str, sort_keys: list[str], n_files: int) -> None:
    """Write `tbl`, sorted ascending by `sort_keys`, as at most `n_files`
    contiguous slices `part-NNNN.parquet` under `stage` — the tight
    per-file key lineage a range-partitioned write produces, without the
    sampling pass or the write job. An empty table writes no file."""
    if tbl.num_rows == 0:
        return
    if sort_keys:
        tbl = tbl.sort_by([(k, "ascending") for k in sort_keys])
    n = min(max(1, n_files), tbl.num_rows)
    step = -(-tbl.num_rows // n)
    for i, lo in enumerate(range(0, tbl.num_rows, step)):
        pq.write_table(tbl.slice(lo, step), os.path.join(stage, f"part-{i:04d}.parquet"))
