"""Id-keyed entity stores with UPSERT — the mutable raw-entity layer a
continuous update pipeline needs (SURVEY.md §2.1 S2/S3 × the update
family). REF? COORDS keeps nodes/ways/relations in mmap'd id-indexed
containers (src/containers/chunkedFile.* [M] — mount empty) precisely so
a minutely diff can patch entities in place; the Spark-first equivalent
is an icepick table whose chunk key is the ID RANGE (chunk_id =
id >> id_shift), so the shared keyed-rewrite machinery
(operators/update.py::_apply_way_rewrite) gives bounded-file upserts:

    diff ids -> affected id-range chunks -> rewrite ONLY files whose
    chunk range holds one -> one atomic commit_replace

100 TB posture: OSM ids are dense and new ids monotonically grow, so
id-range chunking clusters hot appends into the top chunks while edits
to old entities fan out — either way the rewrite set is O(diff ids /
2^id_shift) files, never table-proportional. Manifest chunk min/max
double as an id index: point lookups and diff joins prune files before
Spark plans the scan. Time travel, compaction and snapshot expiry come
free from the icepick layer (S8).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark import bounded
from coords_spark.operators import tiling
from coords_spark.operators.update import _apply_way_rewrite
from coords_spark.sources.icepick import IcepickTable

DEFAULT_ID_SHIFT = 14  # 16k ids per chunk
_SIDECAR = "_entity_store.json"


def with_id_chunk(df: DataFrame, id_col: str = "id", id_shift: int = DEFAULT_ID_SHIFT) -> DataFrame:
    """chunk_id = id >> id_shift (arithmetic shift; OSM ids are positive).
    The shift amount is a Python int baked into the expression — the
    variable-shift JVM limitation (CLAUDE.md) doesn't apply."""
    return df.withColumn("chunk_id", F.expr(f"CAST({id_col} AS BIGINT) >> {id_shift}"))


def _save_contract(table_path: str, id_col: str, id_shift: int) -> None:
    with open(os.path.join(table_path, _SIDECAR), "w") as f:
        json.dump({"id_col": id_col, "id_shift": id_shift}, f)


def load_contract(table_path: str) -> tuple[str, int]:
    """(id_col, id_shift) — the store's chunking contract; chunk ids are
    only comparable under one shift, exactly like the geo split set."""
    p = os.path.join(table_path, _SIDECAR)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"no entity-store sidecar at {p} (not built by build_entity_store)"
        )
    with open(p) as f:
        c = json.load(f)
    return c["id_col"], c["id_shift"]


def build_entity_store(
    df: DataFrame,
    table_path: str,
    id_col: str = "id",
    id_shift: int = DEFAULT_ID_SHIFT,
) -> IcepickTable:
    """Full build: rows land id-range-contiguous and sorted, so every
    parquet row group and manifest entry carries tight id-range stats.
    Kill-safe resume and per-file lineage come from the shared
    materializer."""
    rows = with_id_chunk(df, id_col, id_shift)
    t = tiling.materialize_chunk_table(rows, table_path, key_col=id_col)
    if t.arrow_schema() is None:
        # empty build committed zero files, so no schema was captured —
        # stamp it from the input frame (miss-path reads need it to plan)
        from pyspark.sql.pandas.types import to_arrow_schema

        t.stamp_schema(to_arrow_schema(rows.schema))
    _save_contract(table_path, id_col, id_shift)
    return t


def read_entity_store(spark, table_path: str, with_chunk: bool = False) -> DataFrame:
    """Current snapshot of the store. Empty tables plan from the manifest
    schema (LocalTableScan) — never open a data file on the miss path."""
    t = IcepickTable(table_path)
    df = t.read(spark, t.data_paths())
    return df if with_chunk else df.drop("chunk_id")


def _merge_ranges(chunks: list[int]) -> list[tuple[int, int]]:
    """Sorted distinct chunk ids -> merged inclusive [lo, hi] ranges (fewer
    overlap tests against the manifest; both lists are driver-side and
    diff-bounded)."""
    out: list[tuple[int, int]] = []
    for c in sorted(set(chunks)):
        if out and c == out[-1][1] + 1:
            out[-1] = (out[-1][0], c)
        else:
            out.append((c, c))
    return out


def chunk_set_for_ids(ids_df: DataFrame, id_shift: int, id_col: str | None = None) -> set[int]:
    """Distinct id-range chunk ids of `ids_df` — a pure function of the
    ids under the store contract (chunk_id = id >> shift), so the rewrite
    set of an upsert needs NO data scan to locate (the arithmetic analogue
    of the geo tables' locator sidecar). Driver-side and diff-bounded."""
    col = id_col or ids_df.columns[0]
    return {
        r[0]
        for r in ids_df.select(
            F.expr(f"CAST({col} AS BIGINT) >> {id_shift}").alias("c")
        )
        .distinct()
        .collect()
    }


def id_array(values) -> np.ndarray:
    """Sorted distinct non-null int64 ids of an Arrow array, chunked array
    or sequence: the driver-side form of an id set."""
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        values = pc.drop_null(values).to_numpy(zero_copy_only=False)
    return np.unique(np.asarray(values, dtype=np.int64))


def id_frame(spark, ids, name: str = "id") -> DataFrame:
    """Driver-side ids (an int64 array or a list) as a one-column bigint
    DataFrame (a local relation, so joining it runs no scan)."""
    return bounded.arrow_frame(spark, pa.table({name: pa.array(ids, pa.int64())}))


def _pruned_paths(table_path: str, ids) -> tuple[str, IcepickTable, list[str]]:
    """(id_col, store, data files whose manifest chunk range can hold one
    of `ids`). A DataFrame's chunk set is collected as merged ranges
    (diff-bounded, like every planning list); an id array's is ids >> shift,
    with no Spark job."""
    id_col, id_shift = load_contract(table_path)
    t = IcepickTable(table_path)
    if isinstance(ids, DataFrame):
        chunks = chunk_set_for_ids(ids, id_shift)
    else:
        chunks = np.unique(np.asarray(ids, dtype=np.int64) >> id_shift).tolist()
    return id_col, t, t.data_paths_ranges(_merge_ranges(chunks))


def read_entities_for_ids(
    spark, table_path: str, ids_df, with_chunk: bool = False
) -> tuple[DataFrame, int]:
    """Pruned store read: only files whose manifest chunk range can hold
    one of the ids (a one-column DataFrame or a sorted int64 id array) are
    opened, O(diff ids / 2^shift) files, never table-proportional. Returns
    (rows, n_files_read); rows are NOT filtered to the ids — callers
    semi-join, keeping the filter inside the plan."""
    _id_col, t, paths = _pruned_paths(table_path, ids_df)
    df = t.read(spark, paths)
    return (df if with_chunk else df.drop("chunk_id")), len(paths)


def read_ids_arrow(table_path: str, ids) -> tuple[pa.Table | None, int]:
    """The zero-job twin of read_entities_for_ids for a sorted int64 id
    array on the driver: the same pruned files read with pyarrow and
    filtered to `ids`, without chunk_id. Returns (rows, n_files_read);
    rows is None when the pruned files fail bounded.fits_driver, and the
    caller then reads them with Spark."""
    id_col, t, paths = _pruned_paths(table_path, ids)
    if not bounded.fits_driver(paths, t.rows_of(paths)):
        return None, len(paths)
    tbl = t.read_arrow(paths).drop_columns(["chunk_id"])
    keep = pc.is_in(
        tbl.column(id_col), value_set=pa.array(ids, tbl.schema.field(id_col).type)
    )
    return tbl.filter(keep), len(paths)


def upsert_entities(
    spark,
    table_path: str,
    upserts: DataFrame | pa.Table | None = None,
    deleted_ids=None,
    group: str = "upsert",
) -> dict:
    """Apply an entity diff to the store: drop every upserted/deleted id
    from exactly the files whose id range holds it, append the new rows,
    one atomic commit_replace (old snapshots keep reading the pre-diff
    state). Returns the shared rewrite stats dict.

    The affected chunk set is ARITHMETIC (id >> shift) — locating the
    rewrite set scans zero data files, so a store upsert plans O(diff)
    regardless of table size (VERDICT r6 ask #1).

    `upserts` rows (a DataFrame or an Arrow table) must match the store
    schema minus chunk_id; brand-new ids simply append (their id range
    holds no existing file). Delete-only diffs pass upserts=None.
    `deleted_ids` is a one-column DataFrame or an int64 id array.

    The form of the inputs picks the plan. Driver-side inputs (an Arrow
    table, an id array) are planned on the driver and nothing is
    collected; any DataFrame input runs the distributed plan, which never
    collects the rows either."""
    id_col, id_shift = load_contract(table_path)
    t = IcepickTable(table_path)
    if not isinstance(upserts, DataFrame) and not isinstance(deleted_ids, DataFrame):
        up_tbl = upserts
        if up_tbl is None:
            up_tbl = t.arrow_schema().empty_table().drop_columns(["chunk_id"])
        up_ids = up_tbl.column(id_col)
        new_tbl = up_tbl.append_column(
            "chunk_id", pc.shift_right(up_ids.cast(pa.int64()), id_shift)
        )
        ids = np.union1d(
            id_array(up_ids), id_array([] if deleted_ids is None else deleted_ids)
        ).tolist()
        if up_ids.null_count:
            ids.append(None)
        return _apply_way_rewrite(
            spark,
            table_path,
            None,
            None,
            group,
            key=id_col,
            stat="affected_entities",
            old_chunks={i >> id_shift for i in ids if i is not None},
            n_aff=len(ids),
            aff_keys=ids,
            new_tbl=new_tbl,
        )
    if upserts is None:
        upserts = spark.createDataFrame([], t.spark_schema()).drop("chunk_id")
    elif isinstance(upserts, pa.Table):
        upserts = bounded.arrow_frame(spark, upserts)
    if deleted_ids is not None and not isinstance(deleted_ids, DataFrame):
        deleted_ids = id_frame(spark, id_array(deleted_ids), id_col)
    new_rows = with_id_chunk(upserts, id_col, id_shift)
    aff = upserts.select(F.col(id_col))
    if deleted_ids is not None:
        aff = aff.unionAll(
            deleted_ids.select(F.col(deleted_ids.columns[0]).alias(id_col))
        )
    aff = aff.distinct().localCheckpoint()
    return _apply_way_rewrite(
        spark,
        table_path,
        aff,
        new_rows,
        group,
        key=id_col,
        stat="affected_entities",
        old_chunks=chunk_set_for_ids(aff, id_shift, id_col),
    )
