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


def read_entities_for_ids(
    spark, table_path: str, ids_df, with_chunk: bool = False
) -> tuple[DataFrame, int]:
    """Pruned store read: only files whose manifest chunk range can hold
    one of the ids are opened (O(diff ids / 2^shift) files, never
    table-proportional). Returns (rows, n_files_read); rows are NOT
    filtered to the ids — callers semi-join, keeping the filter inside the
    plan. `ids_df` is a one-column DataFrame, whose chunk set is collected
    driver-side as merged ranges (bounded by the diff, the same contract
    as every other planning list in this engine), or a sorted int64 id
    array already on the driver, whose chunk ranges are ids >> shift with
    no Spark job."""
    _id_col, id_shift = load_contract(table_path)
    t = IcepickTable(table_path)
    if isinstance(ids_df, DataFrame):
        chunks = chunk_set_for_ids(ids_df, id_shift)
    else:
        chunks = np.unique(np.asarray(ids_df, dtype=np.int64) >> id_shift).tolist()
    paths = t.data_paths_ranges(_merge_ranges(chunks))
    df = t.read(spark, paths)
    return (df if with_chunk else df.drop("chunk_id")), len(paths)


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

    Up to bounded.DIFF_ID_COLLECT_CAP rows the diff is planned on the
    driver: DataFrame inputs are collected in ONE Arrow query (upserts and
    deleted ids side by side, told apart by a flag column), driver-side
    inputs are not collected at all. Past the cap the distributed
    planning path runs."""
    id_col, id_shift = load_contract(table_path)
    t = IcepickTable(table_path)
    diff = _collect_diff(upserts, deleted_ids, id_col)
    if diff is not None:
        up_tbl, del_ids = diff
        if up_tbl is None:
            up_tbl = t.arrow_schema().empty_table().drop_columns(["chunk_id"])
        chunk_arr = pc.shift_right(up_tbl.column(id_col).cast(pa.int64()), id_shift)
        if "chunk_id" in up_tbl.column_names:
            new_tbl = up_tbl.set_column(
                up_tbl.column_names.index("chunk_id"), "chunk_id", chunk_arr
            )
        else:
            new_tbl = up_tbl.append_column("chunk_id", chunk_arr)
        parts = [up_tbl.column(id_col)] + ([] if del_ids is None else [del_ids])
        all_ids = pa.chunked_array(
            [a for p in parts for a in pa.chunked_array(p).cast(pa.int64()).chunks],
            pa.int64(),
        )
        ids = id_array(all_ids).tolist()
        if all_ids.null_count:
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


_DELETED = "_deleted"


def _collect_diff(upserts, deleted_ids, id_col):
    """(upsert rows as Arrow or None, deleted ids as an Arrow array or
    None) when the diff holds at most bounded.DIFF_ID_COLLECT_CAP rows,
    else None. DataFrame inputs are collected in one query: the deleted
    ids ride beside the upserts under a boolean flag column."""
    cap = bounded.DIFF_ID_COLLECT_CAP
    up_df = upserts if isinstance(upserts, DataFrame) else None
    del_df = deleted_ids if isinstance(deleted_ids, DataFrame) else None
    if up_df is not None and del_df is not None:
        id_type = up_df.schema[id_col].dataType
        flagged = up_df.withColumn(_DELETED, F.lit(False)).unionByName(
            del_df.select(
                F.col(del_df.columns[0]).cast(id_type).alias(id_col),
                F.lit(True).alias(_DELETED),
            ),
            allowMissingColumns=True,
        )
        tbl = bounded.bounded_arrow(flagged, cap)
        if tbl is None:
            return None
        deleted = tbl.column(_DELETED)
        upserts = tbl.filter(pc.invert(deleted)).drop_columns([_DELETED])
        deleted_ids = tbl.filter(deleted).column(id_col)
    elif up_df is not None:
        upserts = bounded.bounded_arrow(up_df, cap)
        if upserts is None:
            return None
    elif del_df is not None:
        tbl = bounded.bounded_arrow(del_df.select(del_df.columns[0]), cap)
        if tbl is None:
            return None
        deleted_ids = tbl.column(0)
    if deleted_ids is not None and not isinstance(deleted_ids, (pa.Array, pa.ChunkedArray)):
        deleted_ids = pa.array(deleted_ids, pa.int64())
    n = (0 if upserts is None else upserts.num_rows) + (
        0 if deleted_ids is None else len(deleted_ids)
    )
    return (upserts, deleted_ids) if n <= cap else None
