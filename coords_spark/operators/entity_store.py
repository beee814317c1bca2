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
    paths = t.data_paths()
    if not paths:
        schema = t.spark_schema()
        if schema is None:
            raise ValueError(
                f"entity store {table_path} is empty AND its manifest carries "
                "no schema stamp (pre-r5 table?) — cannot plan the miss path"
            )
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.parquet(*paths)
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


def read_entities_for_ids(
    spark, table_path: str, ids_df: DataFrame, with_chunk: bool = False
) -> tuple[DataFrame, int]:
    """Pruned store read: only files whose manifest chunk range can hold
    one of `ids_df`'s ids are opened (O(diff ids / 2^shift) files, never
    table-proportional). Returns (rows, n_files_read); rows are NOT
    filtered to the ids — callers semi-join, keeping the filter inside the
    plan. The diff side is collected driver-side as merged chunk ranges
    (bounded by the diff, the same contract as every other planning list
    in this engine)."""
    _id_col, id_shift = load_contract(table_path)
    t = IcepickTable(table_path)
    ranges = _merge_ranges(sorted(chunk_set_for_ids(ids_df, id_shift)))
    paths = t.data_paths_ranges(ranges)
    if not paths:
        schema = t.spark_schema()
        if schema is None:
            raise ValueError(f"store {table_path} has no schema stamp for the miss path")
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.parquet(*paths)
    return (df if with_chunk else df.drop("chunk_id")), len(paths)


def upsert_entities(
    spark,
    table_path: str,
    upserts: DataFrame | None = None,
    deleted_ids: DataFrame | None = None,
    group: str = "upsert",
) -> dict:
    """Apply an entity diff to the store: drop every upserted/deleted id
    from exactly the files whose id range holds it, append the new rows,
    one atomic commit_replace (old snapshots keep reading the pre-diff
    state). Returns the shared rewrite stats dict.

    The affected chunk set is ARITHMETIC (id >> shift) — locating the
    rewrite set scans zero data files, so a store upsert plans O(diff)
    regardless of table size (VERDICT r6 ask #1).

    `upserts` rows must match the store schema minus chunk_id; brand-new
    ids simply append (their id range holds no existing file). Delete-only
    diffs pass upserts=None."""
    id_col, id_shift = load_contract(table_path)
    t = IcepickTable(table_path)
    if upserts is None:
        upserts = spark.createDataFrame([], t.spark_schema()).drop("chunk_id")
    new_rows = with_id_chunk(upserts, id_col, id_shift)
    # r8: ONE bounded Arrow collect of the upserts replaces the r7
    # distinct+checkpoint job, the chunk-set collect, the count inside the
    # rewrite AND the separate staged-write evaluation — the diff is
    # driver-side-bounded by contract, so the whole plan executes exactly
    # once. Past the cap (a backfill-sized diff) the distributed planning
    # path below returns unchanged.
    small = _collect_upserts_arrow(spark, upserts, deleted_ids, id_col, id_shift)
    if small is not None:
        aff_df, new_tbl, ids, chunks = small
        return _apply_way_rewrite(
            spark,
            table_path,
            aff_df,
            new_rows,
            group,
            key=id_col,
            stat="affected_entities",
            old_chunks=chunks,
            n_aff=len(ids),
            aff_keys=ids,
            new_tbl=new_tbl,
        )
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


def _collect_upserts_arrow(spark, upserts, deleted_ids, id_col, id_shift):
    """(aff_df, new_tbl, ids, chunks) when the diff fits under the collect
    cap, else None. new_tbl is the upserts WITH their chunk_id column —
    the exact rows with_id_chunk produces — computed locally from the one
    Arrow collect."""
    import pyarrow as pa

    cap = bounded.DIFF_ID_COLLECT_CAP
    up_tbl = bounded.bounded_arrow(upserts, cap)
    if up_tbl is None:
        return None
    del_vals: list = []
    if deleted_ids is not None:
        del_rows = deleted_ids.limit(cap + 1).collect()
        if len(del_rows) > cap:
            return None
        del_vals = [r[0] for r in del_rows]
    idvals = up_tbl.column(id_col).to_pylist()
    chunk_arr = pa.array(
        [None if v is None else int(v) >> id_shift for v in idvals], pa.int64()
    )
    if "chunk_id" in up_tbl.column_names:
        new_tbl = up_tbl.set_column(
            up_tbl.column_names.index("chunk_id"), "chunk_id", chunk_arr
        )
    else:
        new_tbl = up_tbl.append_column("chunk_id", chunk_arr)
    ids = sorted({v for v in idvals if v is not None} | {v for v in del_vals if v is not None})
    if any(v is None for v in idvals) or any(v is None for v in del_vals):
        ids.append(None)
    chunks = {int(i) >> id_shift for i in ids if i is not None}
    aff_df = spark.createDataFrame(
        [(i,) for i in ids], upserts.select(F.col(id_col)).schema
    )
    return aff_df, new_tbl, ids, chunks
