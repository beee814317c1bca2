"""Persistent reverse-index stores (SURVEY.md §2.3 J3 made DURABLE;
VERDICT r6 ask #1). REF? the reference keeps a node->ways reverse index on
disk (src/containers/reverseIndex.* [M] — mount empty) precisely so a
minutely diff derives its blast radius in O(diff) instead of re-exploding
every way's refs. The Spark-first equivalent: an id-keyed entity store
(operators/entity_store.py) whose rows are (ref_id -> sorted referencing
parent ids), so

    lookup  = id-range-pruned file read + semi-join + explode
              (O(diff ids / 2^shift) files, never table-proportional)
    upsert  = re-list ONLY the refs touched by the diff's parents
              (old refs ∪ new refs — both diff-bounded), one bounded-file
              entity-store upsert in the same ledgered batch

Driver-side inputs (id arrays, Arrow refs) run both with pyarrow and
numpy and no Spark job; DataFrame inputs run both in Spark.

Generic over the parent kind: ways index their node refs
(ref_col="node_id", ids_col="way_ids"); relations index their member way
ids (ref_col="way_id", ids_col="relation_ids"). Both instances drive
streaming/update_stream.py's per-batch blast radius.

Maintenance invariant (the correctness contract a replay can lean on):
the store is always a SUPERSET of the true reverse mapping — a crash
window may leave a ref listing a parent that no longer references it,
which only widens a later blast radius (re-resolving an unchanged parent
rewrites identical rows); it can never miss a true referencing parent,
because the parent's own diff row carries its new refs into the same
batch's upsert.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark import bounded
from coords_spark.operators import entity_store as ES


def _index_rows(parent_refs: DataFrame, ref_col: str, ids_col: str) -> DataFrame:
    """(parent_id, refs) -> (ref_col, ids_col sorted set) — the same shape
    resolve.reverse_index produces, parametric over the entity kind."""
    return (
        parent_refs.select(
            F.col("id").alias("_pid"), F.explode("refs").alias(ref_col)
        )
        .groupBy(ref_col)
        .agg(F.array_sort(F.collect_set("_pid")).alias(ids_col))
    )


def build_rindex_store(
    spark,
    parent_refs: DataFrame,
    store_path: str,
    ref_col: str = "node_id",
    ids_col: str = "way_ids",
    id_shift: int = ES.DEFAULT_ID_SHIFT,
):
    """Full build from (id, refs array<bigint>) parent rows. One shuffle
    keyed by ref id; rows land id-range-clustered so every later lookup
    and upsert prunes by manifest id lineage."""
    rows = _index_rows(parent_refs, ref_col, ids_col)
    return ES.build_entity_store(rows, store_path, id_col=ref_col, id_shift=id_shift)


def rindex_lookup(spark, store_path: str, ids_df) -> tuple:
    """(referencing parent ids of the ref ids `ids_df`, n_store_files_read).
    A sorted int64 id array gives a sorted int64 parent array, read with
    pyarrow and no Spark job (entity_store.read_ids_arrow). A one-column
    DataFrame, or an array over the driver-read gate, gives a DataFrame of
    distinct parent ids named '<ids_col minus s>' (pruned Spark read +
    semi-join + explode)."""
    ref_col, _shift = ES.load_contract(store_path)
    if not isinstance(ids_df, DataFrame):
        cur, n_files = ES.read_ids_arrow(store_path, ids_df)
        if cur is not None:
            return ES.id_array(pc.list_flatten(cur.column(1))), n_files
    rows, n_files = ES.read_entities_for_ids(spark, store_path, ids_df)
    ids_col = [c for c in rows.columns if c != ref_col][0]
    out_col = ids_col[:-1] if ids_col.endswith("s") else f"{ids_col}_id"
    if isinstance(ids_df, DataFrame):
        ids = ids_df.select(F.col(ids_df.columns[0]).alias(ref_col)).distinct()
    else:
        ids = ES.id_frame(spark, ids_df, ref_col)
    parents = (
        rows.join(F.broadcast(ids), ref_col)
        .select(F.explode(ids_col).alias(out_col))
        .distinct()
    )
    return parents, n_files


def _pairs(tbl: pa.Table, key: str, list_col: str) -> np.ndarray:
    """(key, element) rows of the list column `list_col`: explode on the
    driver."""
    lists = tbl.column(list_col).combine_chunks()
    keys = tbl.column(key).to_numpy()[pc.list_parent_indices(lists).to_numpy()]
    return np.stack([keys, pc.list_flatten(lists).to_numpy()], axis=1)


def _rebuild_lists(
    cur: pa.Table, ref_col: str, changed: np.ndarray, new_parent_refs: pa.Table
) -> pa.Table:
    """(current (ref, parent) pairs of `cur` minus the changed parents) ∪
    the new pairs, grouped by ref into sorted distinct parent lists with
    np.unique: the driver plan's rebuilt rows, in `cur`'s schema."""
    ids_col = cur.column_names[1]
    old = _pairs(cur, ref_col, ids_col)
    new = _pairs(new_parent_refs, "id", "refs")[:, ::-1]
    pairs = np.unique(np.concatenate([old[~np.isin(old[:, 1], changed)], new]), axis=0)
    refs, starts = np.unique(pairs[:, 0], return_index=True)
    lists = pa.ListArray.from_arrays(
        pa.array(np.append(starts, len(pairs)), pa.int32()), pa.array(pairs[:, 1].copy())
    )
    return pa.table({ref_col: refs, ids_col: lists}).cast(cur.schema)


def upsert_rindex(
    spark,
    store_path: str,
    old_parent_refs,
    new_parent_refs,
    deleted_parent_ids=None,
    group: str = "rindex",
) -> dict:
    """Apply one diff's parent changes to the index. `old_parent_refs` are
    the PRE-diff (id, refs) rows of every changed parent (captured by the
    caller BEFORE the parent store upserts — diff-bounded),
    `new_parent_refs` the POST rows (the upsert side of the diff). Every
    ref appearing on either side gets its list rebuilt as

        (current list minus ALL changed parents) ∪ (new referencing pairs)

    — one pruned store read, then a bounded-file entity-store upsert.
    Refs whose rebuilt list is empty are deleted.

    The form of the inputs picks the plan. When all are on the driver (the
    refs as Arrow tables, the deleted ids as an int64 array), the pruned
    store files are read with pyarrow (entity_store.read_ids_arrow), the
    lists are rebuilt in numpy and upserted as Arrow: no Spark job. Any
    DataFrame input, or pruned files that fail the driver-read gate, run
    the distributed plan: checkpointed change sets, Spark joins and a
    DataFrame upsert.

    A replayed batch may see post-diff rows as `old_parent_refs` (the
    parent store already committed); the rebuilt lists then miss refs the
    parent DROPPED this batch, leaving stale entries — supersets, safe by
    the module invariant, healed the next time those refs are touched."""
    ref_col, _shift = ES.load_contract(store_path)
    sets = (old_parent_refs, new_parent_refs, deleted_parent_ids)
    cur = None
    if not any(isinstance(x, DataFrame) for x in sets):
        aff_ids = np.union1d(
            *(ES.id_array(pc.list_flatten(t.column("refs"))) for t in sets[:2])
        )
        cur, n_files = ES.read_ids_arrow(store_path, aff_ids)
    if cur is not None:
        changed = functools.reduce(
            np.union1d,
            [
                ES.id_array(x.column("id") if isinstance(x, pa.Table) else x)
                for x in sets
                if x is not None
            ],
        )
        lists = _rebuild_lists(cur, ref_col, changed, new_parent_refs)
        gone = np.setdiff1d(aff_ids, lists.column(ref_col).to_numpy())
    else:
        lists, gone, n_files = _spark_lists(spark, store_path, ref_col, *sets)
    stats = ES.upsert_entities(spark, store_path, lists, deleted_ids=gone, group=group)
    stats["rindex_files_read"] = n_files
    return stats


def _spark_lists(spark, store_path, ref_col, old, new, deleted):
    """The distributed plan's (rebuilt list rows, emptied refs,
    n_store_files_read); driver-side inputs become local relations."""
    old, new = (
        x if isinstance(x, DataFrame) else bounded.arrow_frame(spark, x) for x in (old, new)
    )
    changed = old.select("id").unionAll(new.select("id"))
    if deleted is not None:
        if not isinstance(deleted, DataFrame):
            deleted = ES.id_frame(spark, ES.id_array(deleted))
        changed = changed.unionAll(deleted.select(F.col(deleted.columns[0]).alias("id")))
    changed = changed.distinct().withColumnRenamed("id", "_pid").localCheckpoint()
    aff_refs = (
        old.select(F.explode("refs").alias(ref_col))
        .unionAll(new.select(F.explode("refs").alias(ref_col)))
        .distinct()
        .localCheckpoint()
    )
    cur, n_files = ES.read_entities_for_ids(spark, store_path, aff_refs)
    ids_col = [c for c in cur.columns if c != ref_col][0]
    keep = (
        cur.join(F.broadcast(aff_refs), ref_col)
        .select(ref_col, F.explode(ids_col).alias("_pid"))
        .join(F.broadcast(changed), "_pid", "left_anti")
    )
    new_pairs = new.select(F.col("id").alias("_pid"), F.explode("refs").alias(ref_col))
    lists = (
        keep.unionByName(new_pairs.select(ref_col, "_pid"))
        .groupBy(ref_col)
        .agg(F.array_sort(F.collect_set("_pid")).alias(ids_col))
    )
    gone = aff_refs.join(lists.select(ref_col), ref_col, "left_anti")
    return lists, gone, n_files
