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


def rindex_lookup(spark, store_path: str, ids_df) -> tuple[DataFrame, int]:
    """Referencing parent ids for `ids_df` (a single ref-id column
    DataFrame, or a sorted int64 id array on the driver, which prunes the
    store read with no Spark job): pruned read + semi-join + explode.
    Returns (one-column DataFrame of distinct parent ids named '<ids_col
    minus s>', n_store_files_read)."""
    ref_col, _shift = ES.load_contract(store_path)
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


def _on_driver(x, cap: int):
    """`x` (a DataFrame, an Arrow table or array, or None) on the driver:
    a DataFrame is collected once, None when it holds more than `cap`
    rows."""
    if isinstance(x, DataFrame):
        return bounded.bounded_arrow(x, cap)
    return x


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

    — one pruned store read + diff-bounded joins, then a bounded-file
    entity-store upsert. Refs whose rebuilt list is empty are deleted.

    Each input is a DataFrame or already on the driver (the refs as Arrow
    tables, the deleted ids as an int64 array). Up to
    bounded.DIFF_ID_COLLECT_CAP rows each, DataFrame inputs are collected
    once and the changed-parent and affected-ref sets are computed on the
    driver, so the store read prunes with no Spark job; past the cap both
    sets are checkpointed DataFrames.

    A replayed batch may see post-diff rows as `old_parent_refs` (the
    parent store already committed); the rebuilt lists then miss refs the
    parent DROPPED this batch, leaving stale entries — supersets, safe by
    the module invariant, healed the next time those refs are touched."""
    ref_col, _shift = ES.load_contract(store_path)
    cap = bounded.DIFF_ID_COLLECT_CAP
    old = _on_driver(old_parent_refs, cap)
    new = _on_driver(new_parent_refs, cap)
    dele = _on_driver(deleted_parent_ids, cap)
    if old is not None and new is not None and (dele is not None or deleted_parent_ids is None):
        if isinstance(dele, pa.Table):
            dele = dele.column(0)
        changed_ids = functools.reduce(
            np.union1d,
            [ES.id_array(old.column("id")), ES.id_array(new.column("id"))]
            + ([] if dele is None else [ES.id_array(dele)]),
        )
        aff_ids = np.union1d(
            *(ES.id_array(pc.list_flatten(t.column("refs"))) for t in (old, new))
        )
        changed = ES.id_frame(spark, changed_ids, "_pid")
        aff_refs = ES.id_frame(spark, aff_ids, ref_col)
        new_parent_refs = bounded.arrow_frame(spark, new.select(["id", "refs"]))
    else:
        old_df, new_parent_refs = (
            x if isinstance(x, DataFrame) else bounded.arrow_frame(spark, x)
            for x in (old_parent_refs, new_parent_refs)
        )
        changed = old_df.select("id").unionAll(new_parent_refs.select("id"))
        if deleted_parent_ids is not None:
            if not isinstance(deleted_parent_ids, DataFrame):
                deleted_parent_ids = ES.id_frame(spark, ES.id_array(deleted_parent_ids))
            changed = changed.unionAll(
                deleted_parent_ids.select(
                    F.col(deleted_parent_ids.columns[0]).alias("id")
                )
            )
        changed = changed.distinct().withColumnRenamed("id", "_pid").localCheckpoint()
        aff_refs = (
            old_df.select(F.explode("refs").alias(ref_col))
            .unionAll(new_parent_refs.select(F.explode("refs").alias(ref_col)))
            .distinct()
            .localCheckpoint()
        )
        aff_ids = aff_refs
    cur, n_files = ES.read_entities_for_ids(spark, store_path, aff_ids)
    ids_col = [c for c in cur.columns if c != ref_col][0]
    keep = (
        cur.join(F.broadcast(aff_refs), ref_col)
        .select(ref_col, F.explode(ids_col).alias("_pid"))
        .join(F.broadcast(changed), "_pid", "left_anti")
    )
    new_pairs = new_parent_refs.select(
        F.col("id").alias("_pid"), F.explode("refs").alias(ref_col)
    ).select(ref_col, "_pid")
    lists = (
        keep.unionByName(new_pairs)
        .groupBy(ref_col)
        .agg(F.array_sort(F.collect_set("_pid")).alias(ids_col))
    )
    gone = aff_refs.join(lists.select(ref_col), ref_col, "left_anti")
    stats = ES.upsert_entities(spark, store_path, lists, deleted_ids=gone, group=group)
    stats["rindex_files_read"] = n_files
    return stats
