"""Incremental update apply (SURVEY.md §2.3 J3's intent; VERDICT r4 ask
#6). REF? src/containers/reverseIndex.* [M] — mount empty; the reference
keeps a node->ways reverse index precisely so a node-diff can rewrite ONLY
the affected ways' chunks instead of re-running the planet build.

Spark-first shape: the diff is the small side everywhere —

    nodes_diff --join reverse index (or explode(ways.refs))--> affected ways
    affected ways --re-resolve with patched nodes--> new geometry/cell/chunk
    old files whose chunk range holds an affected way --left_anti rewrite--
    one icepick commit_replace: drop stale files, add rewrites + new rows

Everything data-proportional stays distributed; the only driver-side state
is the affected CHUNK id set and the file list (both bounded by the diff
size × chunk fan-out, never by table size). Files whose chunk range holds
no affected way are untouched byte-for-byte — the zero-rewrites-elsewhere
guarantee the pytest pins.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark import bounded
from coords_spark.operators import geometry, resolve, tiling
from coords_spark.sources.icepick import IcepickTable

_SPLIT_SIDECAR = "_split_set.parquet"


def save_split_set(table_path: str, split, base_level: int) -> None:
    """Persist the table's chunking contract (split set + base level) as a
    parquet sidecar — the split set scales with chunk count, so it belongs
    in a columnar file next to the data, not inside the JSON manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {"node": pa.array(np.asarray(split, dtype=np.int64), pa.int64())},
            metadata={b"base_level": str(base_level).encode()},
        ),
        os.path.join(table_path, _SPLIT_SIDECAR),
    )


def load_split_set(table_path: str) -> tuple[np.ndarray, int]:
    """(split set, base_level) from the sidecar written at build time."""
    import pyarrow.parquet as pq

    p = os.path.join(table_path, _SPLIT_SIDECAR)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"no split-set sidecar at {p} (table built before r5, or not by "
            "build_way_chunk_table) — pass split= explicitly"
        )
    t = pq.read_table(p)
    return (
        np.sort(t.column("node").to_numpy(zero_copy_only=False).astype(np.int64)),
        int(t.schema.metadata[b"base_level"].decode()),
    )


def _way_rows(ways: DataFrame, nodes: DataFrame, split, base_level: int) -> DataFrame:
    """The canonical way-chunk row set: resolve -> envelope -> deepest
    containing cell (T4) -> chunk under `split` (T5). Single definition
    shared by full build and incremental rebuild so both paths cannot
    drift."""
    resolved = resolve.resolve_ways(ways, nodes)
    g = geometry.with_geometry_cell(geometry.with_envelope(resolved))
    chunked = tiling.with_chunk(g, split, base_level=base_level)
    return chunked.select("way_id", "cell", "chunk_id", "pts")


def build_way_chunk_table(
    spark,
    nodes: DataFrame,
    ways: DataFrame,
    table_path: str,
    split,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    locator_id_shift: int | None = None,
) -> IcepickTable:
    """Full build of a way-geometry chunk table (the incremental target).
    The split set + base level persist as a sidecar so later diffs need no
    out-of-band contract (apply_*_diff default to it)."""
    rows = _way_rows(ways, nodes, split, base_level)
    t = tiling.materialize_chunk_table(rows, table_path, key_col="way_id")
    save_split_set(table_path, split, base_level)
    build_locator(rows.sparkSession, table_path, "way_id", id_shift=locator_id_shift)
    return t


def affected_way_ids(ways: DataFrame, nodes_diff: DataFrame) -> DataFrame:
    """(way_id) touched by the diff, derived on the fly from ways.refs (the
    streaming apply looks the same set up in its persistent reverse-index
    store instead: rindex.rindex_lookup)."""
    ids = nodes_diff.select(F.col("id").alias("node_id")).distinct()
    return (
        resolve.explode_refs(ways)
        .join(F.broadcast(ids), "node_id")
        .select("way_id")
        .distinct()
    )


def patched_nodes(nodes: DataFrame, nodes_diff: DataFrame) -> DataFrame:
    """nodes with the diff's lat/lon (and version, if present) applied —
    a broadcast left join, never a shuffle of the big node table."""
    d = nodes_diff.select(
        F.col("id"),
        F.col("lat").alias("_dlat"),
        F.col("lon").alias("_dlon"),
    )
    out = nodes.join(F.broadcast(d), "id", "left")
    return out.select(
        *[c for c in nodes.columns if c not in ("lat", "lon")],
        F.coalesce("_dlat", "lat").alias("lat"),
        F.coalesce("_dlon", "lon").alias("lon"),
    )


_LOCATOR_DIR = "_locator"


def _locator_path(table_path: str) -> str:
    return os.path.join(table_path, _LOCATOR_DIR)


def has_locator(table_path: str) -> bool:
    from coords_spark.sources.icepick import IcepickTable as _T

    return _T(_locator_path(table_path)).exists()


def build_locator(spark, table_path: str, key: str, id_shift: int | None = None) -> None:
    """Create the (key -> chunk_ids) locator sidecar for an existing chunk
    table — one full scan at BUILD time (key + chunk_id columns only) so
    every later diff locates its rewrite set with an id-range-pruned
    lookup instead of a table-wide semi-join (VERDICT r6 ask #1; the
    reference's persistent reverse-index design, REF?
    src/containers/reverseIndex.* [M], mount empty). The locator is itself
    an id-keyed entity store, so maintaining it is a bounded-file upsert."""
    from coords_spark.operators import entity_store as ES

    table = IcepickTable(table_path)
    paths = table.data_paths()
    if paths:
        pairs = (
            table.read(spark, paths)
            .select(key, "chunk_id")
            .groupBy(key)
            .agg(F.array_sort(F.collect_set("chunk_id")).alias("chunk_ids"))
        )
    else:
        pairs = spark.createDataFrame([], f"{key} bigint, chunk_ids array<bigint>")
    ES.build_entity_store(
        pairs,
        _locator_path(table_path),
        id_col=key,
        id_shift=ES.DEFAULT_ID_SHIFT if id_shift is None else id_shift,
    )


def _locator_old_lists(
    spark, table_path: str, aff: DataFrame | None, aff_keys: list, key: str
) -> tuple[dict, int]:
    """(key -> old chunk_ids, files_read) for the diff's keys from the
    `_locator` entity store: read with pyarrow under the driver-read gate
    (entity_store.read_ids_arrow, zero Spark jobs), else through the
    pruned Spark read + semi-join collect (post-compact locators can be
    one large file; scanning that belongs on executors)."""
    from coords_spark.operators import entity_store as ES

    loc_path = _locator_path(table_path)
    ids = ES.id_array([k for k in aff_keys if k is not None])
    tbl, n_files = ES.read_ids_arrow(loc_path, ids)
    if tbl is not None:
        keys, lists = tbl.column(key).to_pylist(), tbl.column("chunk_ids").to_pylist()
        return dict(zip(keys, lists)), n_files
    if aff is None:
        aff = ES.id_frame(spark, ids, key)
    rows, n_files = ES.read_entities_for_ids(spark, loc_path, ids)
    rows = rows.join(F.broadcast(aff), key, "semi").collect()
    return {r[0]: list(r[1]) for r in rows}, n_files


def _stage_small_rewrite_arrow(
    staging: str, replace_paths: list[str], aff_keys: list, new_tbl, key: str
) -> None:
    """Stage a diff-sized rewrite entirely driver-side: filter the
    affected keys out of the (small, local) replaced files with pyarrow,
    concat the already-collected new rows, write ONE sorted parquet —
    the same rows as the range write, without the fixed cost of a Spark
    write job per streaming batch."""
    import pyarrow.parquet as _pq

    parts = [new_tbl]
    keyvals = [k for k in aff_keys if k is not None]
    for p in replace_paths:
        ft = _pq.read_table(p)
        if set(ft.column_names) != set(new_tbl.column_names):
            # one staged file holds one column set
            raise ValueError(
                f"column drift between {p} {sorted(ft.column_names)} "
                f"and the new rows {sorted(new_tbl.column_names)}"
            )
        mask = pc.is_in(
            ft.column(key),
            value_set=pa.array(keyvals, ft.schema.field(key).type),
        )
        # null keys never match an anti-join: keep them
        surv = ft.filter(pc.fill_null(pc.invert(mask), True))
        parts.append(surv.select(new_tbl.column_names).cast(new_tbl.schema))
    tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
    bounded.write_sorted(tbl, staging, ["chunk_id"], 1)


def _apply_way_rewrite(
    spark,
    table_path: str,
    aff: DataFrame | None,
    new_rows: DataFrame | None,
    group: str,
    key: str = "way_id",
    stat: str = "affected_ways",
    old_chunks: set[int] | None = None,
    n_aff: int | None = None,
    aff_keys: list | None = None,
    new_tbl=None,
) -> dict:
    """Shared rewrite machinery: drop every `aff` entity (matched on `key`)
    from the files whose chunk range holds one (row-exact left_anti
    rewrite), append `new_rows`, land both as ONE atomic commit_replace
    (old snapshots keep reading the pre-diff state — time travel is
    preserved). Used by the node/way diffs (key=way_id), the relation diff
    (key=relation_id) and the entity stores (key=id).

    The affected chunks come from one of two places:
    - `old_chunks` precomputed by the caller (entity stores: arithmetic
      id >> shift — zero scan);
    - the table's `_locator` sidecar (key -> chunk_ids entity store): an
      id-range-pruned lookup reading O(diff keys / 2^shift) locator files.
    A table with neither raises ValueError.

    A caller that holds the diff on the driver passes `aff_keys` and
    `new_tbl` (with `n_aff`) and may leave `aff`/`new_rows` None: a
    DataFrame of either is then built only if the range write runs. Only
    rows on the driver are staged driver-side: an entity-store caller's
    DataFrame `new_rows` keep the range write and are never collected.

    Locator crash ordering: the lookup's result is committed back as the
    UNION of old and new chunk ids BEFORE the table commit, and trimmed to
    exactly the new ids after it. A crash in either window leaves the
    locator a SUPERSET of the truth — supersets only widen the next
    rewrite's file set, never lose a stale row — and the next touch of the
    same keys re-trims it (self-healing)."""
    table = IcepickTable(table_path)
    if n_aff is None:
        n_aff = aff.count()
    if n_aff == 0:
        return {stat: 0, "files_replaced": 0, "files_added": 0}

    locator = old_chunks is None
    if locator and not has_locator(table_path):
        raise ValueError(
            f"{table_path} has no {_LOCATOR_DIR} sidecar: build the table with "
            "build_way_chunk_table or build_relation_chunk_table (or add the "
            "sidecar with build_locator)"
        )
    loc_files_read = 0
    new_map: dict = {}
    if locator:
        from coords_spark.operators import entity_store as ES

        # r8: the locator planning lists are all diff-bounded (the same
        # contract as the chunk sets), so compute the union/trim lists
        # DRIVER-SIDE instead of the r7 chain of checkpoint + explode/
        # distinct/collect + two groupBy jobs — the per-batch Spark JOB
        # COUNT is what dominates a streaming upsert. The new rows are
        # collected ONCE as Arrow and reused by the staged write below.
        if aff_keys is None:
            aff_keys = [r[0] for r in aff.collect()]
        if new_tbl is None and n_aff <= bounded.SMALL_REWRITE_ROWS:
            new_tbl = bounded.bounded_arrow(new_rows)
        if new_tbl is not None:
            for kk, cc in zip(
                new_tbl.column(key).to_pylist(),
                new_tbl.column("chunk_id").to_pylist(),
            ):
                new_map.setdefault(kk, set()).add(cc)
        else:
            # one materialization: (key, chunk) pairs AND the staged write
            # both consume the re-derived rows
            new_rows = new_rows.localCheckpoint()
            for r in new_rows.select(key, "chunk_id").distinct().collect():
                new_map.setdefault(r[0], set()).add(r[1])
        old_map, loc_files_read = _locator_old_lists(
            spark, table_path, aff, aff_keys, key
        )
        old_aff_chunks = {c for cl in old_map.values() for c in cl}
        # pre-commit the UNION so the locator is a superset before any
        # table state moves (see docstring crash ordering)
        union_rows = [
            (k, sorted(set(old_map.get(k, ())) | new_map.get(k, set())))
            for k in sorted(set(old_map) | set(new_map))
        ]
        ES.upsert_entities(
            spark, _locator_path(table_path), _locator_rows(key, union_rows),
            group=f"{group}-pre",
        )
    else:
        old_aff_chunks = set(old_chunks) if table.data_paths() else set()
    # a file with no chunk stats could hold ANY affected way — rewrite it
    # conservatively rather than leave a stale duplicate behind
    replace = [
        e
        for e in table.files()
        if old_aff_chunks
        and (
            e.get("chunk_min") is None
            or any(e["chunk_min"] <= c <= e["chunk_max"] for c in old_aff_chunks)
        )
    ]
    replace_paths = [os.path.join(table_path, e["path"]) for e in replace]

    staging = tempfile.mkdtemp(prefix="way_rewrite_", dir=table_path)
    # rewritten survivors: replaced files minus affected ways (row-exact
    # on way_id — a file's chunk range may span untouched chunks too);
    # re-chunked affected ways append beside existing coverage (reads
    # union overlapping ranges, so untouched files stay untouched)
    if new_tbl is not None and bounded.fits_driver(replace_paths, n_aff):
        # diff-sized rewrite (the streaming steady state): the Arrow new
        # rows and the small local replaced files, filtered with pyarrow,
        # land as ONE sorted file staged DRIVER-SIDE. A Spark parquet
        # write job costs ~0.4-0.6 s fixed on local (committer setup, task
        # temp dirs, renames).
        _stage_small_rewrite_arrow(staging, replace_paths, aff_keys, new_tbl, key)
    else:
        from coords_spark.operators import entity_store as ES

        if aff is None:
            aff = ES.id_frame(spark, aff_keys, key)
        if new_rows is None:
            new_rows = bounded.arrow_frame(spark, new_tbl)
        if replace_paths:
            (
                table.read(spark, replace_paths)
                .join(aff, key, "left_anti")
                .repartitionByRange("chunk_id")
                .sortWithinPartitions("chunk_id")
                .write.mode("append")
                .parquet(os.path.join(staging, "rewritten"))
            )
        (
            new_rows.repartitionByRange("chunk_id")
            .sortWithinPartitions("chunk_id")
            .write.mode("append")
            .parquet(os.path.join(staging, "updated"))
        )
    # Spark leaves _SUCCESS markers; _finalize_staged globs *.parquet only
    n_total = len(table.files())
    entries = table.commit_replace(staging, [e["path"] for e in replace], group=group)
    if locator:
        # trim to exactly the new chunk ids (deleted keys drop out); a
        # crash before this point leaves the pre-committed superset
        new_lists = [(k, sorted(v)) for k, v in sorted(new_map.items())]
        gone = pa.array([k for k in aff_keys if k not in new_map], pa.int64())
        ES.upsert_entities(
            spark, _locator_path(table_path), _locator_rows(key, new_lists),
            deleted_ids=gone, group=f"{group}-post",
        )
    return {
        stat: n_aff,
        "old_chunks": sorted(old_aff_chunks),
        "files_replaced": len(replace),
        "files_added": len(entries),
        "files_untouched": n_total - len(replace),
        "locator_files_read": loc_files_read if locator else None,
        "entries": entries,
    }


def _locator_rows(key: str, rows: list[tuple]) -> pa.Table:
    """(key, sorted chunk ids) pairs as locator-store rows."""
    return pa.table(
        {
            key: pa.array([k for k, _ in rows], pa.int64()),
            "chunk_ids": pa.array([c for _, c in rows], pa.list_(pa.int64())),
        }
    )


def _collect_aff(aff: DataFrame) -> tuple[DataFrame | None, int | None, list | None]:
    """(aff, n_aff, aff_keys) for _apply_way_rewrite: up to
    bounded.DIFF_ID_COLLECT_CAP keys are collected once, and the rewrite
    plans from the list; past the cap `aff` is checkpointed and stays a
    DataFrame."""
    tbl = bounded.bounded_arrow(aff, bounded.DIFF_ID_COLLECT_CAP)
    if tbl is None:
        return aff.localCheckpoint(), None, None
    keys = tbl.column(0).to_pylist()
    return None, len(keys), keys


def apply_node_diff(
    spark,
    table_path: str,
    nodes: DataFrame,
    ways: DataFrame,
    nodes_diff: DataFrame,
    split=None,
    base_level: int | None = None,
    group: str = "node_diff",
) -> dict:
    """Apply a node diff (moved/updated nodes) to an existing way-chunk
    icepick table: re-resolve and re-chunk ONLY the affected ways, rewrite
    ONLY the data files whose chunk range holds an affected way, one
    atomic commit.

    The split set is the table's chunking contract (chunk ids are only
    comparable under one split); by default it loads from the sidecar the
    build wrote — pass split=/base_level= only for pre-sidecar tables.

    Returns stats: affected way/chunk/file counts and the commit entries.
    """
    if split is None:
        split, sidecar_bl = load_split_set(table_path)
        base_level = sidecar_bl if base_level is None else base_level
    elif base_level is None:
        base_level = tiling.DEFAULT_BASE_LEVEL
    aff = affected_way_ids(ways, nodes_diff).localCheckpoint()
    ways_aff = ways.join(aff.withColumnRenamed("way_id", "id"), "id", "semi")
    new_rows = _way_rows(ways_aff, patched_nodes(nodes, nodes_diff), split, base_level)
    return _apply_way_rewrite(spark, table_path, aff, new_rows, group)


def apply_way_diff(
    spark,
    table_path: str,
    nodes: DataFrame,
    ways_diff: DataFrame,
    deleted_way_ids: DataFrame | None = None,
    split=None,
    base_level: int | None = None,
    group: str = "way_diff",
) -> dict:
    """Apply a WAY diff — new, re-routed (refs changed), re-tagged, or
    deleted ways — to an existing way-chunk table. The affected set is the
    diff itself: changed ways' old rows are dropped from exactly the files
    holding them and their re-resolved rows appended; brand-new ways have
    no old rows and simply append; `deleted_way_ids` rows are dropped
    without replacement. One atomic commit, same bounded-rewrite guarantee
    as apply_node_diff."""
    if split is None:
        split, sidecar_bl = load_split_set(table_path)
        base_level = sidecar_bl if base_level is None else base_level
    elif base_level is None:
        base_level = tiling.DEFAULT_BASE_LEVEL
    aff = ways_diff.select(F.col("id").alias("way_id")).distinct()
    if deleted_way_ids is not None:
        aff = aff.unionAll(
            deleted_way_ids.select(F.col(deleted_way_ids.columns[0]).alias("way_id"))
        ).distinct()
    aff, n_aff, aff_keys = _collect_aff(aff)
    new_rows = _way_rows(ways_diff, nodes, split, base_level)
    return _apply_way_rewrite(
        spark, table_path, aff, new_rows, group, n_aff=n_aff, aff_keys=aff_keys
    )


# ---------------------------------------------------------------------------
# relation diffs (multipolygon chunk tables) — VERDICT r5 ask #3
# ---------------------------------------------------------------------------


def _relation_rows(
    relations: DataFrame, resolved_ways: DataFrame, split, base_level: int
) -> DataFrame:
    """Canonical multipolygon-chunk row set: J2 member join -> T8 ring
    assembly -> envelope of the outer ring (T3) -> deepest containing cell
    (T4) -> chunk under `split` (T5). One definition shared by full build
    and incremental rebuild so the two paths cannot drift (same contract
    as _way_rows)."""
    from coords_spark.operators import multipolygon

    members = resolve.resolve_relation_members(relations, resolved_ways)
    polys = multipolygon.reconstruct_multipolygons(members)
    g = geometry.with_geometry_cell(geometry.with_envelope(polys, pts="outer"))
    chunked = tiling.with_chunk(g, split, base_level=base_level)
    return chunked.select(
        "relation_id", "poly_idx", "cell", "chunk_id", "outer", "inners"
    )


def build_relation_chunk_table(
    spark,
    relations: DataFrame,
    resolved_ways: DataFrame,
    table_path: str,
    split,
    base_level: int = tiling.DEFAULT_BASE_LEVEL,
    locator_id_shift: int | None = None,
) -> IcepickTable:
    """Full build of a multipolygon chunk table (the relation-diff target);
    persists the split-set sidecar exactly like build_way_chunk_table."""
    rows = _relation_rows(relations, resolved_ways, split, base_level)
    t = tiling.materialize_chunk_table(rows, table_path, key_col="relation_id")
    save_split_set(table_path, split, base_level)
    build_locator(
        rows.sparkSession, table_path, "relation_id", id_shift=locator_id_shift
    )
    return t


def apply_relation_diff(
    spark,
    table_path: str,
    relations_diff: DataFrame,
    resolved_ways: DataFrame,
    deleted_relation_ids: DataFrame | None = None,
    split=None,
    base_level: int | None = None,
    group: str = "relation_diff",
) -> dict:
    """Apply a RELATION diff — changed member lists or roles, brand-new or
    deleted relations — to an existing multipolygon chunk table:
    reassemble multipolygons for ONLY the diff's relations (the J2 join +
    T8 ring assembly run over the diff, never the whole table), drop their
    old polygon rows from exactly the files whose chunk range holds one,
    append the reassembled rows, land both as one atomic commit_replace.
    Untouched files stay byte-identical; old snapshots keep reading the
    pre-diff state.

    For member-WAY geometry changes (a way diff rippling into relations),
    look the blast radius up in a way->relations reverse-index store
    (rindex.rindex_lookup(spark, store, changed_way_ids)) and pass
    relations.join(that, "id", "semi") as relations_diff, with
    resolved_ways carrying the POST-diff geometry.

    Closes the update family — node diffs (apply_node_diff), way diffs
    (apply_way_diff), relation diffs (this); REF? the reverse-index update
    path src/containers/reverseIndex.* [M], mount empty."""
    if split is None:
        split, sidecar_bl = load_split_set(table_path)
        base_level = sidecar_bl if base_level is None else base_level
    elif base_level is None:
        base_level = tiling.DEFAULT_BASE_LEVEL
    aff = relations_diff.select(F.col("id").alias("relation_id")).distinct()
    if deleted_relation_ids is not None:
        aff = aff.unionAll(
            deleted_relation_ids.select(
                F.col(deleted_relation_ids.columns[0]).alias("relation_id")
            )
        ).distinct()
    aff, n_aff, aff_keys = _collect_aff(aff)
    new_rows = _relation_rows(relations_diff, resolved_ways, split, base_level)
    return _apply_way_rewrite(
        spark,
        table_path,
        aff,
        new_rows,
        group,
        key="relation_id",
        stat="affected_relations",
        n_aff=n_aff,
        aff_keys=aff_keys,
    )
