"""Continuous minutely-diff apply: OSM-replication-style diff batches ->
entity-store upserts -> bounded rewrites of the derived way-chunk and
multipolygon tables, exactly-once (SURVEY.md §2.9 × the update family).
REF? COORDS consumes OSC replication diffs to keep its storage current
(update pipeline around src/containers/reverseIndex.* [M] — mount empty);
the Spark-first shape is Structured Streaming's file source over diff
parquet batches + foreachBatch, where each micro-batch composes the
EXISTING batch operators:

    diff batch (mixed node/way/relation upserts+deletes)
      1. upsert_entities into each id-keyed store     (O(diff) files)
      2. blast radius: changed nodes -> referencing ways (pruned lookup
         in the persistent node->ways reverse-index store), + the way
         diff itself
      3. apply_way_diff on the way-chunk table         (O(radius) files)
      4. blast radius: changed ways -> member relations (pruned lookup in
         the way->relations reverse-index store), + the relation diff
         itself; apply_relation_diff                   (O(radius) files)

Exactly-once: every table keeps its own committed-group ledger and the
group id is the stream batch id — a replayed micro-batch after a crash
skips per-table (stores committed, derived not -> only derived re-apply;
the derivation is deterministic from the post-upsert stores, which a
replay reads in exactly the post-upsert state). Batches compose: batch
N+1's re-resolution reads stores that already contain batch N, which is
why the mutable entity-store layer exists at all.

100 TB posture: every per-batch job is diff-proportional — every store
read is id-range-pruned (entity_store.read_entities_for_ids), the blast
radius comes from the reverse-index stores (operators/rindex.py), which
are therefore required inputs, and rewrites touch only files whose
chunk/id range holds an affected entity. A day of minutely diffs then
fragments the tables; icepick compact()/expire_snapshots() (S8) is the
matching lifecycle.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coords_spark import bounded
from coords_spark.operators import entity_store as ES
from coords_spark.operators import resolve, update
from coords_spark.operators import rindex as RI
from coords_spark.sources.icepick import IcepickTable

# one unified row per changed entity, OSC-style: kind 0=node 1=way 2=rel;
# action upsert|delete; payload columns nullable per kind
DIFF_SCHEMA = (
    "kind tinyint, action string, id bigint, version int, "
    "lat int, lon int, refs array<bigint>, "
    "members array<struct<mtype: tinyint, ref: bigint, role: string>>, "
    "tags map<string,string>"
)

KIND_NODE, KIND_WAY, KIND_REL = 0, 1, 2


def stream_diffs_from_dir(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """File-source stream of diff batches: one parquet file per replication
    interval, picked up in arrival order (maxFilesPerTrigger=1 keeps one
    interval per micro-batch, preserving diff ordering semantics)."""
    return (
        spark.readStream.schema(DIFF_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _require_rindex(rindex_store, rel_table, rel_rindex_store) -> None:
    """The blast radius comes only from the reverse-index stores: raise
    before any Spark job when one the batch needs is missing."""
    if not rindex_store:
        raise ValueError(
            "the diff apply needs rindex_store, the node->ways reverse index; "
            "build it with rindex.build_rindex_store"
        )
    if rel_table is not None and not rel_rindex_store:
        raise ValueError(
            "a rel_table needs rel_rindex_store, the way->relations reverse "
            "index; build it with rindex.build_rindex_store"
        )


def apply_diff_batch(
    spark,
    batch_df: DataFrame,
    nodes_store: str,
    ways_store: str,
    rels_store: str,
    way_table: str | None,
    rel_table: str | None,
    group: str,
    dirty_table: str | None = None,
    dirty_zoom: int = 12,
    dirty_min_zoom: int = 9,
    rindex_store: str | None = None,
    rel_rindex_store: str | None = None,
    dirty_polygons: bool = False,
) -> dict:
    """Apply ONE diff batch everywhere; shared by the streaming sink and
    batch callers (stream==batch cannot drift). Idempotent per table via
    the committed-group ledger. Returns per-table stats.

    O(diff) posture (VERDICT r6 ask #1): every store read in this function
    is id-range-PRUNED to the batch's blast radius
    (entity_store.read_entities_for_ids — O(diff ids / 2^shift) files),
    and the blast radius itself derives from pruned lookups in the
    persistent reverse-index entity stores (operators/rindex.py,
    maintained in this same ledgered batch) — NOTHING in the per-batch
    plan scans a full table. `rindex_store` (node->ways) is required, and
    so is `rel_rindex_store` (way->relations) whenever `rel_table` is
    given; a missing one raises ValueError before any Spark job runs.
    Without a `rel_table`, a given `rel_rindex_store` is still maintained.
    `stats['files_read']` reports the per-step pruned file counts so tests
    can pin the O(diff) claim.

    Under bounded.DIFF_ID_COLLECT_CAP the batch is collected once and its
    sets stay on the driver: ids as sorted arrays, upserts and pruned
    store rows as Arrow (entity_store.read_ids_arrow), so the index
    lookups and upserts run no Spark job. Past the cap, or for a store
    read over the driver-read gate, the sets are DataFrames."""
    _require_rindex(rindex_store, rel_table, rel_rindex_store)
    # consolidate to one final state per (kind, id): replication intervals
    # are already consolidated upstream (one row per changed entity, OSC
    # semantics), but a merged/late batch may carry several versions —
    # keep the highest, delete winning version ties ('delete' < 'upsert')
    from pyspark.sql.window import Window

    w = Window.partitionBy("kind", "id").orderBy(
        F.desc_nulls_last("version"), F.asc("action")
    )
    b = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()
    )
    stats: dict = {}
    # ONE collect of the consolidated batch picks the form of every set
    # below; no derived set is collected again
    bt = bounded.bounded_arrow(b, bounded.DIFF_ID_COLLECT_CAP)

    def _part(kind: int, action: str, cols: list[str]):
        if bt is None:
            df = b.filter((F.col("kind") == kind) & (F.col("action") == action))
            return df.select(*cols)
        mask = pc.and_(pc.equal(bt.column("kind"), kind), pc.equal(bt.column("action"), action))
        t = bt.filter(mask).select(cols)
        return ES.id_array(t.column("id")) if cols == ["id"] else t

    def _frame(x) -> DataFrame:
        """A set as a DataFrame: a driver-side table or id array becomes
        a local relation."""
        if isinstance(x, DataFrame):
            return x
        if isinstance(x, pa.Table):
            return bounded.arrow_frame(spark, x)
        return ES.id_frame(spark, x)

    def _union_ids(*sets, hold: bool = False):
        """Distinct ids of several sets (id sets, or row sets whose first
        column is the id): a sorted array when every set is on the driver,
        else a DataFrame with column 'id' (checkpointed with `hold`)."""
        if not any(isinstance(x, DataFrame) for x in sets):
            return functools.reduce(
                np.union1d,
                [ES.id_array(x.column("id")) if isinstance(x, pa.Table) else x for x in sets],
            )
        frames = [f.select(F.col(f.columns[0]).alias("id")) for f in map(_frame, sets)]
        df = functools.reduce(DataFrame.unionAll, frames).distinct()
        return df.localCheckpoint() if hold else df

    def _hold(x):
        """`x` materialized once (a driver table already is)."""
        return x.localCheckpoint() if isinstance(x, DataFrame) else x

    def _refs_ids(*tables):
        """Distinct ids in the `refs` lists of driver-side tables."""
        return functools.reduce(
            np.union1d, [ES.id_array(pc.list_flatten(t.column("refs"))) for t in tables]
        )

    node_up = _part(KIND_NODE, "upsert", ["id", "version", "lat", "lon", "tags"])
    node_del = _part(KIND_NODE, "delete", ["id"])
    way_up = _part(KIND_WAY, "upsert", ["id", "version", "refs", "tags"])
    way_del = _part(KIND_WAY, "delete", ["id"])
    rel_up = _part(KIND_REL, "upsert", ["id", "version", "members", "tags"])
    rel_del = _part(KIND_REL, "delete", ["id"])
    # the DataFrame views of the upsert sets (one local relation each on
    # the driver path)
    node_up_df, way_up_df = (_frame(x) for x in (node_up, way_up))

    files_read: dict = {}
    stats["files_read"] = files_read
    node_ch = _union_ids(node_up, node_del, hold=True)
    way_ch = _union_ids(way_up, way_del, hold=True)

    # PRE-diff rows of the diff's own ways/relations, captured before any
    # store moves (pruned reads — diff-bounded): the reverse-index upserts
    # need the OLD refs, and the dirty log needs pre-diff geometry.
    def _pruned_rows(store: str, ids, tag: str):
        """`store`'s rows with an id in `ids`: Arrow under the driver-read
        gate (no job), else a DataFrame (pruned read + semi-join)."""
        if not isinstance(ids, DataFrame):
            tbl, files_read[tag] = ES.read_ids_arrow(store, ids)
            if tbl is not None:
                return tbl
        rows, files_read[tag] = ES.read_entities_for_ids(spark, store, ids)
        return rows.join(F.broadcast(_frame(ids)), "id", "semi")

    way_old = _hold(_pruned_rows(ways_store, way_ch, "way_old").select(["id", "refs"]))

    # ways whose geometry this batch can change: referencing a changed
    # node in the PRE state (pruned reverse-index lookup; an unchanged way
    # keeps its refs, so post-state hits add nothing new) ∪ the way diff
    # itself
    hit_pre, files_read["rindex_lookup"] = RI.rindex_lookup(spark, rindex_store, node_ch)
    aff_ids = _union_ids(hit_pre, way_ch, hold=True)

    # -- 0. tile-expiry log (MUST commit before the stores: the dirty set
    # needs the PRE-diff geometry, so a replay after a store commit could
    # not recompute it — commit-dirty-first makes every crash window
    # replay-safe under the per-table ledgers). The post-diff state is
    # derived in DataFrame-land from the pre stores + the batch, never
    # from a committed store.
    if dirty_table is not None:
        import tempfile

        from coords_spark.operators.render import dirty_tiles as _dirty_tiles

        dt = IcepickTable.create(dirty_table)  # idempotent
        if group in dt.committed_groups():
            stats["dirty_tiles"] = "replayed"
        else:
            ways0_aff = _hold(
                _pruned_rows(ways_store, aff_ids, "dirty_ways").select(["id", "refs"])
            )
            way_up_aff = way_up_df.join(F.broadcast(_frame(aff_ids)), "id", "semi")
            # node files that can hold any ref of the affected ways' OLD
            # or NEW geometry (the union bounds the resolve either side)
            if isinstance(ways0_aff, pa.Table) and isinstance(way_up, pa.Table):
                # every id of the way diff is in aff_ids: way_up_aff is way_up
                ref_ids = _refs_ids(ways0_aff, way_up)
            else:
                ref_ids = (
                    _frame(ways0_aff).select(F.explode("refs").alias("id"))
                    .unionAll(way_up_aff.select(F.explode("refs").alias("id")))
                    .distinct()
                )
            ways0_aff = _frame(ways0_aff)
            nodes0_aff, n = ES.read_entities_for_ids(spark, nodes_store, ref_ids)
            files_read["dirty_nodes"] = n
            nodes0_aff = nodes0_aff.select("id", "lat", "lon")
            post_n = nodes0_aff.join(_frame(node_ch), "id", "anti").unionByName(
                node_up_df.select("id", "lat", "lon")
            )
            post_w = ways0_aff.join(_frame(way_ch), "id", "anti").unionByName(
                way_up_aff.select("id", "refs")
            )
            old_geom = resolve.resolve_ways(ways0_aff, nodes0_aff)
            new_geom = resolve.resolve_ways(post_w, post_n)
            dirty = _dirty_tiles(
                old_geom.unionByName(new_geom), dirty_zoom, dirty_min_zoom
            )
            if dirty_polygons and rel_table is not None:
                # POLYGON expiry (r7, opt-in): a relation edit — or a
                # member way's geometry change — must dirty the FILLED
                # area's tiles (interior included), which the way-segment
                # rule above cannot see. Pre/post multipolygons of the
                # blast-radius relations reassemble from pruned pre-store
                # rows + the batch (diff-bounded, same pre-commit rule).
                from coords_spark.operators import multipolygon
                from coords_spark.operators.render import (
                    dirty_polygon_tiles as _dirty_polys,
                )

                rel_ch = _frame(_union_ids(rel_up, rel_del))
                rel_hit, files_read["dirty_rel_rindex"] = RI.rindex_lookup(
                    spark, rel_rindex_store, _union_ids(aff_ids, way_del)
                )
                aff_rel = _union_ids(rel_hit, rel_up, rel_del, hold=True)
                rels0_aff = _frame(
                    _hold(
                        _pruned_rows(rels_store, aff_rel, "dirty_rels").select(
                            ["id", "members"]
                        )
                    )
                )
                post_r = rels0_aff.join(rel_ch, "id", "anti").unionByName(
                    _frame(rel_up).join(F.broadcast(_frame(aff_rel)), "id", "semi").select(
                        "id", "members"
                    )
                )
                mem_ids = (
                    rels0_aff.unionByName(post_r)
                    .select(F.explode(_member_way_refs()).alias("id"))
                    .distinct()
                )
                mways0, n = ES.read_entities_for_ids(spark, ways_store, mem_ids)
                files_read["dirty_member_ways"] = n
                mways0 = _frame(
                    _hold(
                        mways0.join(F.broadcast(mem_ids), "id", "semi").select("id", "refs")
                    )
                )
                mref_ids = (
                    mways0.select(F.explode("refs").alias("id"))
                    .unionAll(
                        way_up_df.join(F.broadcast(mem_ids), "id", "semi").select(
                            F.explode("refs").alias("id")
                        )
                    )
                    .distinct()
                )
                mnodes0, n = ES.read_entities_for_ids(spark, nodes_store, mref_ids)
                files_read["dirty_member_nodes"] = n
                mnodes0 = mnodes0.select("id", "lat", "lon")
                mpost_n = mnodes0.join(_frame(node_ch), "id", "anti").unionByName(
                    node_up_df.select("id", "lat", "lon")
                )
                mpost_w = mways0.join(_frame(way_ch), "id", "anti").unionByName(
                    way_up_df.join(F.broadcast(mem_ids), "id", "semi").select(
                        "id", "refs"
                    )
                )
                old_polys = multipolygon.reconstruct_multipolygons(
                    resolve.resolve_relation_members(
                        rels0_aff, resolve.resolve_ways(mways0, mnodes0)
                    )
                )
                new_polys = multipolygon.reconstruct_multipolygons(
                    resolve.resolve_relation_members(
                        post_r, resolve.resolve_ways(mpost_w, mpost_n)
                    )
                )
                dirty = dirty.unionByName(
                    _dirty_polys(
                        old_polys.unionByName(new_polys),
                        dirty_zoom,
                        dirty_min_zoom,
                    )
                ).distinct()
            dirty = dirty.withColumn("batch_group", F.lit(group))
            stage = tempfile.mkdtemp(prefix="dirty_stage_")
            dirty.write.mode("overwrite").parquet(stage)
            entries = dt.commit_staged(stage, group=group, chunk_col="tile_x")
            stats["dirty_tiles"] = int(sum(e["rows"] for e in entries))

    # -- 1. entity stores (order irrelevant between kinds; each atomic,
    # each an arithmetic-chunk bounded rewrite) ---------------------------
    # the reverse-index stores step 1.5 maintains, each with its parents'
    # PRE-diff refs (read before the stores move), new refs and deletes;
    # without a rel_table the relation index is optional
    rindexes = [("rindex", rindex_store, way_old, way_up.select(["id", "refs"]), way_del)]
    if rel_rindex_store:
        rel_old = _hold(
            _way_refs(_pruned_rows(rels_store, _union_ids(rel_up, rel_del), "rel_old"))
        )
        rindexes.append(("rel_rindex", rel_rindex_store, rel_old, _way_refs(rel_up), rel_del))
    for path, up, dele, name in (
        (nodes_store, node_up, node_del, "nodes"),
        (ways_store, way_up, way_del, "ways"),
        (rels_store, rel_up, rel_del, "relations"),
    ):
        if group in IcepickTable(path).committed_groups():
            stats[name] = "replayed"
            continue
        stats[name] = ES.upsert_entities(spark, path, up, dele, group=group)

    # -- 1.5 reverse-index maintenance (same ledgered batch; a replay may
    # see post-diff rows as way_old → superset entries, safe by the rindex
    # module invariant) ----------------------------------------------------
    for name, store, old, new, dele in rindexes:
        # replay skip like every other per-table apply (ADVICE r7): a
        # replayed batch's re-upsert is content-idempotent but burns a
        # snapshot generation and rewrite work
        if group in IcepickTable(store).committed_groups():
            stats[name] = "replayed"
        else:
            stats[name] = RI.upsert_rindex(spark, store, old, new, dele, group=group)

    # -- 2/3. derived way-chunk table: blast radius re-resolve (pruned:
    # the store already holds the post-diff rows, so the "diff" for the
    # derived table is every affected way's CURRENT row) -------------------
    if way_table is not None:
        if group in IcepickTable(way_table).committed_groups():
            stats["way_chunks"] = "replayed"
        else:
            ways_diff = _pruned_rows(ways_store, aff_ids, "way_rows")
            if isinstance(ways_diff, DataFrame):
                node_ids = ways_diff.select(F.explode("refs").alias("id")).distinct()
            else:
                ways_diff, node_ids = _frame(ways_diff), _refs_ids(ways_diff)
            nodes_aff, n = ES.read_entities_for_ids(spark, nodes_store, node_ids)
            files_read["way_nodes"] = n
            stats["way_chunks"] = update.apply_way_diff(
                spark,
                way_table,
                nodes_aff,
                ways_diff,
                deleted_way_ids=_frame(way_del),
                group=group,
            )

    # -- 4. derived multipolygon table: relation blast radius --------------
    if rel_table is not None:
        rel_hit, files_read["rel_rindex_lookup"] = RI.rindex_lookup(
            spark, rel_rindex_store, _union_ids(aff_ids, way_del)
        )
        aff_rel_ids = _union_ids(rel_hit, rel_up, hold=True)
        if group in IcepickTable(rel_table).committed_groups():
            stats["rel_chunks"] = "replayed"
        else:
            rels_diff = _frame(_pruned_rows(rels_store, aff_rel_ids, "rel_rows"))
            # resolve ONLY the member ways of affected relations — the
            # radius-proportional subset, with post-diff node geometry
            member_ways = (
                rels_diff.select(F.explode("members").alias("m"))
                .filter(F.col("m.mtype") == 1)
                .select(F.col("m.ref").alias("id"))
                .distinct()
            )
            mways = _pruned_rows(ways_store, member_ways, "rel_member_ways")
            mnode_ids = mways.select(F.explode("refs").alias("id")).distinct()
            mnodes, n = ES.read_entities_for_ids(spark, nodes_store, mnode_ids)
            files_read["rel_member_nodes"] = n
            resolved = resolve.resolve_ways(mways, mnodes)
            stats["rel_chunks"] = update.apply_relation_diff(
                spark,
                rel_table,
                rels_diff,
                resolved,
                deleted_relation_ids=_frame(rel_del),
                group=group,
            )
    return stats


def _member_way_refs():
    """Column: a relation's way-member ids as a refs array (the parent-refs
    shape upsert_rindex expects)."""
    return F.expr("transform(filter(members, m -> m.mtype = 1), m -> m.ref)")


def _way_refs(rels):
    """(id, refs) of relation rows `rels`, refs = the way-member ids: a
    DataFrame through _member_way_refs, an Arrow table with the same rule
    in pyarrow (a null member list gives an empty refs list; both feed
    upsert_rindex only as (ref, parent) pairs, so they index alike)."""
    if isinstance(rels, DataFrame):
        return rels.select("id", _member_way_refs().alias("refs"))
    members = rels.column("members").combine_chunks()
    way = pc.fill_null(pc.equal(pc.struct_field(members.values, "mtype"), 1), False)
    ends = np.append(0, np.cumsum(way.to_numpy(zero_copy_only=False)))
    refs = pa.ListArray.from_arrays(
        pa.array(ends[members.offsets.to_numpy()], pa.int32()),
        pc.struct_field(members.values, "ref").filter(way),
    )
    return pa.table({"id": rels.column("id"), "refs": refs})


def maintain_tables(
    spark,
    paths: list[str | None],
    group: str,
    target_bytes: int = 128 << 20,
    keep_n: int = 2,
) -> dict:
    """One maintenance sweep over every existing table in `paths`:
    compact() small files (ledgered under `group` — a replay skips the
    rewrite), then expire_snapshots(keep_n) to reclaim the space the
    dropped generations pin. Expiry is idempotent and re-runs on replay
    (a crash between compact and expire must not leave snapshots
    unreclaimed forever). The committed-group ledger lives in the CURRENT
    manifest and carries through both operations, so the stream's
    exactly-once contract survives maintenance."""
    out: dict = {}
    for p in paths:
        if p is None:
            continue
        t = IcepickTable(p)
        if not t.exists():
            continue
        if group in t.committed_groups():
            st: object = "replayed"
        else:
            st = t.compact(spark, target_bytes=target_bytes, group=group)
            t.mark_group_committed(group)  # ledger the no-op sweeps too
        ex = t.expire_snapshots(keep_n=keep_n)
        out[p] = {
            "compact": st,
            "expired_versions": len(ex["expired_versions"]),
            "removed_files": len(ex["removed_files"]),
            "files_now": len(t.files()),
        }
    return out


def _maintained_paths(
    nodes_store, ways_store, rels_store, way_table, rel_table, dirty_table,
    rindex_store, rel_rindex_store,
) -> list[str | None]:
    """Every table the stream fragments, locator sidecars included (each
    derived-table apply lands TWO locator commits per batch — the fastest
    fragmenter in the loop)."""
    from coords_spark.operators.update import _locator_path

    paths = [
        nodes_store, ways_store, rels_store,
        rindex_store, rel_rindex_store,
        way_table, rel_table, dirty_table,
    ]
    for tbl in (way_table, rel_table):
        if tbl is not None:
            paths.append(_locator_path(tbl))
    return paths


def stream_apply_diffs(
    diffs_stream: DataFrame,
    nodes_store: str,
    ways_store: str,
    rels_store: str,
    way_table: str | None,
    rel_table: str | None,
    checkpoint_dir: str,
    dirty_table: str | None = None,
    dirty_zoom: int = 12,
    dirty_min_zoom: int = 9,
    rindex_store: str | None = None,
    rel_rindex_store: str | None = None,
    dirty_polygons: bool = False,
    maintenance_every: int | None = None,
    maintenance_keep: int = 2,
    maintenance_target_bytes: int = 128 << 20,
):
    """Start the continuous update query. Each micro-batch is one diff
    interval applied atomically-per-table with replay-safe skips. With
    `dirty_table`, each batch also appends its tile-expiry work list
    (render.dirty_tiles over the batch's blast radius) — the re-render
    feed for a downstream tile sink. Every batch plans O(diff) from the
    reverse-index stores (see apply_diff_batch): `rindex_store` is
    required, and so is `rel_rindex_store` with a `rel_table`; a missing
    one raises ValueError before the query starts.

    With `maintenance_every=N`, every Nth batch closes the lifecycle loop
    (VERDICT r6 ask #5): compact + expire_snapshots on every table the
    stream fragments — a day of minutely diffs no longer degrades reads
    (BENCH/BASELINE.md: fragmented 1.5 s -> compacted 0.18 s). Ledgered
    per sweep ('maint-{batch_id}'), so a replayed trigger batch skips the
    rewrite and only re-runs the idempotent expiry."""
    _require_rindex(rindex_store, rel_table, rel_rindex_store)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_diff_batch(
            batch_df.sparkSession,
            batch_df,
            nodes_store,
            ways_store,
            rels_store,
            way_table,
            rel_table,
            group=f"diff-{batch_id}",
            dirty_table=dirty_table,
            dirty_zoom=dirty_zoom,
            dirty_min_zoom=dirty_min_zoom,
            rindex_store=rindex_store,
            rel_rindex_store=rel_rindex_store,
            dirty_polygons=dirty_polygons,
        )
        if maintenance_every and (batch_id + 1) % maintenance_every == 0:
            maintain_tables(
                batch_df.sparkSession,
                _maintained_paths(
                    nodes_store, ways_store, rels_store, way_table, rel_table,
                    dirty_table, rindex_store, rel_rindex_store,
                ),
                group=f"maint-{batch_id}",
                target_bytes=maintenance_target_bytes,
                keep_n=maintenance_keep,
            )

    return (
        diffs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
