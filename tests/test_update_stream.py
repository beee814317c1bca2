"""Continuous diff-apply (streaming/update_stream.py): minutely-diff
batches must compose — batch N+1 re-resolves against stores that already
contain batch N — and the final derived tables must equal a from-scratch
rebuild with the final entity state under the same chunking contract.
Exactly-once: replaying a batch (same group) is a per-table no-op."""

import os

import pytest
from pyspark.sql import functions as F

from coords_spark.fixtures import gen_update_diffs, gen_update_world
from coords_spark.operators import entity_store as ES
from coords_spark.operators import geometry, resolve, tiling, update
from coords_spark.operators import rindex as RI
from coords_spark.sources.icepick import IcepickTable
from coords_spark.streaming import update_stream as US


def _mkdf(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


NODES_SCHEMA = "id long, version int, lat int, lon int, tags map<string,string>"
WAYS_SCHEMA = "id long, version int, refs array<long>, tags map<string,string>"
RELS_SCHEMA = (
    "id long, version int, "
    "members array<struct<mtype: tinyint, ref: long, role: string>>, "
    "tags map<string,string>"
)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("updstream")
    nodes_rows, ways_rows, rels_rows = gen_update_world(10)
    nodes = _mkdf(spark, nodes_rows, NODES_SCHEMA).localCheckpoint()
    ways = _mkdf(spark, ways_rows, WAYS_SCHEMA).localCheckpoint()
    rels = _mkdf(spark, rels_rows, RELS_SCHEMA).localCheckpoint()

    stores = {k: str(d / f"store_{k}") for k in ("nodes", "ways", "rels")}
    # small id_shift -> several id-range chunks, so bounded rewrite is real
    ES.build_entity_store(nodes, stores["nodes"], id_shift=6)
    ES.build_entity_store(ways, stores["ways"], id_shift=4)
    ES.build_entity_store(rels, stores["rels"], id_shift=2)

    # derived way-chunk table
    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (F.size("pts") * 8 + 64).cast("long"))
    split = tiling.compute_split_set(
        g, max_bytes=4 * 1024, base_level=tiling.DEFAULT_BASE_LEVEL
    )
    way_table = str(d / "waychunks")
    update.build_way_chunk_table(spark, nodes, ways, way_table, split)

    # derived multipolygon table — resolved ways from the SAME chain the
    # stream re-resolves with, so appended rewrites share the schema
    rel_table = str(d / "relchunks")
    update.build_relation_chunk_table(
        spark, rels, resolve.resolve_ways(ways, nodes), rel_table, split
    )

    # the reverse-index stores the diff apply derives its blast radius from
    rindex = {"rindex_store": str(d / "rindex_nw"), "rel_rindex_store": str(d / "rindex_wr")}
    RI.build_rindex_store(spark, ways.select("id", "refs"), rindex["rindex_store"], id_shift=6)
    RI.build_rindex_store(
        spark,
        rels.select(
            "id", F.expr("transform(filter(members, m -> m.mtype = 1), m -> m.ref)").alias("refs")
        ),
        rindex["rel_rindex_store"],
        ref_col="way_id",
        ids_col="relation_ids",
        id_shift=3,
    )
    return d, stores, way_table, rel_table, nodes, ways, rels, rindex


def _diff_rows(spark, rows):
    return spark.createDataFrame(rows, US.DIFF_SCHEMA)


def _final_entities(spark, world):
    """Expected final entity state after both diff batches (see _batches)."""
    _, _, _, _, nodes, ways, rels, _ = world
    b1, b2 = _batches(spark, world)
    out = {}
    for base, kind, schema, cols in (
        (nodes, US.KIND_NODE, NODES_SCHEMA, ["id", "version", "lat", "lon", "tags"]),
        (ways, US.KIND_WAY, WAYS_SCHEMA, ["id", "version", "refs", "tags"]),
        (rels, US.KIND_REL, RELS_SCHEMA, ["id", "version", "members", "tags"]),
    ):
        cur = base
        for b in (b1, b2):
            up = b.filter((F.col("kind") == kind) & (F.col("action") == "upsert")).select(*cols)
            dele = b.filter((F.col("kind") == kind) & (F.col("action") == "delete")).select("id")
            cur = (
                cur.join(
                    up.select("id").unionAll(dele).distinct(), "id", "left_anti"
                ).unionAll(spark.createDataFrame(up.collect(), schema))
            )
        out[kind] = cur.localCheckpoint()
    return out


def _batches(spark, world):
    """The shared composed-diff fixture (gen_update_diffs) as DataFrames —
    batch 2 depends on batch-1 state (same node moved again), plus a member
    way delete and a relation delete."""
    b1, b2 = gen_update_diffs(*gen_update_world(10))
    return _diff_rows(spark, b1), _diff_rows(spark, b2)


def _table_rows(spark, path, cols):
    t = IcepickTable(path)
    paths = t.data_paths()
    if not paths:
        return []
    return sorted(
        tuple(r) for r in spark.read.parquet(*paths).selectExpr(*cols).collect()
    )


WAY_COLS = ["way_id", "chunk_id", "to_json(pts) as p"]
REL_COLS = ["relation_id", "poly_idx", "chunk_id", "to_json(outer) as o", "to_json(inners) as i"]


def test_stream_applies_and_composes(spark, world, tmp_path):
    d, stores, way_table, rel_table, nodes, ways, rels, rindex = world
    b1, b2 = _batches(spark, world)
    diff_dir = str(tmp_path / "diffs")
    os.makedirs(diff_dir)
    # one parquet FILE per replication interval, ordered by mtime (the
    # file source's pickup order with maxFilesPerTrigger=1)
    import glob
    import shutil

    for i, b in enumerate((b1, b2)):
        stage = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(diff_dir, f"batch-{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    dirty_table = str(tmp_path / "dirtytiles")
    q = US.stream_apply_diffs(
        US.stream_diffs_from_dir(spark, diff_dir),
        stores["nodes"], stores["ways"], stores["rels"],
        way_table, rel_table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dirty_table=dirty_table,
        **rindex,
    )
    q.processAllAvailable()
    q.stop()

    fin = _final_entities(spark, world)
    # stores hold exactly the final entity state
    for kind, store, key_cols in (
        (US.KIND_NODE, stores["nodes"], ["id", "version", "lat", "lon"]),
        (US.KIND_WAY, stores["ways"], ["id", "version", "to_json(refs) as r"]),
        (US.KIND_REL, stores["rels"], ["id", "version", "to_json(members) as m"]),
    ):
        got = sorted(tuple(r) for r in ES.read_entity_store(spark, store).selectExpr(*key_cols).collect())
        want = sorted(tuple(r) for r in fin[kind].selectExpr(*key_cols).collect())
        assert got == want, f"store {store} diverged"

    # derived tables equal a from-scratch rebuild with final entities under
    # the SAME chunking contract (split sidecar)
    split, bl = update.load_split_set(way_table)
    scratch_way = str(tmp_path / "scratch_way")
    update.build_way_chunk_table(
        spark, fin[US.KIND_NODE], fin[US.KIND_WAY], scratch_way, split, base_level=bl
    )
    assert _table_rows(spark, way_table, WAY_COLS) == _table_rows(spark, scratch_way, WAY_COLS)

    split_r, bl_r = update.load_split_set(rel_table)
    scratch_rel = str(tmp_path / "scratch_rel")
    update.build_relation_chunk_table(
        spark,
        fin[US.KIND_REL],
        resolve.resolve_ways(fin[US.KIND_WAY], fin[US.KIND_NODE]),
        scratch_rel,
        split_r,
        base_level=bl_r,
    )
    assert _table_rows(spark, rel_table, REL_COLS) == _table_rows(spark, scratch_rel, REL_COLS)

    # the per-batch tile-expiry log matches the dirty_tiles_stats driver
    # query — an independent engine path that derives the post-diff state
    # in DataFrame-land from the raw fixtures (no stores) and is itself
    # golden-pinned to a scalar twin
    from coords_spark.driver_surface import QUERIES

    want_dirty: dict = {}
    for r in QUERIES["dirty_tiles_stats"](spark, None).collect():
        want_dirty.setdefault(f"diff-{int(r['batch']) - 1}", set()).add(
            (r["zoom"], r["tile_x"], r["tile_y"])
        )
    got_dirty: dict = {}
    for r in spark.read.parquet(*IcepickTable(dirty_table).data_paths()).collect():
        got_dirty.setdefault(r["batch_group"], set()).add(
            (r["zoom"], r["tile_x"], r["tile_y"])
        )
    assert got_dirty == want_dirty and all(v for v in got_dirty.values())

    # exactly-once: a fresh stream over the same checkpoint re-lists both
    # batches as already processed — zero new table versions anywhere
    versions = {
        p: IcepickTable(p).current_manifest()["version"]
        for p in (*stores.values(), way_table, rel_table, dirty_table, *rindex.values())
    }
    q2 = US.stream_apply_diffs(
        US.stream_diffs_from_dir(spark, diff_dir + "/*"),
        stores["nodes"], stores["ways"], stores["rels"],
        way_table, rel_table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dirty_table=dirty_table,
        **rindex,
    )
    q2.processAllAvailable()
    q2.stop()
    for p, v in versions.items():
        assert IcepickTable(p).current_manifest()["version"] == v

    # direct replay of a single batch (same group) is a per-table no-op
    stats = US.apply_diff_batch(
        spark, b1, stores["nodes"], stores["ways"], stores["rels"],
        way_table, rel_table, group="diff-0", dirty_table=dirty_table, **rindex,
    )
    assert stats["nodes"] == "replayed" and stats["way_chunks"] == "replayed"
    assert stats["dirty_tiles"] == "replayed"
    for p, v in versions.items():
        assert IcepickTable(p).current_manifest()["version"] == v
