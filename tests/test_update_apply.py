"""Incremental update apply (SURVEY.md §2.3 J3 intent; VERDICT r4 ask #6):
a node diff must rewrite exactly the affected ways' chunk files — zero
rewrites elsewhere — in one atomic commit, with the result equal to a
from-scratch rebuild under the patched nodes and the old snapshot still
readable (time travel)."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from coords_spark.fixtures import gen_nodes, gen_ways
from coords_spark.operators import tiling, update
from coords_spark.sources.icepick import IcepickTable


def _rows_of(df):
    return sorted(
        tuple(r)
        for r in df.selectExpr("way_id", "chunk_id", "to_json(pts) as p").collect()
    )


def _sha(path):
    return hashlib.sha256(open(path, "rb").read()).hexdigest()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("upd")
    nodes = spark.createDataFrame(gen_nodes(2000)).localCheckpoint()
    ways = spark.createDataFrame(gen_ways(300, 2000)).localCheckpoint()
    from coords_spark.operators import geometry, resolve

    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (F.size("pts") * 8 + 64).cast("long"))
    # small max_bytes -> many chunks -> many files, so "untouched" is a
    # meaningful set
    split = tiling.compute_split_set(g, max_bytes=8 * 1024, base_level=tiling.DEFAULT_BASE_LEVEL)
    path = str(d / "waychunks")
    update.build_way_chunk_table(spark, nodes, ways, path, split)
    return nodes, ways, split, path


def test_apply_node_diff_targets_only_affected_files(spark, built):
    nodes, ways, split, path = built
    t = IcepickTable(path)
    v0 = t.current_manifest()["version"]
    before = {e["path"]: e["checksum"] for e in t.files()}
    disk_before = {e["path"]: _sha(os.path.join(path, e["path"])) for e in t.files()}

    # move ONE real node far away (to another hemisphere). Pick it from a
    # way currently in a DEEP chunk: stretching that way's envelope across
    # hemispheres forces its deepest-common-cell toward the root, so the
    # chunk assignment MUST change (a way already at the root chunk could
    # absorb any move without relocating).
    deep_way = (
        spark.read.parquet(*t.data_paths())
        .orderBy(F.desc("chunk_id"), "way_id")
        .limit(1)
        .collect()[0]
    )
    assert deep_way["chunk_id"] != 0
    some = (
        ways.filter(F.col("id") == deep_way["way_id"])
        .select(F.element_at("refs", 1).alias("id"))
        .collect()[0]["id"]
    )
    diff = spark.createDataFrame(
        [(int(some), int(-33.5e7), int(151.2e7))], "id long, lat int, lon int"
    )
    stats = update.apply_node_diff(spark, path, nodes, ways, diff, split)
    assert stats["affected_ways"] >= 1
    assert stats["files_replaced"] >= 1
    # zero rewrites elsewhere: untouched files keep their path AND bytes
    after = {e["path"]: e["checksum"] for e in t.files()}
    replaced = {e["path"] for e in t.files(v0)} - set(after)
    untouched = set(before) & set(after)
    assert len(replaced) == stats["files_replaced"]
    assert stats["files_untouched"] == len(before) - stats["files_replaced"]
    for p in untouched:
        assert after[p] == before[p]
        assert _sha(os.path.join(path, p)) == disk_before[p]

    # result equals a from-scratch rebuild under the patched nodes
    patched = update.patched_nodes(nodes, diff)
    want = update._way_rows(ways, patched, split, tiling.DEFAULT_BASE_LEVEL)
    got = spark.read.parquet(*t.data_paths())
    assert _rows_of(got) == _rows_of(want)
    # affected ways actually moved chunk (the planted move crosses chunks)
    aff = update.affected_way_ids(ways, diff)
    old = spark.read.parquet(*t.data_paths(version=v0)).join(aff, "way_id", "semi")
    new = got.join(aff, "way_id", "semi")
    old_chunks = {(r["way_id"], r["chunk_id"]) for r in old.select("way_id", "chunk_id").collect()}
    new_chunks = {(r["way_id"], r["chunk_id"]) for r in new.select("way_id", "chunk_id").collect()}
    assert old_chunks != new_chunks

    # time travel: the pre-diff snapshot still reads the original rows
    pre = spark.read.parquet(*t.data_paths(version=v0))
    want0 = update._way_rows(ways, nodes, split, tiling.DEFAULT_BASE_LEVEL)
    assert _rows_of(pre) == _rows_of(want0)
    assert t.verify_checksums()


def test_apply_empty_diff_is_noop(spark, built):
    nodes, ways, split, path = built
    t = IcepickTable(path)
    v = t.current_manifest()["version"]
    diff = spark.createDataFrame([], "id long, lat int, lon int")
    stats = update.apply_node_diff(spark, path, nodes, ways, diff, split)
    assert stats == {"affected_ways": 0, "files_replaced": 0, "files_added": 0}
    assert t.current_manifest()["version"] == v


def test_table_without_locator_raises(spark, built, tmp_path):
    """A chunk table with no _locator sidecar cannot locate a diff's
    chunks: the node diff raises, naming the sidecar, and commits
    nothing (no table-wide scan stands in for the lookup)."""
    import shutil

    nodes, ways, _split, path = built
    bare = str(tmp_path / "bare")
    shutil.copytree(path, bare)
    shutil.rmtree(update._locator_path(bare))
    v = IcepickTable(bare).current_manifest()["version"]
    nid = ways.select(F.explode("refs").alias("id")).limit(1).collect()[0]["id"]
    diff = spark.createDataFrame([(int(nid), 0, 0)], "id long, lat int, lon int")
    with pytest.raises(ValueError, match="_locator"):
        update.apply_node_diff(spark, bare, nodes, ways, diff)
    assert IcepickTable(bare).current_manifest()["version"] == v


def test_small_rewrite_column_drift_raises(tmp_path):
    """A replaced file whose columns differ from the new rows' cannot
    share one staged file with them: the driver-side rewrite raises
    ValueError naming both column lists and stages nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    same = str(tmp_path / "same.parquet")
    drift = str(tmp_path / "drift.parquet")
    pq.write_table(pa.table({"way_id": [1, 2], "chunk_id": [0, 0]}), same)
    pq.write_table(pa.table({"way_id": [3], "chunk_id": [1], "extra": ["x"]}), drift)
    new_tbl = pa.table({"way_id": [1], "chunk_id": [5]})
    stage = tmp_path / "stage"
    stage.mkdir()
    with pytest.raises(ValueError, match=r"\['chunk_id', 'extra', 'way_id'\].*\['chunk_id', 'way_id'\]"):
        update._stage_small_rewrite_arrow(str(stage), [same, drift], [1], new_tbl, "way_id")
    assert list(stage.iterdir()) == []


def test_affected_way_ids_via_reverse_index(spark, built, tmp_path):
    """The two blast-radius implementations that remain agree: the
    on-the-fly explode of apply_node_diff and the lookup in a persistent
    node->ways reverse-index store (the streaming apply's)."""
    from coords_spark.operators import rindex as RI

    nodes, ways, split, path = built
    store = str(tmp_path / "rindex_nw")
    RI.build_rindex_store(spark, ways.select("id", "refs"), store)
    nid = ways.select(F.explode("refs").alias("id")).limit(1).collect()[0]["id"]
    diff = spark.createDataFrame([(int(nid), 0, 0)], "id long, lat int, lon int")
    a = sorted(r["way_id"] for r in update.affected_way_ids(ways, diff).collect())
    hit, _ = RI.rindex_lookup(spark, store, diff.select("id"))
    b = sorted(r["way_id"] for r in hit.collect())
    assert a == b and len(a) >= 1


def test_split_sidecar_roundtrip_and_default(spark, built):
    """The build persists the split set; apply_node_diff with no split=
    must behave identically to passing it explicitly (no-op diff check)."""
    import numpy as np

    nodes, ways, split, path = built
    got_split, bl = update.load_split_set(path)
    assert (got_split == np.sort(np.asarray(split, dtype=np.int64))).all()
    assert bl == tiling.DEFAULT_BASE_LEVEL
    diff = spark.createDataFrame([], "id long, lat int, lon int")
    stats = update.apply_node_diff(spark, path, nodes, ways, diff)  # no split=
    assert stats["affected_ways"] == 0


def test_apply_way_diff_modify_add_delete(spark, tmp_path):
    """One way re-routed, one brand-new, one deleted — result equals a
    from-scratch rebuild of the post-diff way set, untouched files stay
    byte-identical."""
    from pyspark.sql import functions as FF

    from coords_spark.fixtures import gen_nodes, gen_ways
    from coords_spark.operators import geometry, resolve

    nodes = spark.createDataFrame(gen_nodes(2000)).localCheckpoint()
    ways = spark.createDataFrame(gen_ways(250, 2000)).localCheckpoint()
    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (FF.size("pts") * 8 + 64).cast("long"))
    split = tiling.compute_split_set(g, max_bytes=8 * 1024, base_level=tiling.DEFAULT_BASE_LEVEL)
    path = str(tmp_path / "wd")
    update.build_way_chunk_table(spark, nodes, ways, path, split)
    t = IcepickTable(path)
    before = {e["path"]: e["checksum"] for e in t.files()}

    ids = sorted(r["id"] for r in ways.select("id").collect())
    w_mod, w_del = ids[0], ids[1]
    w_new = max(ids) + 1000
    # re-route w_mod to its first 3 refs reversed; add w_new over real nodes
    refs_mod = ways.filter(FF.col("id") == w_mod).collect()[0]["refs"][:3][::-1]
    some_nodes = [r["id"] for r in nodes.select("id").limit(4).collect()]
    diff = spark.createDataFrame(
        [(int(w_mod), 2, refs_mod, {"k": "re-routed"}),
         (int(w_new), 1, some_nodes, {"k": "new"})],
        "id long, version int, refs array<long>, tags map<string,string>",
    )
    deleted = spark.createDataFrame([(int(w_del),)], "way_id long")
    stats = update.apply_way_diff(spark, path, nodes, diff, deleted_way_ids=deleted)
    assert stats["affected_ways"] == 3

    # expected end state: (ways minus mod/del) + diff rows, rebuilt fresh
    survivors = ways.filter(~FF.col("id").isin(int(w_mod), int(w_del)))
    want_ways = survivors.unionByName(diff)
    want = update._way_rows(want_ways, nodes, split, tiling.DEFAULT_BASE_LEVEL)
    got = spark.read.parquet(*t.data_paths())
    rows = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.selectExpr("way_id", "chunk_id", "to_json(pts) as p").collect()
    )
    assert rows(got) == rows(want)
    assert w_del not in {r["way_id"] for r in got.select("way_id").collect()}
    # untouched files byte-identical
    after = {e["path"]: e["checksum"] for e in t.files()}
    for p in set(before) & set(after):
        assert after[p] == before[p]
    assert t.verify_checksums()


def test_way_diff_forced_distributed_matches_default(spark, tmp_path, force_distributed):
    """The same way diff (re-route, add, delete) applied to two copies of
    one table: once on the default driver-side path, once with every
    bounded cap at 0 (distributed rewrite, distributed locator upsert
    planning, Spark-read locator lookup). Table and locator must match."""
    import shutil

    from coords_spark.operators import geometry, resolve

    nodes = spark.createDataFrame(gen_nodes(600)).localCheckpoint()
    ways = spark.createDataFrame(gen_ways(80, 600)).localCheckpoint()
    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (F.size("pts") * 8 + 64).cast("long"))
    split = tiling.compute_split_set(g, max_bytes=4 * 1024, base_level=tiling.DEFAULT_BASE_LEVEL)
    default, forced = str(tmp_path / "default"), str(tmp_path / "forced")
    update.build_way_chunk_table(spark, nodes, ways, default, split, locator_id_shift=3)
    shutil.copytree(default, forced)

    ids = sorted(r["id"] for r in ways.select("id").collect())
    refs_mod = ways.filter(F.col("id") == ids[0]).collect()[0]["refs"][:3][::-1]
    some_nodes = [r["id"] for r in nodes.select("id").limit(4).collect()]
    diff = spark.createDataFrame(
        [(int(ids[0]), 2, refs_mod, {"k": "re-routed"}),
         (int(max(ids) + 1000), 1, some_nodes, {"k": "new"})],
        "id long, version int, refs array<long>, tags map<string,string>",
    )
    deleted = spark.createDataFrame([(int(ids[1]),)], "way_id long")

    def apply(path):
        stats = update.apply_way_diff(spark, path, nodes, diff, deleted_way_ids=deleted)
        locator = spark.read.parquet(*IcepickTable(update._locator_path(path)).data_paths())
        return (
            {k: v for k, v in stats.items() if k not in ("entries", "files_added")},
            _rows_of(spark.read.parquet(*IcepickTable(path).data_paths())),
            sorted(tuple(r) for r in locator.select("way_id", "chunk_ids").collect()),
        )

    want = apply(default)
    force_distributed()
    got = apply(forced)
    assert got == want
    assert want[0]["affected_ways"] == 3
    assert IcepickTable(forced).verify_checksums()
