"""Relation-diff apply (VERDICT r5 ask #3): a relation membership/role diff
must rewrite exactly the affected relations' chunk files — untouched files
byte-identical — with the end state equal to a from-scratch rebuild under
the modified relation set and the old snapshot still readable."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from coords_spark.fixtures import gen_relations
from coords_spark.operators import geometry, multipolygon, resolve, tiling, update
from coords_spark.sources.icepick import IcepickTable


def _rows_of(df):
    return sorted(
        tuple(r)
        for r in df.selectExpr(
            "relation_id",
            "poly_idx",
            "chunk_id",
            "to_json(outer) as o",
            "to_json(inners) as i",
        ).collect()
    )


def _sha(path):
    return hashlib.sha256(open(path, "rb").read()).hexdigest()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("reldiff")
    relations_t, ring_ways_t = gen_relations(40)
    relations = spark.createDataFrame(relations_t).localCheckpoint()
    rw = (
        spark.createDataFrame(ring_ways_t)
        .select(F.col("id").alias("way_id"), "pts")
        .localCheckpoint()
    )
    polys = multipolygon.reconstruct_multipolygons(
        resolve.resolve_relation_members(relations, rw)
    )
    g = geometry.with_geometry_cell(
        geometry.with_envelope(polys, pts="outer")
    ).withColumn("nbytes", (F.size("outer") * 8 + 64).cast("long"))
    # small max_bytes -> many chunks -> many files, so "untouched" means something
    split = tiling.compute_split_set(
        g, max_bytes=4 * 1024, base_level=tiling.DEFAULT_BASE_LEVEL
    )
    path = str(d / "relchunks")
    update.build_relation_chunk_table(spark, relations, rw, path, split)
    return relations, relations_t, rw, split, path


def _as_row(rel: dict) -> dict:
    # Arrow maps come back from to_pylist() as key/value tuple lists;
    # createDataFrame's MapType wants a dict
    return {**rel, "tags": dict(rel["tags"])}


def _multipolygon_rows(relations_t):
    return [
        _as_row(r)
        for r in relations_t.to_pylist()
        if any(m["role"] == "outer" for m in r["members"])
    ]


def test_apply_relation_diff_targets_only_affected_files(spark, built):
    relations, relations_t, rw, split, path = built
    t = IcepickTable(path)
    v0 = t.current_manifest()["version"]
    before = {e["path"]: e["checksum"] for e in t.files()}
    disk_before = {e["path"]: _sha(os.path.join(path, e["path"])) for e in t.files()}
    assert len(before) > 2  # enough files for "untouched" to be meaningful

    # membership diff: relation A takes relation B's member rings (B sits in
    # another hotspot), so A's polygons genuinely relocate
    mps = _multipolygon_rows(relations_t)
    a, b = mps[0], mps[-1]
    mod = dict(a)
    mod["members"] = b["members"]
    diff = spark.createDataFrame([mod], schema=relations.schema)
    stats = update.apply_relation_diff(spark, path, diff, rw, split=split)
    assert stats["affected_relations"] == 1
    assert stats["files_replaced"] >= 1

    # zero rewrites elsewhere: untouched files keep their path AND bytes
    after = {e["path"]: e["checksum"] for e in t.files()}
    assert stats["files_untouched"] == len(before) - stats["files_replaced"]
    for p in set(before) & set(after):
        assert after[p] == before[p]
        assert _sha(os.path.join(path, p)) == disk_before[p]

    # end state equals a from-scratch rebuild under the modified relations
    mod_pl = [
        mod if r["id"] == a["id"] else _as_row(r) for r in relations_t.to_pylist()
    ]
    relations2 = spark.createDataFrame(mod_pl, schema=relations.schema)
    want = update._relation_rows(relations2, rw, split, tiling.DEFAULT_BASE_LEVEL)
    got = spark.read.parquet(*t.data_paths())
    assert _rows_of(got) == _rows_of(want)

    # A's polygons actually moved (took B's geometry)
    a_rows = got.filter(F.col("relation_id") == a["id"])
    b_rows = got.filter(F.col("relation_id") == b["id"])
    a_json = sorted(r["o"] for r in a_rows.selectExpr("to_json(outer) as o").collect())
    b_json = sorted(r["o"] for r in b_rows.selectExpr("to_json(outer) as o").collect())
    assert a_json == b_json and a_json

    # time travel: the pre-diff snapshot still reads the original rows
    pre = spark.read.parquet(*t.data_paths(version=v0))
    want0 = update._relation_rows(relations, rw, split, tiling.DEFAULT_BASE_LEVEL)
    assert _rows_of(pre) == _rows_of(want0)
    assert t.verify_checksums()


def test_apply_relation_delete(spark, built):
    relations, relations_t, rw, split, path = built
    t = IcepickTable(path)
    rid = _multipolygon_rows(relations_t)[1]["id"]
    got0 = spark.read.parquet(*t.data_paths())
    n_before = got0.count()
    n_rid = got0.filter(F.col("relation_id") == rid).count()
    assert n_rid >= 1
    empty_diff = spark.createDataFrame([], schema=relations.schema)
    deleted = spark.createDataFrame([(int(rid),)], "relation_id long")
    stats = update.apply_relation_diff(
        spark, path, empty_diff, rw, deleted_relation_ids=deleted, split=split
    )
    assert stats["affected_relations"] == 1
    got = spark.read.parquet(*t.data_paths())
    assert got.filter(F.col("relation_id") == rid).count() == 0
    assert got.count() == n_before - n_rid
    assert t.verify_checksums()


def test_affected_relation_ids(spark, built, tmp_path):
    """The relations a way diff touches, looked up in a way->relations
    reverse-index store built from the relations."""
    from coords_spark.operators import rindex as RI

    relations, relations_t, rw, split, path = built
    store = str(tmp_path / "rindex_wr")
    RI.build_rindex_store(
        spark,
        relations.select(
            "id", F.expr("transform(filter(members, m -> m.mtype = 1), m -> m.ref)").alias("refs")
        ),
        store,
        ref_col="way_id",
        ids_col="relation_ids",
    )
    mp = _multipolygon_rows(relations_t)[0]
    wid = next(m["ref"] for m in mp["members"] if m["mtype"] == 1)
    ids = spark.createDataFrame([(int(wid),)], "way_id long")
    hit, _ = RI.rindex_lookup(spark, store, ids)
    got = {r["relation_id"] for r in hit.collect()}
    assert mp["id"] in got
    # ring ways are dedicated to one relation in the fixture
    assert got == {mp["id"]}


def test_apply_relation_empty_diff_is_noop(spark, built):
    relations, relations_t, rw, split, path = built
    t = IcepickTable(path)
    v = t.current_manifest()["version"]
    empty = spark.createDataFrame([], schema=relations.schema)
    stats = update.apply_relation_diff(spark, path, empty, rw, split=split)
    assert stats == {"affected_relations": 0, "files_replaced": 0, "files_added": 0}
    assert t.current_manifest()["version"] == v
