"""O(diff) continuous updates (VERDICT r6 ask #1): with the persistent
reverse-index stores (operators/rindex.py) and per-table locator sidecars
(operators/update.py), a diff batch's PLAN reads a number of store files
bounded by the diff's blast radius — growing the world must not grow the
per-batch file reads — while its blast radius, dirty log, stores and
derived tables match an in-test full-scan twin and a from-scratch build.
The diff apply refuses to run without its reverse-index stores. Locator
staleness (crash-window supersets) must only widen reads, never lose
rows, and must self-heal on the next touch."""

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark.fixtures import gen_update_diffs, gen_update_world
from coords_spark.operators import entity_store as ES
from coords_spark.operators import geometry, resolve, tiling, update
from coords_spark.operators import rindex as RI
from coords_spark.sources.icepick import IcepickTable
from coords_spark.streaming import update_stream as US

NODES_SCHEMA = "id long, version int, lat int, lon int, tags map<string,string>"
WAYS_SCHEMA = "id long, version int, refs array<long>, tags map<string,string>"
RELS_SCHEMA = (
    "id long, version int, "
    "members array<struct<mtype: tinyint, ref: long, role: string>>, "
    "tags map<string,string>"
)
_MEMBER_REFS = "transform(filter(members, m -> m.mtype = 1), m -> m.ref)"


def _build_world(spark, d, n_rel):
    """Stores, derived tables and the two reverse-index stores for an
    n_rel world. Small id shifts -> many id-range files, so pruning
    evidence is real."""
    nodes_rows, ways_rows, rels_rows = gen_update_world(n_rel)
    nodes = spark.createDataFrame(nodes_rows, NODES_SCHEMA).localCheckpoint()
    ways = spark.createDataFrame(ways_rows, WAYS_SCHEMA).localCheckpoint()
    rels = spark.createDataFrame(rels_rows, RELS_SCHEMA).localCheckpoint()
    stores = {k: str(d / f"store_{k}") for k in ("nodes", "ways", "rels")}
    ES.build_entity_store(nodes, stores["nodes"], id_shift=6)
    ES.build_entity_store(ways, stores["ways"], id_shift=3)
    ES.build_entity_store(rels, stores["rels"], id_shift=2)

    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (F.size("pts") * 8 + 64).cast("long"))
    split = tiling.compute_split_set(
        g, max_bytes=4 * 1024, base_level=tiling.DEFAULT_BASE_LEVEL
    )
    way_table = str(d / "waychunks")
    update.build_way_chunk_table(
        spark, nodes, ways, way_table, split, locator_id_shift=3
    )
    rel_table = str(d / "relchunks")
    update.build_relation_chunk_table(
        spark, rels, resolve.resolve_ways(ways, nodes), rel_table, split,
        locator_id_shift=2,
    )
    kw = {"rindex_store": str(d / "rindex_nw"), "rel_rindex_store": str(d / "rindex_wr")}
    RI.build_rindex_store(
        spark, ways.select("id", "refs"), kw["rindex_store"], id_shift=6
    )
    RI.build_rindex_store(
        spark,
        rels.select("id", F.expr(_MEMBER_REFS).alias("refs")),
        kw["rel_rindex_store"],
        ref_col="way_id",
        ids_col="relation_ids",
        id_shift=3,
    )
    return stores, way_table, rel_table, kw


def _batches(spark):
    b1, b2 = gen_update_diffs(*gen_update_world(10))
    return (
        spark.createDataFrame(b1, US.DIFF_SCHEMA),
        spark.createDataFrame(b2, US.DIFF_SCHEMA),
    )


def _rows(spark, path, cols):
    paths = IcepickTable(path).data_paths()
    if not paths:
        return []
    return sorted(tuple(r) for r in spark.read.parquet(*paths).selectExpr(*cols).collect())


WAY_COLS = ["way_id", "chunk_id", "to_json(pts) as p"]
REL_COLS = [
    "relation_id", "poly_idx", "chunk_id", "to_json(outer) as o", "to_json(inners) as i"
]
STORE_COLS = (
    ("nodes", ["id", "version", "lat", "lon"]),
    ("ways", ["id", "version", "to_json(refs) as r"]),
    ("rels", ["id", "version", "to_json(members) as m"]),
)
DIRTY_COLS = ["zoom", "tile_x", "tile_y", "batch_group"]


def _apply_all(spark, tmp, stores, way_table, rel_table, kw):
    dirty = str(tmp / "dirty")
    return [
        US.apply_diff_batch(
            spark, b, stores["nodes"], stores["ways"], stores["rels"],
            way_table, rel_table, group=f"diff-{i}", dirty_table=dirty, **kw,
        )
        for i, b in enumerate(_batches(spark))
    ]


def _apply_batch(state, batch):
    """The in-test entity state ({kind: {id: row}}, rows in the
    NODES/WAYS/RELS_SCHEMA order) after one diff batch; every batch of
    gen_update_diffs holds one row per (kind, id)."""
    out = {k: dict(v) for k, v in state.items()}
    for kind, action, eid, version, lat, lon, refs, members, tags in batch:
        if action == "delete":
            out[kind].pop(eid, None)
        else:
            out[kind][eid] = (
                (eid, version, lat, lon, tags),
                (eid, version, refs, tags),
                (eid, version, members, tags),
            )[kind]
    return out


def _twin_radius(state, batch):
    """The blast radius by full scan of the PRE-batch tables — the
    table-proportional definition the reverse-index lookups must
    reproduce: ways referencing a changed node ∪ the way diff, then the
    relations with a way member in that set ∪ the relation diff."""
    changed = {k: {r[2] for r in batch if r[0] == k} for k in (0, 1, 2)}
    ways = {
        wid for wid, (_, _, refs, _) in state[1].items() if changed[0] & set(refs)
    } | changed[1]
    rels = {
        rid
        for rid, (_, _, members, _) in state[2].items()
        if any(m[0] == 1 and m[1] in ways for m in members)
    } | changed[2]
    return ways, rels


def test_rindex_path_results_identical(spark, tmp_path):
    """Two composed batches through the indexed apply, each checked
    against a full-scan twin computed from the pre-batch tables: the
    affected way and relation counts, and the dirty log (render.dirty_tiles
    over the twin's old and new geometry). The stores and derived tables
    end at a from-scratch build of the final entity state, and the index
    stores exactly at the from-scratch reverse index of that state (no
    staleness in the clean path)."""
    from coords_spark.operators import render

    st, wt, rt, kw = _build_world(spark, tmp_path, 10)
    dirty = str(tmp_path / "dirty")
    schemas = {0: NODES_SCHEMA, 1: WAYS_SCHEMA, 2: RELS_SCHEMA}

    def frame(state, kind, ids=None):
        rows = [r for i, r in state[kind].items() if ids is None or i in ids]
        return spark.createDataFrame(rows, schemas[kind])

    state = {k: {r[0]: r for r in rows} for k, rows in enumerate(gen_update_world(10))}
    stats = []
    for i, batch in enumerate(gen_update_diffs(*gen_update_world(10))):
        aff_ways, aff_rels = _twin_radius(state, batch)
        post = _apply_batch(state, batch)
        s = US.apply_diff_batch(
            spark, spark.createDataFrame(batch, US.DIFF_SCHEMA),
            st["nodes"], st["ways"], st["rels"], wt, rt,
            group=f"diff-{i}", dirty_table=dirty, **kw,
        )
        stats.append(s)
        assert s["way_chunks"]["affected_ways"] == len(aff_ways), i
        assert s["rel_chunks"]["affected_relations"] == len(aff_rels), i
        geom = resolve.resolve_ways(
            frame(state, 1, aff_ways), frame(state, 0)
        ).unionByName(resolve.resolve_ways(frame(post, 1, aff_ways), frame(post, 0)))
        want = sorted(
            (*r, f"diff-{i}")
            for r in render.dirty_tiles(geom, 12, 9).select("zoom", "tile_x", "tile_y").collect()
        )
        got = [r for r in _rows(spark, dirty, DIRTY_COLS) if r[3] == f"diff-{i}"]
        assert got == want and want, i
        state = post

    # the lookups actually ran through the index (stats carry file counts)
    assert "rindex_lookup" in stats[0]["files_read"]
    assert stats[0]["way_chunks"]["locator_files_read"] is not None

    # stores and derived tables == a from-scratch build of the final state
    fin = {k: frame(state, k) for k in (0, 1, 2)}
    for k, (name, cols) in enumerate(STORE_COLS):
        want = sorted(tuple(r) for r in fin[k].selectExpr(*cols).collect())
        assert _rows(spark, st[name], cols) == want, name
    split, bl = update.load_split_set(wt)
    scratch_way = str(tmp_path / "scratch_way")
    update.build_way_chunk_table(spark, fin[0], fin[1], scratch_way, split, base_level=bl)
    assert _rows(spark, wt, WAY_COLS) == _rows(spark, scratch_way, WAY_COLS)
    split_r, bl_r = update.load_split_set(rt)
    scratch_rel = str(tmp_path / "scratch_rel")
    update.build_relation_chunk_table(
        spark, fin[2], resolve.resolve_ways(fin[1], fin[0]), scratch_rel, split_r,
        base_level=bl_r,
    )
    assert _rows(spark, rt, REL_COLS) == _rows(spark, scratch_rel, REL_COLS)

    # index stores == from-scratch reverse index of the FINAL state
    fin_ways = ES.read_entity_store(spark, st["ways"])
    want_nw = sorted(
        (r["node_id"], tuple(r["way_ids"]))
        for r in resolve.reverse_index(fin_ways.select(F.col("id"), "refs")).collect()
    )
    got_nw = sorted(
        (r["node_id"], tuple(r["way_ids"]))
        for r in ES.read_entity_store(spark, kw["rindex_store"]).collect()
    )
    assert got_nw == want_nw
    fin_rels = ES.read_entity_store(spark, st["rels"])
    want_wr = sorted(
        (r["way_id"], tuple(r["relation_ids"]))
        for r in RI._index_rows(
            fin_rels.select("id", F.expr(_MEMBER_REFS).alias("refs")),
            "way_id", "relation_ids",
        ).collect()
    )
    got_wr = sorted(
        (r["way_id"], tuple(r["relation_ids"]))
        for r in ES.read_entity_store(spark, kw["rel_rindex_store"]).collect()
    )
    assert got_wr == want_wr


# pre-diff parents (id, refs) of a small node->ways index, and the diff:
# way 10 becomes a closed way repeating its first node, way 11 is deleted
# (ref 4 loses its only parent), way 12 keeps no refs (ref 5 empties too),
# way 14 is brand new with a brand-new ref 8; ways 13 and 15 are untouched
_PRE_PARENTS = {10: [1, 2], 11: [3, 4], 12: [5, 6], 13: [6, 7], 15: [20, 21]}
_NEW_PARENTS = {10: [1, 2, 3, 1], 12: [], 14: [7, 8]}
_DELETED_PARENTS = [11]
_LOOKUP_REFS = [1, 3, 4, 6, 7, 8, 99]


def _parent_refs(parents: dict):
    import pyarrow as pa

    ids = sorted(parents)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "refs": pa.array([parents[i] for i in ids], pa.list_(pa.int64())),
        }
    )


def _parents_of(x) -> list:
    """rindex_lookup's parents (a driver array or a DataFrame), sorted."""
    if isinstance(x, DataFrame):
        return sorted(r[0] for r in x.collect())
    return sorted(int(i) for i in x)


@pytest.mark.parametrize("path", ["driver", "over_bytes_gate", "distributed"])
def test_upsert_rindex_paths_match(spark, tmp_path, monkeypatch, path):
    """One index diff on each plan of upsert_rindex: driver inputs (Arrow
    refs, an id array) with the pruned store files under the driver-read
    gate, the same inputs over its byte cap, and DataFrame inputs. Each
    ends at the reverse index of the post-diff parents, computed here in
    Python, so the three store copies are equal; the driver plan runs no
    Spark job. rindex_lookup then gives the same parents for an id array
    as for a DataFrame, with no job on the driver plan."""
    import numpy as np

    from coords_spark import bounded
    from test_bounded import _with_jobs

    store = str(tmp_path / "rindex")
    RI.build_rindex_store(
        spark, spark.createDataFrame(_parent_refs(_PRE_PARENTS)), store, id_shift=1
    )
    old = _parent_refs({i: _PRE_PARENTS[i] for i in (10, 11, 12)})
    new = _parent_refs(_NEW_PARENTS)
    deleted = np.array(_DELETED_PARENTS, np.int64)
    if path == "distributed":
        old, new = spark.createDataFrame(old), spark.createDataFrame(new)
        deleted = spark.createDataFrame([(i,) for i in _DELETED_PARENTS], "id long")
    elif path == "over_bytes_gate":
        monkeypatch.setattr(bounded, "SMALL_REWRITE_BYTES", 0)
    stats, jobs = _with_jobs(
        spark, lambda: RI.upsert_rindex(spark, store, old, new, deleted, group="d0")
    )
    if path == "driver":
        assert jobs == 0, jobs

    post = {
        k: v for k, v in _PRE_PARENTS.items()
        if k not in _NEW_PARENTS and k not in _DELETED_PARENTS
    } | _NEW_PARENTS
    want = {}
    for pid, refs in post.items():
        for ref in refs:
            want.setdefault(ref, set()).add(pid)
    got = {
        r["node_id"]: list(r["way_ids"])
        for r in ES.read_entity_store(spark, store).collect()
    }
    assert got == {ref: sorted(pids) for ref, pids in want.items()}
    assert stats["rindex_files_read"] >= 1

    ids = np.array(_LOOKUP_REFS, np.int64)
    (by_array, _), jobs = _with_jobs(spark, lambda: RI.rindex_lookup(spark, store, ids))
    by_frame, _ = RI.rindex_lookup(
        spark, store, spark.createDataFrame([(i,) for i in _LOOKUP_REFS], "node_id long")
    )
    want_parents = sorted({p for ref in _LOOKUP_REFS for p in want.get(ref, ())})
    assert _parents_of(by_array) == _parents_of(by_frame) == want_parents
    if path == "driver":
        assert isinstance(by_array, np.ndarray) and jobs == 0


def test_upsert_entities_frame_input_stays_distributed(spark, tmp_path, monkeypatch):
    """upsert_entities given DataFrames runs the distributed plan without
    collecting them (bounded.bounded_arrow is never called) and writes the
    same rows as the same diff given as an Arrow table and an id array."""
    import numpy as np

    from coords_spark import bounded

    rows = [(i, 1, i * 10, -i, {}) for i in range(1, 40)]
    ups = [(5, 2, 7, 7, {"k": "v"}), (100, 1, 1, 1, {})]
    dele = [6, 30]
    paths = {}
    for form in ("arrow", "frame"):
        paths[form] = str(tmp_path / form)
        ES.build_entity_store(
            spark.createDataFrame(rows, NODES_SCHEMA), paths[form], id_shift=3
        )
    ups_df = spark.createDataFrame(ups, NODES_SCHEMA)
    ES.upsert_entities(
        spark, paths["arrow"], ups_df.toArrow(), np.array(dele, np.int64), group="d0"
    )

    def no_collect(*_a, **_k):
        raise AssertionError("upsert_entities collected a DataFrame input")

    monkeypatch.setattr(bounded, "bounded_arrow", no_collect)
    ES.upsert_entities(
        spark, paths["frame"], ups_df,
        spark.createDataFrame([(i,) for i in dele], "id long"), group="d0",
    )
    cols = STORE_COLS[0][1] + ["to_json(tags) as t"]
    got = {form: _rows(spark, p, cols) for form, p in paths.items()}
    assert got["frame"] == got["arrow"]
    ids = [r[0] for r in got["arrow"]]
    assert 100 in ids and 6 not in ids and 30 not in ids and len(ids) == 38


@pytest.fixture(scope="module")
def raise_world(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("raise")
    return d, *_build_world(spark, d, 4)


@pytest.mark.parametrize("missing", ["rindex_store", "rel_rindex_store"])
def test_diff_apply_without_rindex_store_raises(spark, raise_world, missing):
    """The blast radius has one path, the reverse-index lookups: without
    the node->ways store, or with a relation table but no way->relations
    store, both the batch apply and the stream raise ValueError naming
    rindex.build_rindex_store — before any Spark job, with nothing
    committed."""
    from test_bounded import _with_jobs

    d, stores, way_table, rel_table, all_kw = raise_world
    kw = {k: v for k, v in all_kw.items() if k != missing}
    tables = [*stores.values(), way_table, rel_table, *all_kw.values()]
    tables += [update._locator_path(way_table), update._locator_path(rel_table)]
    versions = {p: IcepickTable(p).current_manifest()["version"] for p in tables}
    b1, _ = _batches(spark)
    dirty, diff_dir = str(d / "dirty"), d / "diffs"
    diff_dir.mkdir(exist_ok=True)

    def raised(start):
        with pytest.raises(ValueError, match=r"rindex\.build_rindex_store") as err:
            start()
        return str(err.value)

    for start in (
        lambda: US.apply_diff_batch(
            spark, b1, stores["nodes"], stores["ways"], stores["rels"],
            way_table, rel_table, group="diff-0", dirty_table=dirty, **kw,
        ),
        lambda: US.stream_apply_diffs(
            US.stream_diffs_from_dir(spark, str(diff_dir)),
            stores["nodes"], stores["ways"], stores["rels"], way_table, rel_table,
            checkpoint_dir=str(d / "ckpt"), dirty_table=dirty, **kw,
        ),
    ):
        msg, jobs = _with_jobs(spark, lambda: raised(start))
        assert f"needs {missing}" in msg and jobs == 0
    assert {p: IcepickTable(p).current_manifest()["version"] for p in tables} == versions
    assert not os.path.exists(dirty)


# Spark jobs one default apply_diff_batch of the n_rel=10 world runs
# (diff, dirty log, three stores, both reverse-index stores, way and
# relation tables): the batch is collected once, store rows and index
# lookups/upserts run no job, so a change that re-collects or
# re-checkpoints a set shows up here
BATCH_JOB_CEILING = 36


def test_diff_batch_forced_distributed_matches_default(
    spark, tmp_path, force_distributed
):
    """One diff batch applied to two copies of the smallest world: once on
    the default driver-side paths, once with every bounded cap at 0
    (distributed batch sets, upsert planning, range-write rewrites,
    Spark-read locator lookups). The three stores, the way and relation
    tables, both locators, the dirty log and both reverse-index stores
    end equal. The default run stays under its pinned Spark job count."""
    import shutil

    from test_bounded import _with_jobs

    default, forced = tmp_path / "default", tmp_path / "forced"
    default.mkdir()
    stores, way_table, rel_table, kw = _build_world(spark, default, 10)
    shutil.copytree(default, forced)
    b1, _ = _batches(spark)

    def apply(d):
        st = {k: str(d / os.path.basename(p)) for k, p in stores.items()}
        wt, rt = str(d / os.path.basename(way_table)), str(d / os.path.basename(rel_table))
        kw_d = {k: str(d / os.path.basename(p)) for k, p in kw.items()}
        dirty = str(d / "dirty")
        _, jobs = _with_jobs(
            spark,
            lambda: US.apply_diff_batch(
                spark, b1, st["nodes"], st["ways"], st["rels"], wt, rt,
                group="diff-0", dirty_table=dirty, **kw_d,
            ),
        )
        out = {k: _rows(spark, st[k], cols) for k, cols in STORE_COLS}
        out["way_table"] = _rows(spark, wt, WAY_COLS)
        out["rel_table"] = _rows(spark, rt, REL_COLS)
        for name, tbl, key in (("way_locator", wt, "way_id"), ("rel_locator", rt, "relation_id")):
            out[name] = _rows(spark, update._locator_path(tbl), [key, "to_json(chunk_ids) as c"])
        out["dirty"] = _rows(spark, dirty, DIRTY_COLS)
        for name, path in kw_d.items():
            out[name] = _rows(spark, path, ["*"])
        return out, jobs

    want, jobs = apply(default)
    assert jobs <= BATCH_JOB_CEILING, jobs
    force_distributed()
    got, _ = apply(forced)
    assert got == want
    assert want["way_table"] and want["way_locator"] and want["dirty"]
    assert want["rindex_store"] and want["rel_rindex_store"]


def test_per_batch_reads_do_not_grow_with_world(spark, tmp_path):
    """THE O(diff) pin: the same diff applied to a 4x bigger world must
    plan the same pruned file reads per step (the world grew, the diff
    did not), while the stores themselves hold strictly more files."""
    d_s = tmp_path / "small"
    d_l = tmp_path / "large"
    d_s.mkdir(), d_l.mkdir()
    st_s, wt_s, rt_s, kw_s = _build_world(spark, d_s, 10)
    st_l, wt_l, rt_l, kw_l = _build_world(spark, d_l, 40)
    # the worlds nest: world(40) contains world(10)'s entities verbatim
    n10 = set(r[0] for r in gen_update_world(10)[0])
    n40 = set(r[0] for r in gen_update_world(40)[0])
    assert n10 < n40

    stats_s = _apply_all(spark, d_s, st_s, wt_s, rt_s, kw_s)
    stats_l = _apply_all(spark, d_l, st_l, wt_l, rt_l, kw_l)

    n_files_s = len(IcepickTable(st_s["ways"]).files())
    n_files_l = len(IcepickTable(st_l["ways"]).files())
    assert n_files_l > n_files_s, "bigger world must mean more store files"

    for i in (0, 1):
        fr_s, fr_l = stats_s[i]["files_read"], stats_l[i]["files_read"]
        assert set(fr_s) == set(fr_l)
        for k in fr_s:
            assert fr_l[k] <= fr_s[k] + 1, (
                f"batch {i} step {k}: pruned reads grew with the world "
                f"({fr_s[k]} -> {fr_l[k]})"
            )
        # and the derived-table rewrites located their chunks via the
        # locator, reading a bounded number of locator files
        for tbl in ("way_chunks", "rel_chunks"):
            lf_s = stats_s[i][tbl].get("locator_files_read")
            lf_l = stats_l[i][tbl].get("locator_files_read")
            if lf_s is not None and lf_l is not None:
                assert lf_l <= lf_s + 1


def test_locator_superset_stale_entry_heals(spark, tmp_path):
    """A crash between the table commit and the locator trim leaves the
    locator a SUPERSET (old ∪ new chunk ids). A later diff touching the
    same key must still rewrite correctly (supersets only widen the file
    set) and must trim the entry back to exact."""
    st, way_table, rel_table, _ = _build_world(spark, tmp_path, 10)
    nodes = ES.read_entity_store(spark, st["nodes"])
    ways = ES.read_entity_store(spark, st["ways"])
    wid = ways.select("id").orderBy("id").first()["id"]

    # poison: add a bogus chunk id to the key's locator entry
    loc = update._locator_path(way_table)
    cur = ES.read_entity_store(spark, loc)
    row = cur.filter(F.col("way_id") == wid).first()
    poisoned = spark.createDataFrame(
        [(wid, sorted(set(list(row["chunk_ids"]) + [99_999])))],
        "way_id bigint, chunk_ids array<bigint>",
    )
    ES.upsert_entities(spark, loc, poisoned, group="poison")

    # a way diff re-tagging wid (refs unchanged -> same geometry)
    ways_diff = ways.filter(F.col("id") == wid).withColumn(
        "tags", F.expr("map('touched', '1')")
    )
    stats = update.apply_way_diff(
        spark, way_table, nodes, ways_diff, group="heal"
    )
    assert stats["locator_files_read"] is not None

    # content equals a from-scratch rebuild of the same final state
    split, bl = update.load_split_set(way_table)
    scratch = str(tmp_path / "scratch")
    fin_ways = ways.join(ways_diff.select("id"), "id", "left_anti").unionByName(
        ways_diff
    )
    update.build_way_chunk_table(spark, nodes, fin_ways, scratch, split, base_level=bl)
    assert _rows(spark, way_table, WAY_COLS) == _rows(spark, scratch, WAY_COLS)

    # healed: the entry is exact again (bogus chunk gone)
    healed = (
        ES.read_entity_store(spark, loc).filter(F.col("way_id") == wid).first()
    )
    assert 99_999 not in list(healed["chunk_ids"])
    true_chunks = sorted(
        r["chunk_id"]
        for r in spark.read.parquet(*IcepickTable(way_table).data_paths())
        .filter(F.col("way_id") == wid)
        .select("chunk_id")
        .distinct()
        .collect()
    )
    assert sorted(healed["chunk_ids"]) == true_chunks


def test_polygon_dirty_splice_in_update_loop(spark, tmp_path):
    """dirty_polygons=True (r7): a member-way node move must expire the
    FILLED area's tiles — including swath tiles between the old and new
    boundary that neither polyline touches — and splicing dirty-re-rendered
    polygon tiles over the pre state must equal a full post render."""
    from coords_spark.operators import multipolygon, render

    st, way_table, rel_table, kw = _build_world(spark, tmp_path, 8)
    nodes = ES.read_entity_store(spark, st["nodes"]).localCheckpoint()
    ways = ES.read_entity_store(spark, st["ways"]).localCheckpoint()
    rels = ES.read_entity_store(spark, st["rels"]).localCheckpoint()

    # one node of the first relation's first member way, moved ~1 degree
    first = rels.orderBy("id").first()
    wid = next(m["ref"] for m in first["members"] if m["mtype"] == 1)
    w_row = ways.filter(F.col("id") == wid).first()
    nid = w_row["refs"][1]
    n_row = nodes.filter(F.col("id") == nid).first()
    batch = spark.createDataFrame(
        [(0, "upsert", nid, 2, n_row["lat"] + 10_000_000,
          n_row["lon"] + 7_000_000, None, None, {})],
        US.DIFF_SCHEMA,
    )
    dirty_table = str(tmp_path / "dirty")
    zoom = 10
    US.apply_diff_batch(
        spark, batch, st["nodes"], st["ways"], st["rels"],
        way_table, rel_table, group="pd-0",
        dirty_table=dirty_table, dirty_zoom=zoom, dirty_min_zoom=9,
        dirty_polygons=True, **kw,
    )
    dirty10 = {
        (r["tile_x"], r["tile_y"])
        for r in spark.read.parquet(*IcepickTable(dirty_table).data_paths())
        .filter(F.col("zoom") == zoom)
        .collect()
    }

    post_nodes = nodes.withColumn(
        "lat", F.when(F.col("id") == nid, F.col("lat") + 10_000_000).otherwise(F.col("lat"))
    ).withColumn(
        "lon", F.when(F.col("id") == nid, F.col("lon") + 7_000_000).otherwise(F.col("lon"))
    ).localCheckpoint()

    def polys_of(nds):
        return multipolygon.reconstruct_multipolygons(
            resolve.resolve_relation_members(rels, resolve.resolve_ways(ways, nds))
        ).localCheckpoint()

    bbox = (int(-85e7), int(-179.9e7), int(85e7), int(179.9e7))

    def tiles_of(polys):
        return {
            (r["tile_x"], r["tile_y"]): (r["n_px"], r["px_crc"])
            for r in render.render_polygon_tiles(
                spark, None, bbox, zoom, polys=polys
            ).collect()
        }

    t_pre = tiles_of(polys_of(nodes))
    t_post = tiles_of(polys_of(post_nodes))
    changed = {
        k for k in set(t_pre) | set(t_post) if t_pre.get(k) != t_post.get(k)
    }
    assert changed, "the move must change some polygon tile"
    # completeness: every changed polygon tile is expired
    assert changed <= dirty10

    # the way-segment rule ALONE misses interior swath tiles — the reason
    # dirty_polygons exists
    aff_w = ways.filter(F.col("id") == wid)
    old_g = resolve.resolve_ways(aff_w, nodes)
    new_g = resolve.resolve_ways(aff_w, post_nodes)
    wdirty = {
        (r["tile_x"], r["tile_y"])
        for r in render.dirty_tiles(old_g.unionByName(new_g), zoom, zoom).collect()
    }
    assert changed - wdirty, "expected fill-swath tiles beyond the polyline rule"

    # splice == rebuild
    spliced = {k: v for k, v in t_pre.items() if k not in dirty10} | {
        k: v for k, v in t_post.items() if k in dirty10
    }
    assert spliced == t_post
