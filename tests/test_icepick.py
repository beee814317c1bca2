"""icepick table-format tests: atomic commits, crash snapshot isolation,
pruning and checksum verification (no Spark), plus the Spark read
primitive IcepickTable.read over every table kind."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from coords_spark.sources.icepick import IcepickTable


def _stage(tmp_path, name, chunk_ids):
    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table({"chunk_id": pa.array(chunk_ids, pa.int64()), "v": list(range(len(chunk_ids)))}),
        str(d / "part-0.parquet"),
    )
    return str(d)


def test_commit_and_lineage(tmp_path):
    t = IcepickTable.create(str(tmp_path / "t"))
    entries = t.commit_staged(_stage(tmp_path, "s1", [5, 7, 9]), group="g1")
    assert len(entries) == 1
    e = entries[0]
    assert e["rows"] == 3 and e["chunk_min"] == 5 and e["chunk_max"] == 9
    assert e["checksum"].startswith("sha256:")
    assert t.committed_groups() == {"g1"}
    assert t.total_rows() == 3
    assert t.verify_checksums()


def test_append_commits_and_pruning(tmp_path):
    t = IcepickTable.create(str(tmp_path / "t"))
    t.commit_staged(_stage(tmp_path, "s1", [1, 2]), group="a")
    t.commit_staged(_stage(tmp_path, "s2", [100, 200]), group="b")
    assert t.total_rows() == 4
    assert len(t.data_paths()) == 2
    assert len(t.data_paths(chunk_min=50)) == 1  # first file pruned
    assert len(t.data_paths(chunk_max=50)) == 1  # second file pruned
    assert len(t.data_paths(chunk_min=150, chunk_max=160)) == 1  # overlap rule


def test_crash_before_current_swap_keeps_old_snapshot(tmp_path):
    t = IcepickTable.create(str(tmp_path / "t"))
    t.commit_staged(_stage(tmp_path, "s1", [1]), group="a")
    v1 = t.current_manifest()["version"]
    # simulate a crash: a newer manifest file exists but CURRENT not swapped
    man = t.current_manifest()
    man["version"] += 1
    man["files"] = man["files"] + [{"path": "data/ghost.parquet", "rows": 99, "chunk_min": 0, "chunk_max": 0, "checksum": "sha256:x", "group": "ghost"}]
    with open(os.path.join(t.manifest_dir, f"manifest-{man['version']:06d}.json"), "w") as f:
        json.dump(man, f)
    # reader still sees the old snapshot
    assert t.current_manifest()["version"] == v1
    assert t.total_rows() == 1
    assert "ghost" not in t.committed_groups()


def test_empty_group_marking(tmp_path):
    t = IcepickTable.create(str(tmp_path / "t"))
    t.mark_group_committed("empty1")
    assert t.committed_groups() == {"empty1"}
    assert t.total_rows() == 0


def test_checksum_detects_tamper(tmp_path):
    t = IcepickTable.create(str(tmp_path / "t"))
    t.commit_staged(_stage(tmp_path, "s1", [1, 2, 3]), group="a")
    path = t.data_paths()[0]
    with open(path, "r+b") as f:
        f.seek(10)
        f.write(b"\x00\x00")
    assert not t.verify_checksums()


def test_time_travel_snapshots(tmp_path):
    """Every commit writes an immutable manifest; readers can pin any
    version (snapshot isolation) while the table keeps growing."""
    t = IcepickTable.create(str(tmp_path / "tt"))
    t.commit_staged(_stage(tmp_path, "v1", [1, 2]), group="g1")
    t.commit_staged(_stage(tmp_path, "v2", [3, 4, 5]), group="g2")
    t.commit_staged(_stage(tmp_path, "v3", [6]), group="g3")
    assert t.versions() == [0, 1, 2, 3]
    assert len(t.files(version=0)) == 0
    assert len(t.files(version=1)) == 1
    assert len(t.files(version=2)) == 2
    assert len(t.files()) == 3
    # snapshot-pinned reads see only that version's files
    assert len(t.data_paths(version=1)) == 1
    assert len(t.data_paths()) == 3
    # range pruning composes with time travel
    assert len(t.data_paths(chunk_min=3, chunk_max=5, version=1)) == 0
    assert len(t.data_paths(chunk_min=3, chunk_max=5, version=2)) == 1
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        t.manifest_at(99)


def test_manifest_stored_schema(tmp_path):
    """Schema is stamped into the manifest at commit and readable without
    touching any data file (VERDICT r4 ask #8)."""
    t = IcepickTable.create(str(tmp_path / "sch"))
    assert t.arrow_schema() is None  # empty table, never stamped
    t.commit_staged(_stage(tmp_path, "s1", [1, 2]), group="g1")
    s = t.arrow_schema()
    assert s is not None and s.names == ["chunk_id", "v"]
    # delete every data file: schema must STILL be readable (manifest-only)
    for e in t.files():
        os.remove(os.path.join(t.path, e["path"]))
    s2 = t.arrow_schema()
    assert s2.equals(s)
    # version pinning: the schema travels with each stamped manifest
    assert t.arrow_schema(version=1).equals(s)


def test_empty_viewport_render_read_plans_zero_file_scans(spark, tmp_path):
    """A viewport overlapping no chunk range must return an empty DF with
    the table schema whose physical plan contains NO parquet scan (schema
    comes from the manifest, VERDICT r4 ask #8)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coords_spark.kernels import mercator, zcurve
    from coords_spark.operators import ingest

    # a table holding ONE deep chunk under London (level 12): a south-
    # pacific viewport's cover ranges (its own ancestors + pacific deep
    # cells) cannot overlap it -> guaranteed manifest miss
    ux, uy = mercator.latlon_i32_to_unit(
        np.asarray([int(51.5e7)]), np.asarray([int(-0.1e7)])
    )
    gx, gy = zcurve.unit_to_grid(ux, uy)
    london = int(zcurve.cell_from_point(gx, gy, 12)[0])
    d = tmp_path / "stage"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "image_id": pa.array(["a", "b"], pa.string()),
                "lat": pa.array([int(51.5e7)] * 2, pa.int32()),
                "lon": pa.array([int(-0.1e7)] * 2, pa.int32()),
                "chunk_id": pa.array([london] * 2, pa.int64()),
            }
        ),
        str(d / "part-0.parquet"),
    )
    path = str(tmp_path / "ptable")
    t = IcepickTable.create(path)
    t.commit_staged(str(d), group="g1")
    full = ingest.read_chunk_table(spark, path)
    bbox = (int(-48.0e7), int(-123.0e7), int(-47.9999e7), int(-122.9999e7))
    # precondition: the manifest really prunes everything
    g = ingest.bbox_grid(*bbox)
    ranges = zcurve.bbox_cover_ranges(*g, 12, max_level=12)
    assert t.data_paths_ranges(ranges) == []
    miss = ingest.render_read(spark, path, bbox, zoom=12, base_level=12)
    assert miss.count() == 0
    assert miss.schema == full.schema
    plan = miss._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "parquet" not in plan.lower()


def test_chunk_range_between_files_reads_empty(spark, tmp_path):
    """A chunk range that falls between two files' [chunk_min, chunk_max]
    reads as an empty frame of the table schema, like render_read's
    viewport miss; it does not raise."""
    from coords_spark.operators import ingest

    t = IcepickTable.create(str(tmp_path / "t"))
    t.commit_staged(_stage(tmp_path, "s1", [1, 2]), group="a")
    t.commit_staged(_stage(tmp_path, "s2", [100, 200]), group="b")
    assert t.data_paths(10, 50) == []  # precondition: no file overlaps
    miss = ingest.read_chunk_table(spark, t.path, 10, 50)
    assert miss.count() == 0
    assert miss.columns == ["chunk_id", "v"]
    assert ingest.read_chunk_table(spark, t.path, 2, 100).count() == 2


def _field_types(schema):
    """[(name, type)] of a Spark schema, nullability aside."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


@pytest.fixture(scope="module")
def table_kinds(spark, tmp_path_factory):
    """{kind: table path} for every icepick table kind the suite builds,
    each after a write that mixes Spark-written and pyarrow-written files:
    the three entity stores, both reverse-index stores, both locators,
    the way and relation chunk tables and the dirty log after one diff
    batch; a pyramid level table (Spark base level, pyarrow overzoom);
    and a pyarrow table with a tz-less timestamp column."""
    from test_odiff import _batches, _build_world

    from coords_spark.fixtures import gen_nodes, gen_ways
    from coords_spark.fixtures.lines import LONDON, line_table, way_chunks
    from coords_spark.operators import render, update
    from coords_spark.streaming import update_stream as US

    d = tmp_path_factory.mktemp("kinds")
    stores, way_table, rel_table, kw = _build_world(spark, d, 4)
    dirty = str(d / "dirty")
    b1, _ = _batches(spark)
    US.apply_diff_batch(
        spark, b1, stores["nodes"], stores["ways"], stores["rels"], way_table, rel_table,
        group="diff-0", dirty_table=dirty, **kw,
    )
    kinds = {f"store_{k}": p for k, p in stores.items()}
    kinds.update(
        rindex_nw=kw["rindex_store"], rindex_wr=kw["rel_rindex_store"],
        way_table=way_table, rel_table=rel_table, dirty=dirty,
        way_locator=update._locator_path(way_table),
        rel_locator=update._locator_path(rel_table),
    )

    tiles = str(d / "tiles")
    line_table(
        tiles,
        way_chunks(
            spark.createDataFrame(gen_ways(300, 2000)), spark.createDataFrame(gen_nodes(2000))
        ),
    )
    kinds["pyramid"] = str(d / "pyramid")
    render.build_pyramid_table(spark, tiles, kinds["pyramid"], LONDON, 8, 6, 256)

    stage = d / "ts_stage"
    stage.mkdir()
    pq.write_table(
        pa.table(
            {
                "chunk_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([0, 1_700_000_000_000_000], pa.timestamp("us")),
            }
        ),
        str(stage / "part-0.parquet"),
    )
    kinds["timestamp"] = str(d / "ts")
    IcepickTable.create(kinds["timestamp"]).commit_staged(str(stage), group="g1")
    return kinds


def test_schema_read_matches_inference(spark, table_kinds):
    """IcepickTable.read plans from the manifest schema; for every table
    kind it gives the field names and types Spark's footer inference
    gives over the same files (nullability aside), including a tz-less
    timestamp (TIMESTAMP_NTZ)."""
    for kind, path in sorted(table_kinds.items()):
        t = IcepickTable(path)
        paths = t.data_paths()
        assert paths, kind
        assert t.arrow_schema() is not None, kind
        got = _field_types(t.read(spark, paths).schema)
        assert got == _field_types(spark.read.parquet(*paths).schema), kind
        # the miss path plans the same schema
        assert _field_types(t.read(spark, []).schema) == got, kind
    ts = dict(_field_types(IcepickTable(table_kinds["timestamp"]).read(spark, []).schema))
    assert ts["ts"] == "timestamp_ntz"


def test_unstamped_table_reads_through_inference(spark, tmp_path):
    """A table whose manifest carries no schema stamp (written before
    stamping) still reads, through footer inference, and its empty read
    takes the schema from a data file."""
    t = IcepickTable.create(str(tmp_path / "t"))
    t.commit_staged(_stage(tmp_path, "s1", [1, 2]), group="a")
    man = t.current_manifest()
    del man["schema_ipc_b64"]
    man["version"] += 1
    t._write_manifest(man)
    assert t.arrow_schema() is None and t.spark_schema() is None
    df = t.read(spark, t.data_paths())
    assert sorted(r["chunk_id"] for r in df.collect()) == [1, 2]
    empty = t.read(spark, [])
    assert empty.count() == 0 and empty.columns == ["chunk_id", "v"]


def test_read_arrow_is_the_zero_job_twin_of_read(tmp_path, monkeypatch):
    """IcepickTable.read_arrow: the pruned files with the manifest schema,
    projected by `columns`; an empty path list is an empty table of that
    schema and opens no file; an unstamped table infers from its files."""
    t = IcepickTable.create(str(tmp_path / "t"))
    t.commit_staged(_stage(tmp_path, "s1", [1, 2]), group="a")
    t.commit_staged(_stage(tmp_path, "s2", [7]), group="b")
    got = t.read_arrow(t.data_paths())
    assert got.schema == t.arrow_schema()
    assert sorted(got.column("chunk_id").to_pylist()) == [1, 2, 7]
    assert t.read_arrow(t.data_paths(5, 9), ["v"]).to_pylist() == [{"v": 0}]

    def no_read(*a, **kw):
        raise AssertionError("a data file was opened")

    with monkeypatch.context() as m:
        m.setattr(pq, "read_table", no_read)
        m.setattr(pq, "read_schema", no_read)
        empty = t.read_arrow([])
        assert empty.num_rows == 0 and empty.schema == t.arrow_schema()
        assert t.read_arrow([], ["v"]).schema.names == ["v"]

    man = t.current_manifest()
    del man["schema_ipc_b64"]
    man["version"] += 1
    t._write_manifest(man)
    assert t.arrow_schema() is None
    assert sorted(t.read_arrow(t.data_paths()).column("chunk_id").to_pylist()) == [1, 2, 7]
    empty = t.read_arrow([])
    assert empty.num_rows == 0 and empty.column_names == ["chunk_id", "v"]
