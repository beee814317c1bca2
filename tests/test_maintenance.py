"""Icepick maintenance (VERDICT r5 ask #4): compact() bin-packs small data
files without changing table content or breaking retained snapshots;
expire_snapshots() drops old manifests and reclaims exactly the data files
no retained snapshot references."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from coords_spark.sources.icepick import IcepickTable


def _content(spark, t, version=None):
    df = spark.read.parquet(*t.data_paths(version=version))
    return sorted(tuple(r) for r in df.select("image_id", "chunk_id").collect())


@pytest.fixture()
def many_small(tmp_path):
    """A table grown through 6 tiny commits — 6 small files, 7 snapshots."""
    t = IcepickTable.create(str(tmp_path / "t"))
    for b in range(6):
        stage = str(tmp_path / f"s{b}")
        os.makedirs(stage)
        keys = list(range(b * 100, (b + 1) * 100))
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array(keys, pa.int64()),
                    "chunk_id": pa.array([k % 7 for k in keys], pa.int64()),
                }
            ),
            f"{stage}/part-0.parquet",
        )
        t.commit_staged(stage, group=f"b{b}")
    return t


def test_compact_preserves_content_and_time_travel(spark, many_small):
    t = many_small
    v_pre = t.current_manifest()["version"]
    before = _content(spark, t)
    n_files_before = len(t.files())
    assert n_files_before == 6

    stats = t.compact(spark, target_bytes=1 << 20)
    assert stats["files_compacted"] == 6
    assert stats["files_written"] >= 1
    assert len(t.files()) == stats["files_written"] < n_files_before

    # content hash-identical; chunk lineage survives (min/max present)
    assert _content(spark, t) == before
    for e in t.files():
        assert e["chunk_min"] is not None and e["chunk_max"] is not None
    assert t.verify_checksums()

    # retained snapshot still reads the pre-compaction file set
    assert _content(spark, t, version=v_pre) == before


def test_compact_noop_below_two_files(spark, tmp_path):
    t = IcepickTable.create(str(tmp_path / "t"))
    stage = str(tmp_path / "s0")
    os.makedirs(stage)
    pq.write_table(
        pa.table({"image_id": pa.array([1], pa.int64()),
                  "chunk_id": pa.array([0], pa.int64())}),
        f"{stage}/part-0.parquet",
    )
    t.commit_staged(stage, group="b0")
    v = t.current_manifest()["version"]
    assert t.compact(spark, target_bytes=1 << 20)["files_compacted"] == 0
    assert t.current_manifest()["version"] == v


def test_expire_snapshots_reclaims_unreferenced_files(spark, many_small):
    t = many_small
    before = _content(spark, t)
    t.compact(spark, target_bytes=1 << 20)
    # pre-compaction snapshots still pin the 6 small files on disk
    n_disk = len([n for n in os.listdir(t.data_dir) if n.startswith("part-")])
    assert n_disk == 6 + len(t.files())

    stats = t.expire_snapshots(keep_n=1)
    assert len(stats["kept_versions"]) == 1
    assert stats["expired_versions"]
    # exactly the unreferenced files are gone; current content unchanged
    assert sorted(stats["removed_files"]) == sorted(
        os.path.join("data", f"part-{i:06d}-part-0.parquet") for i in range(6)
    )
    left = [n for n in os.listdir(t.data_dir) if n.startswith("part-")]
    assert len(left) == len(t.files())
    assert _content(spark, t) == before
    assert t.verify_checksums()

    # time travel to an expired version now raises
    with pytest.raises(FileNotFoundError):
        t.manifest_at(stats["expired_versions"][0])


def test_expire_keep_n_validation(many_small):
    with pytest.raises(ValueError):
        many_small.expire_snapshots(keep_n=0)


def test_expire_keeps_multiple_versions_readable(spark, many_small):
    t = many_small
    vs = t.versions()
    t.compact(spark, target_bytes=1 << 20)
    t.expire_snapshots(keep_n=2)
    kept = t.versions()
    assert len(kept) == 2
    # the retained pre-compaction snapshot still reads completely
    pre_v = kept[0]
    assert pre_v in vs
    df = spark.read.parquet(*t.data_paths(version=pre_v))
    assert df.count() == 600


def test_compact_preserves_extra_stats_and_chunk_col(spark, tmp_path):
    """ADVICE r6: a pyramid-style table stamps extra per-file stats
    ('zoom') and clusters on tile_x. compact() must pack files PER
    extra-stats signature, carry the stamps into replacement entries, and
    default its clustering column to the one the table was written with —
    otherwise refresh_pyramid_table's zoom filter reads zero children."""
    t = IcepickTable.create(str(tmp_path / "t"))
    for z in (7, 8):
        for b in range(3):
            stage = str(tmp_path / f"s{z}_{b}")
            os.makedirs(stage)
            keys = list(range(b * 10, (b + 1) * 10))
            pq.write_table(
                pa.table({
                    "tile_x": pa.array(keys, pa.int64()),
                    "zoom": pa.array([z] * 10, pa.int64()),
                }),
                f"{stage}/part-0.parquet",
            )
            t.commit_staged(
                stage, group=f"z{z}b{b}", chunk_col="tile_x",
                extra_stats={"zoom": z},
            )
    assert t.current_manifest()["properties"]["chunk_col"] == "tile_x"
    before = {
        z: sorted(
            r["tile_x"]
            for r in spark.read.parquet(*t.data_paths()).filter(f"zoom = {z}").collect()
        )
        for z in (7, 8)
    }

    stats = t.compact(spark, target_bytes=1 << 20)  # chunk_col from properties
    assert stats["files_compacted"] == 6
    # one packed file per zoom signature, each stamped + tile_x lineage
    assert len(t.files()) == stats["files_written"]
    zooms = sorted(e.get("zoom") for e in t.files())
    assert zooms == [7, 8]
    for e in t.files():
        assert e["chunk_min"] is not None and e["chunk_max"] is not None
    after = {
        z: sorted(
            r["tile_x"]
            for r in spark.read.parquet(*t.data_paths()).filter(f"zoom = {z}").collect()
        )
        for z in (7, 8)
    }
    assert after == before


def test_compact_forced_distributed_matches_default(spark, many_small, tmp_path, force_distributed):
    """compact() on two copies of one table: the default driver-side pack
    and, with every bounded cap at 0, the Spark rewrite. Same content,
    same chunk lineage, same stats apart from the file count."""
    import shutil

    forced = IcepickTable(str(tmp_path / "forced"))
    shutil.copytree(many_small.path, forced.path)
    want = many_small.compact(spark, target_bytes=1 << 20)
    force_distributed()
    got = forced.compact(spark, target_bytes=1 << 20)
    assert {k: got[k] for k in ("files_compacted", "bytes_in")} == {
        k: want[k] for k in ("files_compacted", "bytes_in")
    }
    assert _content(spark, forced) == _content(spark, many_small)

    def span(t):
        return (min(e["chunk_min"] for e in t.files()), max(e["chunk_max"] for e in t.files()))

    assert span(forced) == span(many_small)
    assert forced.verify_checksums()
