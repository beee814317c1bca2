"""M2 minimum end-to-end slice (SURVEY.md §7): images fixture -> cell encode
-> split-set chunk assignment -> icepick chunk table -> readback, verified
against the mini-COORDS oracle byte-for-byte and kill/resume-safe."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from coords_spark.operators import ingest, tiling
from coords_spark.sources.icepick import IcepickTable
from tests.oracle import minicoords as oracle

BASE_LEVEL = 12
MAX_BYTES = 64 * 1024  # small so the fixture actually forces subdivision


@pytest.fixture(scope="module")
def images_df(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "images.parquet"))


@pytest.fixture(scope="module")
def engine_result(spark, images_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("chunktab") / "images_chunks")
    table, split_set = ingest.ingest_images(
        images_df, out, base_level=BASE_LEVEL, max_bytes=MAX_BYTES
    )
    return table, split_set, out


def _oracle_assignments(fixture_dir):
    imgs = pq.read_table(os.path.join(fixture_dir, "images.parquet")).to_pylist()
    from coords_spark.kernels import phash as ph

    phs = np.asarray([r["phash"] for r in imgs], dtype=np.int64)
    lat, lon = ph.anchor(phs)
    pts = [
        (r["image_id"], int(lat[i]), int(lon[i]), 64 + len(r["bytes"]) + len(r["caption"]))
        for i, r in enumerate(imgs)
    ]
    return oracle.chunk_points(pts, MAX_BYTES, BASE_LEVEL)


def test_chunk_assignments_match_oracle_exactly(spark, engine_result, fixture_dir):
    table, split_set, out = engine_result
    got = {
        r["image_id"]: r["chunk_id"]
        for r in spark.read.parquet(*table.data_paths()).select("image_id", "chunk_id").collect()
    }
    want = _oracle_assignments(fixture_dir)
    assert len(got) == len(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:5]}"


def test_subdivision_happened(engine_result):
    _, split_set, _ = engine_result
    assert split_set.size > 0, "fixture should exceed MAX_BYTES in hotspots"


def test_manifest_lineage(engine_result):
    table, _, _ = engine_result
    files = table.files()
    assert files, "no data files committed"
    for e in files:
        assert e["rows"] > 0
        assert e["checksum"].startswith("sha256:")
        assert e["chunk_min"] is not None and e["chunk_min"] <= e["chunk_max"]
        assert e["group"] is not None
    assert table.verify_checksums()


def test_readback_pruning(spark, engine_result):
    table, _, out = engine_result
    all_df = spark.read.parquet(*table.data_paths())
    total = all_df.count()
    assert total > 0
    # pick one chunk and prune to it
    one = all_df.select("chunk_id").first()[0]
    pruned_paths = table.data_paths(one, one)
    assert len(pruned_paths) <= len(table.data_paths())
    df = ingest.read_chunk_table(spark, out, one, one)
    n = df.count()
    direct = all_df.filter(F.col("chunk_id") == one).count()
    assert n == direct > 0


def test_payload_roundtrip_through_chunk_table(spark, engine_result):
    """input_hint invariant: decoded pixels + caption survive the pipeline."""
    from coords_spark.kernels import codec, phash as ph

    table, _, _ = engine_result
    rows = spark.read.parquet(*table.data_paths()).limit(50).collect()
    assert rows
    for r in rows:
        img = ph.procedural_image(r["image_id"], r["w"], r["h"])
        dec = codec.decode_image(bytes(r["bytes"]), r["fmt"], r["w"], r["h"])
        if codec.is_lossless(r["fmt"]):
            assert np.array_equal(dec, img)
        else:
            assert codec.psnr(img, dec) >= 40.0
        idx = int(r["image_id"][3:])
        la, lo = ph.anchor(np.asarray([r["phash"]]))
        assert r["caption"] == f"synthetic scene {idx} near ({la[0] * 1e-7:.5f},{lo[0] * 1e-7:.5f})"


def test_resume_skips_committed_groups(spark, images_df, tmp_path_factory):
    """Kill after k of n group commits; re-run; zero reprocessing + identical
    final table (SURVEY.md §5.3.4)."""
    out = str(tmp_path_factory.mktemp("resume") / "t")
    pts = ingest.with_point_cell(ingest.with_anchor(images_df), BASE_LEVEL).withColumn(
        "nbytes", ingest.payload_nbytes_col(images_df)
    )
    split = tiling.compute_split_set(pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL)
    chunked = tiling.with_chunk(pts, split, base_level=BASE_LEVEL)

    killed = {"n": 0}

    class Kill(Exception):
        pass

    def bomb(group):
        killed["n"] += 1
        if killed["n"] == 2:
            raise Kill()

    with pytest.raises(Kill):
        tiling.materialize_chunk_table(chunked, out, progress_cb=bomb)
    t = IcepickTable(out)
    committed_before = t.committed_groups()
    assert len(committed_before) == 2
    rows_before = t.total_rows()

    done = []
    tiling.materialize_chunk_table(chunked, out, progress_cb=lambda g: done.append(g))
    t2 = IcepickTable(out)
    # resumed run did not redo the committed groups
    assert all(str(g) not in committed_before for g in done)
    assert t2.total_rows() == chunked.count()
    # final content identical to a fresh one-shot run
    fresh = str(tmp_path_factory.mktemp("resume") / "fresh")
    tiling.materialize_chunk_table(chunked, fresh)
    a = {(r["image_id"], r["chunk_id"]) for r in spark.read.parquet(*t2.data_paths()).select("image_id", "chunk_id").collect()}
    b = {(r["image_id"], r["chunk_id"]) for r in spark.read.parquet(*IcepickTable(fresh).data_paths()).select("image_id", "chunk_id").collect()}
    assert a == b


def test_allocate_chunk_partitions_packing():
    """Driver-side allocation: z-order contiguity, byte-balanced packing,
    hot chunks get proportional width (the exact T6 salting), bounds hold."""
    # 8 small chunks of 10 bytes + one hot chunk of 400 bytes, 8 partitions
    weights = {c: 10 for c in range(0, 80, 10)}
    weights[35] = 400
    alloc = tiling.allocate_chunk_partitions(weights, 8)
    assert set(alloc) == set(weights)
    total = sum(weights.values())
    target = total // 8
    base, width = alloc[35]
    assert width == min(8, -(-400 // target))  # proportional salting
    for c, (b, w) in alloc.items():
        assert 0 <= b < 8 and 1 <= w <= 8 - b
    # z-order contiguity: bases are non-decreasing in chunk order
    bases = [alloc[c][0] for c in sorted(alloc)]
    assert bases == sorted(bases)
    # determinism
    assert alloc == tiling.allocate_chunk_partitions(dict(weights), 8)


def test_materialize_with_weights_matches_legacy(spark, images_df, tmp_path_factory):
    """The explicit-allocation materialization (chunk_weights path — no
    repartitionByRange sampling pass) must produce the same table CONTENT
    as the legacy range-partitioned path, with checksums green, and the
    split-set+weights one-pass helper must agree with compute_split_set."""
    pts = ingest.with_point_cell(ingest.with_anchor(images_df), BASE_LEVEL).withColumn(
        "nbytes", ingest.payload_nbytes_col(images_df)
    )
    split_a = tiling.compute_split_set(pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL)
    split_b, weights = tiling.compute_split_set_and_weights(
        pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL
    )
    assert list(split_a) == list(split_b)
    chunked = tiling.with_chunk(pts, split_a, base_level=BASE_LEVEL)
    # weights cover exactly the chunk universe of the data
    got_chunks = {r["chunk_id"] for r in chunked.select("chunk_id").distinct().collect()}
    assert got_chunks == set(weights)

    legacy = str(tmp_path_factory.mktemp("mat") / "legacy")
    explicit = str(tmp_path_factory.mktemp("mat") / "explicit")
    tiling.materialize_chunk_table(chunked, legacy)
    tiling.materialize_chunk_table(chunked, explicit, chunk_weights=weights)
    ta, tb = IcepickTable(legacy), IcepickTable(explicit)
    assert ta.total_rows() == tb.total_rows() == chunked.count()
    assert tb.verify_checksums()
    a = {(r["image_id"], r["chunk_id"]) for r in spark.read.parquet(*ta.data_paths()).select("image_id", "chunk_id").collect()}
    b = {(r["image_id"], r["chunk_id"]) for r in spark.read.parquet(*tb.data_paths()).select("image_id", "chunk_id").collect()}
    assert a == b


def test_split_set_and_weights_forced_distributed(spark, images_df, force_distributed):
    """With every bounded cap at 0 the per-cell rollup runs distributed;
    the split set and the per-chunk weights must equal the driver-side
    numpy rollup's."""
    pts = ingest.with_point_cell(ingest.with_anchor(images_df), BASE_LEVEL).withColumn(
        "nbytes", ingest.payload_nbytes_col(images_df)
    ).localCheckpoint()
    split = tiling.compute_split_set(pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL)
    split_w, weights = tiling.compute_split_set_and_weights(
        pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL
    )
    force_distributed()
    split_d = tiling.compute_split_set(pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL)
    split_wd, weights_d = tiling.compute_split_set_and_weights(
        pts, max_bytes=MAX_BYTES, base_level=BASE_LEVEL
    )
    assert list(split_d) == list(split_wd) == list(split_w) == list(split)
    assert weights_d == weights


# ---------------------------------------------------------------------------
# bbox+zoom render read (S5 multi-range pruning; VERDICT r3 ask #1)
# ---------------------------------------------------------------------------

_LONDON_BBOX = (
    int(50.0e7), int(-2.0e7), int(53.0e7), int(1.8e7)
)  # (lat_min, lon_min, lat_max, lon_max) i32 — around the London hotspot


def _bbox_filter(df, bbox):
    lat0, lon0, lat1, lon1 = bbox
    return df.filter(F.col("lat").between(lat0, lat1) & F.col("lon").between(lon0, lon1))


def test_render_read_matches_bruteforce(spark, engine_result):
    table, _, out = engine_result
    full = spark.read.parquet(*table.data_paths())
    for zoom in (4, 8, 12):
        got = sorted(
            r[0]
            for r in ingest.render_read(
                spark, out, _LONDON_BBOX, zoom, base_level=BASE_LEVEL
            ).select("image_id").collect()
        )
        want = sorted(r[0] for r in _bbox_filter(full, _LONDON_BBOX).select("image_id").collect())
        assert got == want and len(got) > 0, (zoom, len(got), len(want))


def test_render_read_empty_viewport(spark, engine_result):
    table, _, out = engine_result
    # mid-Pacific viewport far from every hotspot/coast fixture point
    bbox = (int(-45.0e7), int(-155.0e7), int(-44.0e7), int(-154.0e7))
    df = ingest.render_read(spark, out, bbox, zoom=10, base_level=BASE_LEVEL)
    assert df.count() == 0
    assert "image_id" in df.columns  # schema survives the empty path


def test_render_read_prunes_manifest_files(spark, engine_result):
    """The multi-range manifest pruning must actually SKIP files whose chunk
    lineage cannot overlap a small viewport."""
    from coords_spark.kernels import zcurve

    table, _, out = engine_result
    small = (int(51.2e7), int(-0.5e7), int(51.8e7), int(0.3e7))  # ~0.6 x 0.8 deg
    gx0, gy0, gx1, gy1 = ingest.bbox_grid(*small)
    ranges = zcurve.bbox_cover_ranges(gx0, gy0, gx1, gy1, zoom=12, max_level=BASE_LEVEL)
    pruned = table.data_paths_ranges(ranges)
    everything = table.data_paths()
    assert 0 < len(pruned) < len(everything), (len(pruned), len(everything))
    # and the pruned read still returns the exact bbox row set
    got = sorted(
        r[0]
        for r in ingest.render_read(spark, out, small, 12, base_level=BASE_LEVEL)
        .select("image_id").collect()
    )
    full = spark.read.parquet(*everything)
    want = sorted(r[0] for r in _bbox_filter(full, small).select("image_id").collect())
    assert got == want
