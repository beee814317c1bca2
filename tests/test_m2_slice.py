"""M2 minimum end-to-end slice (SURVEY.md §7): images fixture -> cell encode
-> split-set chunk assignment -> icepick chunk table -> readback, verified
against the mini-COORDS oracle byte-for-byte and kill/resume-safe."""

import os

import numpy as np
import pyarrow as pa
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
_SMALL_BBOX = (int(51.2e7), int(-0.5e7), int(51.8e7), int(0.3e7))  # ~0.6 x 0.8 deg
# mid-Pacific viewport far from every hotspot/coast fixture point
_PACIFIC_BBOX = (int(-45.0e7), int(-155.0e7), int(-44.0e7), int(-154.0e7))


def _bbox_filter(df, bbox):
    lat0, lon0, lat1, lon1 = bbox
    return df.filter(F.col("lat").between(lat0, lat1) & F.col("lon").between(lon0, lon1))


@pytest.fixture(params=["default", "distributed"])
def fetch_path(request, force_distributed):
    """Run the test on both viewport fetch paths: the default (the driver
    read at this size) and every cap at 0 (the Spark scan)."""
    if request.param == "distributed":
        force_distributed()
    return request.param


def test_render_read_matches_bruteforce(spark, engine_result, fetch_path):
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


def test_render_read_empty_viewport(spark, engine_result, fetch_path):
    """A viewport whose pruned files hold no anchor inside it: the files'
    [chunk_min, chunk_max] ranges over-cover it, so the scan keeps some
    files, and the exact anchor filter drops every row they hold. The
    zero-path miss (a LocalTableScan of the manifest schema) is
    test_render_read_driver_path_matches_spark[empty]."""
    table, _, out = engine_result
    assert len(ingest.viewport_scan(out, _PACIFIC_BBOX, 10, BASE_LEVEL).paths) > 0
    df = ingest.render_read(spark, out, _PACIFIC_BBOX, zoom=10, base_level=BASE_LEVEL)
    assert df.count() == 0
    assert "image_id" in df.columns  # schema survives the empty path


def test_render_read_prunes_manifest_files(spark, engine_result, fetch_path):
    """The multi-range manifest pruning must actually SKIP files whose chunk
    lineage cannot overlap a small viewport."""
    from coords_spark.kernels import zcurve

    table, _, out = engine_result
    gx0, gy0, gx1, gy1 = ingest.bbox_grid(*_SMALL_BBOX)
    ranges = zcurve.bbox_cover_ranges(gx0, gy0, gx1, gy1, zoom=12, max_level=BASE_LEVEL)
    pruned = table.data_paths_ranges(ranges)
    everything = table.data_paths()
    assert 0 < len(pruned) < len(everything), (len(pruned), len(everything))
    # and the pruned read still returns the exact bbox row set
    got = sorted(
        r[0]
        for r in ingest.render_read(spark, out, _SMALL_BBOX, 12, base_level=BASE_LEVEL)
        .select("image_id").collect()
    )
    full = spark.read.parquet(*everything)
    want = sorted(r[0] for r in _bbox_filter(full, _SMALL_BBOX).select("image_id").collect())
    assert got == want


def _timestamp_table(path: str) -> None:
    """A stamped one-chunk table under London (level 12) with a tz-less
    timestamp column, written with pyarrow."""
    from coords_spark.kernels import mercator, zcurve

    lat, lon = int(51.5e7), int(-0.1e7)
    ux, uy = mercator.latlon_i32_to_unit(np.asarray([lat]), np.asarray([lon]))
    gx, gy = zcurve.unit_to_grid(ux, uy)
    chunk = int(zcurve.cell_from_point(gx, gy, BASE_LEVEL)[0])
    stage = os.path.join(os.path.dirname(path), "ts-stage")
    os.makedirs(stage)
    pq.write_table(
        pa.table(
            {
                "image_id": pa.array(["a", "b", "c", "d"]),
                "lat": pa.array([lat, lat + 10, lat + 20, int(55.0e7)], pa.int32()),
                "lon": pa.array([lon] * 4, pa.int32()),
                "chunk_id": pa.array([chunk] * 4, pa.int64()),
                "taken": pa.array([0, 1_700_000_000_000_000, None, 5], pa.timestamp("us")),
            }
        ),
        os.path.join(stage, "part-0.parquet"),
    )
    IcepickTable.create(path).commit_staged(stage, group="g")


def _sorted_rows(tbl):
    return sorted(tbl.to_pylist(), key=repr)


@pytest.mark.parametrize(
    "case", ["in_cap", "empty", "over_rows_cap", "over_bytes_cap", "timestamp"]
)
def test_render_read_driver_path_matches_spark(
    spark, engine_result, force_distributed, monkeypatch, tmp_path, case
):
    """The driver fetch and the Spark fetch return the same Arrow output:
    field names and types, and rows. The empty viewport opens no data
    file; a viewport over either cap takes the Spark path; a tz-less
    timestamp column keeps its Spark read type (TIMESTAMP_NTZ)."""
    from coords_spark import bounded

    _, _, out = engine_result
    bbox, zoom = _SMALL_BBOX, 12
    if case in ("empty", "timestamp"):
        # engine_result keeps root-chunk files every viewport overlaps;
        # the one deep chunk of this table prunes a Pacific viewport away
        out = str(tmp_path / "ts")
        _timestamp_table(out)
        bbox = _PACIFIC_BBOX if case == "empty" else (
            int(51.0e7), int(-0.5e7), int(52.0e7), int(0.5e7)
        )
    scan = ingest.viewport_scan(out, bbox, zoom, BASE_LEVEL)
    assert (scan.paths == []) == (case == "empty")
    if case == "empty":

        def no_read(*a, **kw):
            raise AssertionError("a data file was opened")

        monkeypatch.setattr(pq, "read_table", no_read)
    if case == "over_rows_cap":
        monkeypatch.setattr(bounded, "SMALL_REWRITE_ROWS", scan.rows - 1)
    if case == "over_bytes_cap":
        monkeypatch.setattr(
            bounded, "SMALL_REWRITE_BYTES", sum(map(os.path.getsize, scan.paths)) - 1
        )
    real = IcepickTable.read_arrow
    driver_reads = []

    def counted(self, *a, **kw):
        driver_reads.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(IcepickTable, "read_arrow", counted)
    want_reads = int(case in ("in_cap", "timestamp"))
    got = ingest.render_read(spark, out, bbox, zoom, base_level=BASE_LEVEL).toArrow()
    assert len(driver_reads) == want_reads
    force_distributed()
    want = ingest.render_read(spark, out, bbox, zoom, base_level=BASE_LEVEL).toArrow()
    assert len(driver_reads) == want_reads
    assert [(f.name, f.type) for f in got.schema] == [(f.name, f.type) for f in want.schema]
    assert _sorted_rows(got) == _sorted_rows(want)
    assert (got.num_rows == 0) == (case == "empty")
    if case == "timestamp":
        assert got.schema.field("taken").type == pa.timestamp("us")
        assert got.num_rows == 3


def test_render_read_job_count(spark, engine_result):
    """Under the caps the viewport fetch runs no Spark job itself, and
    collecting its result runs exactly one."""
    from test_bounded import _with_jobs

    _, _, out = engine_result
    df, jobs = _with_jobs(
        spark, lambda: ingest.render_read(spark, out, _SMALL_BBOX, 12, base_level=BASE_LEVEL)
    )
    assert jobs == 0
    tbl, jobs = _with_jobs(spark, df.toArrow)
    assert jobs == 1 and tbl.num_rows > 0
