"""The three workloads. Each is a closed loop with one client (this
driver thread): the next operation starts when the previous one returned.

A workload sets up (inputs from the seed, tables, one warm-up of every
timed operation), measures for ctx.seconds, checks every output it
produced, and returns a Result. Failures (an exception or a failed check)
count against `attempted` and the run carries on.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

BASE_LEVEL = 12


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    settings: dict
    session_s: float
    t_start: float
    cpu_s: object
    ticks: object
    tracer: object = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def attempt(self, what: str, fn, *args):
        """Run fn(*args) as one attempted operation; an exception counts
        as a failure and yields None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a failing operation must not stop the run
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            print(self.errors[-1], file=sys.stderr)
            return None


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """(value, percentile) of the highest whole percentile with at least 10
    samples beyond it; (None, None) when that percentile is not above the
    median (fewer than 21 samples)."""
    n = len(values)
    p = int(100 * (n - 10) / n) if n > 10 else 0
    while p > 50 and n - int(np.ceil(p / 100 * n)) < 10:
        p -= 1
    if p <= 50:
        return None, None
    return float(np.percentile(sorted(values), p)), p


def tail_ms(values: list[float]) -> tuple[float | None, str]:
    """The tail as an e2e_report entry: (ms or None, unit with percentile and
    sample count)."""
    t, p = tail(values)
    if t is None:
        return None, f"ms (n={len(values)})"
    return t * 1e3, f"ms (p{p}, n={len(values)})"


def timing_summary(name: str, values: list[float]) -> dict:
    t, p = tail(values)
    return {
        f"{name}_n": len(values),
        f"{name}_p50_ms": statistics.median(values) * 1e3 if values else None,
        f"{name}_tail_ms": None if t is None else t * 1e3,
        f"{name}_tail_pct": p,
    }


def dir_bytes(path: str) -> int:
    return sum(file_sizes([path]).values())


def file_sizes(paths: list[str]) -> dict[str, int]:
    """path -> size of every file under the given directories."""
    out = {}
    for top in paths:
        for root, _dirs, files in os.walk(top):
            for f in files:
                q = os.path.join(root, f)
                out[q] = os.path.getsize(q)
    return out


def snapshot_bytes(path: str) -> int:
    from coords_spark.sources.icepick import IcepickTable

    t = IcepickTable(path)
    return sum(os.path.getsize(p) for p in t.data_paths())


def warm_page_cache(path: str) -> None:
    for root, _dirs, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def start_tracer(ctx: Context):
    """Traced runs only: wrap the layer boundaries before setup so setup
    spans (session excluded) land in the trace too."""
    if not ctx.trace:
        return None
    import spans

    ctx.tracer = spans.Tracer(ctx.spark)
    spans.install(ctx.tracer)
    return ctx.tracer


class Clock:
    """Measured-phase clock. Each operation is timed on its own, wall and
    process-tree CPU (JIT compiler threads out and in), so the checks
    between operations are not charged to it. `last_ref` names the
    operation just run: in an untraced run its own Spark job group, in a
    traced run its tracer op id."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.t0 = time.perf_counter()
        self.ops = 0
        self.walls: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}
        self.jits: dict[str, list[float]] = {}
        self.steal: dict[str, list[float]] = {}  # machine steal share per op
        self.controls: list[Op] = []
        self.last_ref = None

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def run(self, name: str, res: Result, fn, *args):
        """One timed operation through res.attempt; only a successful one
        adds its wall and CPU seconds under `name`."""
        self.ops += 1
        if self.ctx.tracer is not None:
            span = self.ctx.tracer.op(name)
            self.last_ref = self.ctx.tracer.op_id
        else:
            self.last_ref = f"op-{self.ops}"
            span = _job_group(self.ctx.spark, self.last_ref)
        cpu = self.ctx.cpu_s
        c0, j0, k0 = cpu(), cpu.jit_s(), self.ctx.ticks()
        with span:
            t0 = time.perf_counter()
            out = res.attempt(name, fn, *args)
            dt = time.perf_counter() - t0
        if out is not None:
            self.walls.setdefault(name, []).append(dt)
            self.cpus.setdefault(name, []).append(cpu() - c0)
            self.jits.setdefault(name, []).append(cpu.jit_s() - j0)
            d = [b - a for a, b in zip(k0, self.ctx.ticks())]
            self.steal.setdefault(name, []).append(round(d[7] / max(sum(d[:8]), 1), 4))
        return out

    def control(self) -> None:
        """Time one control_job; it is not an operation (no job group of
        its own, no span)."""
        cpu = self.ctx.cpu_s
        c0, t0 = cpu(), time.perf_counter()
        control_job(self.ctx.spark)
        self.controls.append(Op(time.perf_counter() - t0, cpu() - c0))

    def last(self, name: str) -> "Op":
        """Wall, CPU and JIT seconds of the last successful `name`."""
        return Op(self.walls[name][-1], self.cpus[name][-1], self.jits[name][-1])


@dataclass
class Op:
    """Seconds of one primary operation, summed over the timed calls it is
    made of: wall, process-tree CPU without the JIT compiler threads, and
    the JIT threads' CPU."""

    wall: float = 0.0
    cpu: float = 0.0
    jit: float = 0.0

    def __iadd__(self, o: "Op") -> "Op":
        self.wall, self.cpu, self.jit = self.wall + o.wall, self.cpu + o.cpu, self.jit + o.jit
        return self


def op_report(ops: list[Op], controls: list[Op]) -> dict:
    """The e2e_report's entries about the primary operation: wall and CPU
    time, medians over the run, in ms and relative to the control job."""
    wall = statistics.median(o.wall for o in ops)
    cpu = statistics.median(o.cpu for o in ops)
    return {
        "op_p50_ms": (wall * 1e3, "ms"),
        "op_rel": (wall / statistics.median(c.wall for c in controls), "ratio"),
        "cpu_ms_per_op": (cpu * 1e3, "ms"),
        "cpu_ms_per_op_with_jit": (statistics.median(o.cpu + o.jit for o in ops) * 1e3, "ms"),
        "cpu_rel": (cpu / statistics.median(c.cpu for c in controls), "ratio"),
    }


def control_job(spark) -> None:
    """A fixed Spark job that runs none of the engine's code: JVM hashing
    and aggregation over 4 partitions, then arithmetic in the Python
    workers. Other tenants of the host move its speed, and every
    operation's, by up to 1.7x within an hour; the workloads run it before
    every primary operation, and the *_rel metrics divide by it."""
    spark.range(0, 4_000_000, numPartitions=4).selectExpr("sum(hash(id) % 7)").collect()
    spark.sparkContext.parallelize(range(4), 4).map(
        lambda i: sum(x * x % 7 for x in range(150_000))).collect()


@contextlib.contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def end_metrics(ctx: Context, setup_s: float, ops: list[Op], op_refs: list[list],
                controls: list[Op], write_amp: float, space_amp: float) -> dict:
    """The end-to-end metrics BENCHMARK.json gates on, alike for every
    workload: set-up time; the median wall time of one primary operation
    and its median process-tree CPU time (JIT compiler threads left out)
    relative to the control job's; its Spark jobs and stages, each entry of
    `op_refs` holding one operation's job groups; bytes written per byte
    of user data; bytes on disk per byte of the current snapshot. run.py
    adds peak_rss_mb."""
    import spans

    counts = [spans.group_counts(ctx.spark.sparkContext, refs) for refs in op_refs]
    rep = op_report(ops, controls)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": rep["op_p50_ms"],
        "cpu_rel": rep["cpu_rel"],
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
        "jobs_per_op": (float(statistics.median(j for j, _ in counts)), "count"),
        "stages_per_op": (float(statistics.median(st for _, st in counts)), "count"),
    }


def setup_seconds(ctx: Context, res: Result, warmup_s: float) -> float:
    """Set-up time: process start to the first timed operation."""
    setup_s = time.perf_counter() - ctx.t_start
    res.context.update({"session_s": ctx.session_s, "warmup_s": warmup_s, "setup_s": setup_s})
    return setup_s


def _minicoords():
    """The independent scalar reference in tests/oracle/minicoords.py."""
    tests = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from oracle import minicoords

    return minicoords


# ==========================================================================
# point_chunking
# ==========================================================================


def _build_points_table(spark, points_dir: str, out: str, s: dict):
    """One full bulk build; returns (wall_s, split_s, split_set)."""
    from pyspark.sql import functions as F

    from coords_spark.operators import ingest, tiling

    t0 = time.perf_counter()
    raw = spark.read.parquet(points_dir).select("image_id", "phash")
    pts = ingest.with_anchor_cell(raw, BASE_LEVEL).withColumn(
        "nbytes", F.lit(s["nbytes_per_row"]).cast("long")
    )
    split = tiling.compute_split_set(pts, max_bytes=s["max_bytes"], base_level=BASE_LEVEL)
    t_split = time.perf_counter() - t0
    chunked = ingest.with_anchor_cell_chunk(raw, split, BASE_LEVEL)
    tiling.materialize_chunk_table(chunked, out, group_level=s["group_level"])
    return time.perf_counter() - t0, t_split, np.asarray(split, dtype=np.int64)


def _oracle_split_set(pts: dict, s: dict) -> set[tuple[int, int, int]]:
    """The split set as (level, x, y) keys, from the generator's own
    anchors: a node splits iff its subtree bytes exceed max_bytes."""
    M = _minicoords()

    ux = (pts["lon"] * 1e-7 + 180.0) / 360.0
    latc = np.clip(pts["lat"] * 1e-7, -M.MAX_LAT, M.MAX_LAT)
    sn = np.sin(np.radians(latc))
    uy = 0.5 - np.log((1.0 + sn) / (1.0 - sn)) / (4.0 * np.pi)
    eps = 2.220446049250313e-16
    gx = np.minimum((np.clip(ux, 0, 1 - eps) * M.GRID).astype(np.int64), M.GRID - 1)
    gy = np.minimum((np.clip(uy, 0, 1 - eps) * M.GRID).astype(np.int64), M.GRID - 1)
    out = set()
    for lv in range(BASE_LEVEL + 1):
        sh = M.MAX_LEVEL - lv
        keys, cnt = np.unique((gx >> sh) * (1 << 30) + (gy >> sh), return_counts=True)
        big = keys[cnt * s["nbytes_per_row"] > s["max_bytes"]]
        out.update((lv, int(k) >> 30, int(k) & ((1 << 30) - 1)) for k in big)
    return out


def _cell_key(cell: int) -> tuple[int, int, int]:
    """cell id -> (level, x, y) by a plain bit loop."""
    lv = cell & 63
    z = cell >> 6
    x = y = 0
    for b in range(lv):
        x |= ((z >> (2 * b)) & 1) << b
        y |= ((z >> (2 * b + 1)) & 1) << b
    return lv, x, y


def _check_build(res: Result, rng, pts: dict, out: str, split, ref_split, oracle_split) -> None:
    M = _minicoords()

    from coords_spark.sources.icepick import IcepickTable

    tbl = pq.ParquetDataset(IcepickTable(out).data_paths()).read(
        columns=["image_id", "phash", "lat", "lon", "chunk_id"]
    )
    res.check(tbl.num_rows == pts["idx"].size, "point_chunking: row count")
    keysum = int(np.sum(tbl.column("phash").to_numpy() % 1_000_003))
    res.check(keysum == int(np.sum(pts["phash"] % 1_000_003)), "point_chunking: key sum")
    if ref_split is None:
        res.check(
            {_cell_key(int(c)) for c in split} == oracle_split,
            "point_chunking: split set vs oracle rollup",
        )
    else:
        res.check(np.array_equal(split, ref_split), "point_chunking: split set repeats")
    splits = {int(c) for c in split}
    ids = tbl.column("image_id").to_pylist()
    lat = tbl.column("lat").to_numpy()
    lon = tbl.column("lon").to_numpy()
    chunk = tbl.column("chunk_id").to_numpy()
    ok = True
    for i in rng.integers(0, tbl.num_rows, size=200):
        j = int(ids[i][3:])
        ok &= (int(lat[i]), int(lon[i])) == (int(pts["lat"][j]), int(pts["lon"][j]))
        gx, gy = M.grid_xy(int(lat[i]), int(lon[i]))
        want = M.assign_chunk(M.cell_id(gx, gy, BASE_LEVEL), splits, BASE_LEVEL)
        ok &= int(chunk[i]) == want
    res.check(bool(ok), "point_chunking: sampled chunks vs minicoords")


def point_chunking(ctx: Context) -> Result:
    import layers

    s = ctx.settings
    res = Result()
    tracer = start_tracer(ctx)
    rng = gen.rng_for(ctx.seed, 1)
    pts = gen.gen_points(gen.rng_for(ctx.seed, 1), s["rows"])
    points_dir = os.path.join(ctx.work, "points")
    in_bytes = gen.write_points(pts, points_dir, s["input_files"])
    warm_page_cache(points_dir)
    oracle_split = _oracle_split_set(pts, s)
    # full-size warm-up builds: the Python workers start and the JVM
    # compiles the build's hot paths; the first timed build can still be
    # slower, which the medians over the builds absorb
    t0 = time.perf_counter()
    for i in range(s["warmup_builds"]):
        warm = os.path.join(ctx.work, f"warm-{i}")
        _build_points_table(ctx.spark, points_dir, warm, s)
        shutil.rmtree(warm)
    control_job(ctx.spark)
    setup_s = setup_seconds(ctx, res, time.perf_counter() - t0)

    splits_s, written, spaces, refs, ops = [], [], [], [], []
    ref_split = None
    clock = Clock(ctx)
    while clock.ops < s["min_builds"] or clock.elapsed() < ctx.seconds:
        clock.control()
        out = os.path.join(ctx.work, f"build-{clock.ops}")
        r = clock.run("build", res, _build_points_table, ctx.spark, points_dir, out, s)
        if r is None:
            continue
        refs.append([clock.last_ref])
        ops.append(clock.last("build"))
        _wall, t_split, split = r
        splits_s.append(t_split)
        written.append(dir_bytes(out))
        spaces.append(dir_bytes(out) / max(snapshot_bytes(out), 1))
        files_live = len(_files(out))
        res.attempt("point_chunking: check", _check_build, res, rng, pts, out, split,
                    ref_split, oracle_split)
        ref_split = split if ref_split is None else ref_split
        shutil.rmtree(out, ignore_errors=True)
    walls = [o.wall for o in ops]
    n = s["rows"]
    write_amp, space_amp = statistics.median(written) / in_bytes, statistics.median(spaces)
    res.context.update(
        timing_summary("build", walls)
        | timing_summary("split", splits_s)
        | {"build_s": walls, "rows": n, "input_bytes": in_bytes, "cpu_s_tree": ctx.cpu_s(),
           "measured_s": clock.elapsed(), "op_steal_share": clock.steal,
           "control_s": [c.wall for c in clock.controls],
           "op_p50_ms": statistics.median(walls) * 1e3,
           "e2e_report": {
               "setup_s": (setup_s, "s"),
               "build_rows_per_s": (statistics.median(n / w for w in walls), "rows/s"),
               **op_report(ops, clock.controls),
               "write_amp": (write_amp, "ratio"),
               "space_amp": (space_amp, "ratio"),
           },
           "errors": res.errors[:5]}
    )
    if tracer is None:
        res.metrics = end_metrics(ctx, setup_s, ops, refs, clock.controls, write_amp,
                                  space_amp)
    else:
        res.metrics = layers.metrics(ctx, "point_chunking", walls, refs,
                                     user_bytes=in_bytes * len(walls), written=sum(written),
                                     extra={"files_live": files_live})
    return res


# ==========================================================================
# viewport_read
# ==========================================================================


def _build_way_table(spark, path_in: str, out: str) -> None:
    """bench.py's pyramid-world chunk table: way geometry with anchor
    lat/lon columns, split-set chunked and materialized by way_id."""
    from pyspark.sql import functions as F

    from coords_spark.operators import geometry, tiling

    ways = spark.read.parquet(path_in)
    g = geometry.with_geometry_cell(geometry.with_envelope(ways)).withColumn(
        "nbytes", (F.size("pts") * 8 + 64).cast("long")
    )
    split = tiling.compute_split_set(g, max_bytes=64 * 1024)
    rows = tiling.with_chunk(g, split).select(
        "way_id", "cell", "chunk_id", "pts",
        F.expr("pts[0].lat").alias("lat"), F.expr("pts[0].lon").alias("lon"),
    )
    tiling.materialize_chunk_table(rows, out, key_col="way_id")


def _fetch(spark, table: str, bbox, zoom: int):
    from coords_spark.operators import ingest

    return ingest.render_read(spark, table, bbox, zoom).select(
        "image_id", "lat", "lon", "chunk_id"
    ).toArrow()


def _tiles(spark, table: str, bbox):
    from coords_spark.operators import render

    return render.render_tile_images(spark, table, bbox, zoom=12).toArrow()


def _expected_tile_crc(way_pts, bbox, tx: int, ty: int, zoom: int = 12, tp: int = 256) -> int:
    """Mask crc of one tile from the generator's polylines through the
    scalar pixel rule: ways whose first point lies in the bbox, every full
    segment in tile-local pixels."""
    M = _minicoords()

    from coords_spark.kernels import raster

    lat0, lon0, lat1, lon1 = bbox
    scale = tp << zoom
    segs = []
    for la, lo in way_pts:
        if not (lat0 <= la[0] <= lat1 and lon0 <= lo[0] <= lon1):
            continue
        px = []
        for a, b in zip(la, lo):
            ux, uy = M.mercator_unit(int(a), int(b))
            px.append((min(int(ux * scale), scale - 1), min(int(uy * scale), scale - 1)))
        for (x0, y0), (x1, y1) in zip(px[:-1], px[1:]):
            if max(x0, x1) < tx * tp or min(x0, x1) >= (tx + 1) * tp:
                continue
            if max(y0, y1) < ty * tp or min(y0, y1) >= (ty + 1) * tp:
                continue
            segs.append((x0 - tx * tp, y0 - ty * tp, x1 - tx * tp, y1 - ty * tp))
    if not segs:
        return zlib.crc32(np.zeros((tp, tp), np.uint8).tobytes())
    a = np.array(segs, dtype=np.int64)
    img = raster.rasterize_segments_scalar(a[:, 0], a[:, 1], a[:, 2], a[:, 3], tp, tp)
    return zlib.crc32(img.tobytes())


def viewport_read(ctx: Context) -> Result:
    import layers

    s = ctx.settings
    res = Result()
    tracer = start_tracer(ctx)
    pts = gen.gen_points(gen.rng_for(ctx.seed, 2), s["point_rows"])
    points_dir = os.path.join(ctx.work, "points")
    gen.write_points(pts, points_dir, s["point_files"])
    point_table = os.path.join(ctx.work, "point_table")
    _build_points_table(ctx.spark, points_dir, point_table, {
        "nbytes_per_row": 4096, "max_bytes": 4 << 20, "group_level": 1})
    wrng = gen.rng_for(ctx.seed, 3)
    way_pts, centres = gen.gen_street_ways(wrng, s["way_clusters"],
                                           s["street_ways"] // s["way_clusters"],
                                           spread=0.05, step=0.002)
    ways_in = os.path.join(ctx.work, "ways", "ways.parquet")
    gen.write_way_geometry(way_pts, ways_in)
    way_table = os.path.join(ctx.work, "way_table")
    _build_way_table(ctx.spark, ways_in, way_table)
    tables = (point_table, way_table)
    for t in tables:
        warm_page_cache(t)
    # the only writes of this workload are the two set-up builds
    write_amp = sum(map(dir_bytes, tables)) / (dir_bytes(points_dir) + os.path.getsize(ways_in))

    qrng = gen.rng_for(ctx.seed, 4)
    fetches = gen.gen_viewports(qrng, pts, s["rounds"])
    tiles = gen.gen_tile_viewports(qrng, centres, way_pts, s["rounds"], zoom=12,
                                   tiles_across=2)
    per_round = len(gen.VIEWPORTS)

    # warm-up rounds take their viewports from the end of the lists; the
    # timed rounds start at the front
    t0 = time.perf_counter()
    w = s["warmup_rounds"]
    for _kind, bbox, zoom in fetches[-w * per_round:]:
        _fetch(ctx.spark, point_table, bbox, zoom)
    for bbox in tiles[-w:]:
        _tiles(ctx.spark, way_table, bbox)
    control_job(ctx.spark)
    setup_s = setup_seconds(ctx, res, time.perf_counter() - t0)

    # one operation is a round: a street, a city and a region row fetch,
    # then one tile render, so every operation holds the same mix
    fetched, useful, ops, refs = 0, [], [], []
    crng = gen.rng_for(ctx.seed, 5)
    clock = Clock(ctx)
    r = 0
    while (r < s["min_rounds"] or clock.elapsed() < ctx.seconds) and r < s["rounds"] - w:
        clock.control()
        op, round_refs = Op(), []
        for vkind, bbox, zoom in fetches[r * per_round:(r + 1) * per_round]:
            tbl = clock.run("fetch", res, _fetch, ctx.spark, point_table, bbox, zoom)
            if tbl is None:
                continue
            op += clock.last("fetch")
            round_refs.append(clock.last_ref)
            fetched += tbl.num_rows
            if ctx.tracer is not None:
                lat0, lon0, lat1, lon1 = bbox
                useful.append(useful_files(ctx.tracer, lambda t: (
                    pc.greater_equal(t["lat"], lat0).to_numpy(zero_copy_only=False)
                    & pc.less_equal(t["lat"], lat1).to_numpy(zero_copy_only=False)
                    & pc.greater_equal(t["lon"], lon0).to_numpy(zero_copy_only=False)
                    & pc.less_equal(t["lon"], lon1).to_numpy(zero_copy_only=False))))
            res.check(tbl.num_rows == gen.count_in_bbox(pts, bbox),
                      f"viewport_read: {vkind} row count")
        bbox = tiles[r]
        r += 1
        tbl = clock.run("tile", res, _tiles, ctx.spark, way_table, bbox)
        if tbl is None:
            continue
        op += clock.last("tile")
        round_refs.append(clock.last_ref)
        if len(round_refs) == per_round + 1:
            ops.append(op)
            refs.append(round_refs)
        if tbl.num_rows == 0:
            res.check(False, "viewport_read: tile render returned no tiles")
            continue
        i = int(crng.integers(tbl.num_rows))
        tx, ty = int(tbl.column("tile_x")[i].as_py()), int(tbl.column("tile_y")[i].as_py())
        want = _expected_tile_crc(way_pts, bbox, tx, ty)
        res.check(int(tbl.column("px_crc")[i].as_py()) == want,
                  "viewport_read: tile mask vs scalar raster")
    fetch_s, tile_s = clock.walls.get("fetch", []), clock.walls.get("tile", [])
    round_s = [o.wall for o in ops]
    space = sum(map(dir_bytes, tables)) / sum(map(snapshot_bytes, tables))
    res.context.update(
        timing_summary("round", round_s) | timing_summary("fetch", fetch_s)
        | timing_summary("tile", tile_s)
        | {"round_s": round_s, "fetch_s": fetch_s, "tile_s": tile_s, "rows_fetched": fetched,
           "point_table_files": len(_files(point_table)),
           "way_table_files": len(_files(way_table)), "cpu_s_tree": ctx.cpu_s(),
           "measured_s": clock.elapsed(), "op_steal_share": clock.steal,
           "control_s": [c.wall for c in clock.controls],
           "op_p50_ms": statistics.median(round_s) * 1e3,
           "e2e_report": {
               "setup_s": (setup_s, "s"),
               "read_p50_ms": (statistics.median(fetch_s) * 1e3, "ms"),
               "read_tail_ms": tail_ms(fetch_s),
               "tile_p50_ms": (statistics.median(tile_s) * 1e3, "ms"),
               "tile_tail_ms": tail_ms(tile_s),
               **op_report(ops, clock.controls),
               "write_amp": (write_amp, "ratio"),
               "space_amp": (space, "ratio"),
           },
           "errors": res.errors[:5]}
    )
    if tracer is None:
        res.metrics = end_metrics(ctx, setup_s, ops, refs, clock.controls, write_amp, space)
    else:
        res.metrics = layers.metrics(
            ctx, "viewport_read", round_s, refs, user_bytes=0, written=0,
            extra={"useful_file_ratio": sum(u for u, _ in useful) / max(sum(n for _, n in useful), 1),
                   "files_live": sum(len(_files(t)) for t in tables)},
        )
    return res


def _files(table: str) -> list[str]:
    from coords_spark.sources.icepick import IcepickTable

    return IcepickTable(table).data_paths()


# ==========================================================================
# diff_stream
# ==========================================================================

class _Paths:
    def __init__(self, root: str):
        self.nodes = os.path.join(root, "store_nodes")
        self.ways = os.path.join(root, "store_ways")
        self.rels = os.path.join(root, "store_rels")
        self.rindex = os.path.join(root, "rindex_nw")
        self.way_table = os.path.join(root, "waychunks")
        self.dirty = os.path.join(root, "dirty")

    def maintained(self) -> list[str]:
        from coords_spark.streaming.update_stream import _maintained_paths

        return _maintained_paths(self.nodes, self.ways, self.rels, self.way_table,
                                 None, self.dirty, self.rindex, None)

    def tables(self) -> list[str]:
        return [p for p in self.maintained() if p is not None and os.path.isdir(p)]


def _import_world(spark, pbf: str, p: _Paths) -> None:
    """Setup: the .osm.pbf world -> entity stores, the node->way reverse
    index and the way chunk table (the shapes tests/test_odiff.py uses).
    No relation chunk table: it made every batch ~1.4x dearer, more than
    the run budget holds; relation diffs still reach the relation store."""
    from pyspark.sql import functions as F

    from coords_spark.operators import entity_store as ES
    from coords_spark.operators import geometry, resolve, tiling, update
    from coords_spark.operators import rindex as RI
    from coords_spark.sources import osmpbf

    nodes = osmpbf.read_osmpbf(spark, pbf, osmpbf.KIND_NODES).localCheckpoint()
    ways = osmpbf.read_osmpbf(spark, pbf, osmpbf.KIND_WAYS).localCheckpoint()
    rels = osmpbf.read_osmpbf(spark, pbf, osmpbf.KIND_RELATIONS).localCheckpoint()
    ES.build_entity_store(nodes, p.nodes, id_shift=6)
    ES.build_entity_store(ways, p.ways, id_shift=3)
    ES.build_entity_store(rels, p.rels, id_shift=2)
    RI.build_rindex_store(spark, ways.select("id", "refs"), p.rindex, id_shift=6)
    g = geometry.with_geometry_cell(
        geometry.with_envelope(resolve.resolve_ways(ways, nodes))
    ).withColumn("nbytes", (F.size("pts") * 8 + 64).cast("long"))
    split = tiling.compute_split_set(g, max_bytes=4 * 1024, base_level=BASE_LEVEL)
    update.build_way_chunk_table(spark, nodes, ways, p.way_table, split, locator_id_shift=3)


def _apply_batch(spark, path: str, p: _Paths, group: str) -> dict:
    from coords_spark.sources import osc
    from coords_spark.streaming import update_stream as US

    df = osc.read_osc(spark, path)
    return US.apply_diff_batch(
        spark, df, p.nodes, p.ways, p.rels, p.way_table, None, group=group,
        dirty_table=p.dirty, rindex_store=p.rindex,
    )


def _maintain(spark, p: _Paths, group: str) -> dict:
    from coords_spark.streaming import update_stream as US

    return US.maintain_tables(spark, p.maintained(), group=group, keep_n=2)


def _content_sums(p: _Paths) -> dict:
    """Per table: row count and a column-wise checksum of its current
    snapshot (maintenance must leave both unchanged)."""
    import pyarrow as pa

    out = {}
    for t in p.tables():
        paths = _files(t)
        if not paths:
            out[t] = (0, 0)
            continue
        tbl = pq.ParquetDataset(paths).read()
        h = 0
        for name in sorted(tbl.column_names):
            col = tbl.column(name).combine_chunks()
            if pa.types.is_integer(col.type):
                h += int(np.sum(col.to_numpy(zero_copy_only=False).astype(np.int64) % 1_000_003))
            else:
                h += sum(zlib.crc32(repr(v).encode()) for v in col.to_pylist())
        out[t] = (tbl.num_rows, h)
    return out


def _way_chunks(world: "gen.OsmWorld", splits: set, base_level: int) -> dict:
    """way_id -> chunk_id of the current world, through minicoords."""
    M = _minicoords()

    out = {}
    for wid in world.ways:
        cell = M.way_envelope_cell(world.way_pts(wid))
        out[wid] = M.assign_chunk(cell, splits, base_level)
    return out


def _read_range(spark, table: str, lo: int, hi: int):
    from coords_spark.operators import ingest

    return ingest.read_chunk_table(spark, table, lo, hi).select("way_id", "chunk_id").toArrow()


def _final_checks(res: Result, spark, p: _Paths, world: "gen.OsmWorld") -> None:
    """Stores equal the dict-applied world; the way chunk table equals a
    from-scratch build_way_chunk_table on that world."""
    from coords_spark.operators import entity_store as ES
    from coords_spark.operators import update

    got = {
        r["id"]: (r["version"], r["lat"], r["lon"])
        for r in ES.read_entity_store(spark, p.nodes).select("id", "version", "lat", "lon").collect()
    }
    res.check(got == world.nodes, "diff_stream: node store vs world")
    got = {
        r["id"]: (r["version"], list(r["refs"]))
        for r in ES.read_entity_store(spark, p.ways).select("id", "version", "refs").collect()
    }
    res.check(got == world.ways, "diff_stream: way store vs world")
    got = {
        r["id"]: (r["version"], [(m["mtype"], m["ref"], m["role"]) for m in r["members"]])
        for r in ES.read_entity_store(spark, p.rels).select("id", "version", "members").collect()
    }
    res.check(got == world.rels, "diff_stream: relation store vs world")

    nodes_t, ways_t, _ = world.tables()
    split, bl = update.load_split_set(p.way_table)
    scratch = os.path.join(os.path.dirname(p.way_table), "scratch_way")
    update.build_way_chunk_table(
        spark, spark.createDataFrame(nodes_t), spark.createDataFrame(ways_t), scratch, split,
        base_level=bl,
    )

    def rows(t):
        return sorted(
            tuple(r) for r in spark.read.parquet(*_files(t))
            .selectExpr("way_id", "chunk_id", "to_json(pts)").collect()
        )

    res.check(rows(p.way_table) == rows(scratch), "diff_stream: way table vs scratch build")


def diff_stream(ctx: Context) -> Result:
    import layers

    from coords_spark.operators import update
    from coords_spark.sources import osc, osmpbf
    from coords_spark.sources.icepick import IcepickTable

    s = ctx.settings
    res = Result()
    tracer = start_tracer(ctx)
    root = os.path.join(ctx.work, "world")
    grng = gen.rng_for(ctx.seed, 6)
    world = gen.gen_osm_world(grng, s["clusters"], s["streets_per_cluster"],
                              s["relations_per_cluster"])
    base_world = gen.OsmWorld()
    base_world.__dict__.update({k: dict(v) if isinstance(v, dict) else v
                                for k, v in world.__dict__.items()})
    pbf = os.path.join(root, "world.osm.pbf")
    osmpbf.write_osmpbf(pbf, *world.tables())
    diff_dir = os.path.join(root, "diffs")
    os.makedirs(diff_dir)
    diffs = []
    for b in range(1 + s["measured_batches"]):  # batch 0 is the warm-up
        rows = gen.gen_diff_batch(grng, world, s["moves_per_batch"])
        f = os.path.join(diff_dir, f"{b:06d}.osc.gz")
        osc.write_osc(f, rows)
        diffs.append(f)
    warm_page_cache(root)
    p = _Paths(root)
    _import_world(ctx.spark, pbf, p)
    # the generator advanced `world` through every batch; replay from the
    # base so the reference tracks what has actually been applied
    world = base_world
    batches_rows = [osc.parse_osc_bytes(_gunzip(f)) for f in diffs]

    split, bl = update.load_split_set(p.way_table)
    split_set = {int(c) for c in split}
    rrng = gen.rng_for(ctx.seed, 7)

    def reads(model):
        chunks = np.array(sorted(set(model.values())), dtype=np.int64)
        out = []
        for _ in range(s["reads_per_batch"]):
            i = int(rrng.integers(chunks.size))
            j = min(chunks.size - 1, i + int(rrng.integers(0, 4)))
            out.append((int(chunks[i]), int(chunks[j])))
        return out

    def expected(model, lo, hi):
        return sum(1 for c in model.values() if lo <= c <= hi)

    # warm-up: batch 0, its maintenance and reads, before timing
    t0 = time.perf_counter()
    _apply_batch(ctx.spark, diffs[0], p, "diff-0")
    world.apply(batches_rows[0])
    _maintain(ctx.spark, p, "maint-warm")
    model = _way_chunks(world, split_set, bl)
    for lo, hi in reads(model):
        _read_range(ctx.spark, p.way_table, lo, hi)
    control_job(ctx.spark)
    setup_s = setup_seconds(ctx, res, time.perf_counter() - t0)

    # one operation is a batch and the maintenance after it, as the stream
    # sink runs them with maintenance every batch; a fixed number of them,
    # so what a run measures does not depend on how fast batches are
    rows_applied, osc_bytes, added, useful = 0, 0, 0, []
    ops: list[Op] = []
    refs: list[list] = []
    dirty0 = IcepickTable(p.dirty).total_rows()
    clock = Clock(ctx)
    for b in range(1, len(diffs)):
        clock.control()
        before = file_sizes(p.tables())
        ok = clock.run("batch", res, _apply_batch, ctx.spark, diffs[b], p, f"diff-{b}") is not None
        op = clock.last("batch") if ok else Op()
        op_refs = [clock.last_ref]
        sums = _content_sums(p)
        ok &= clock.run("maint", res, _maintain, ctx.spark, p, f"maint-{b}") is not None
        if ok:
            op += clock.last("maint")
        op_refs.append(clock.last_ref)
        res.check(_content_sums(p) == sums, "diff_stream: content sums across maintain")
        if ok:
            ops.append(op)
            refs.append(op_refs)
            rows_applied += len(batches_rows[b])
            osc_bytes += len(_gunzip(diffs[b]))
            added += sum(n for f, n in file_sizes(p.tables()).items() if before.get(f) != n)
        world.apply(batches_rows[b])
        model = _way_chunks(world, split_set, bl)
        for lo, hi in reads(model):
            tbl = clock.run("read", res, _read_range, ctx.spark, p.way_table, lo, hi)
            if tbl is None:
                continue
            res.check(tbl.num_rows == expected(model, lo, hi), "diff_stream: read row count")
            if ctx.tracer is not None:
                useful.append(useful_files(ctx.tracer, lambda t, lo=lo, hi=hi: (
                    pc.greater_equal(t["chunk_id"], lo).to_numpy(zero_copy_only=False)
                    & pc.less_equal(t["chunk_id"], hi).to_numpy(zero_copy_only=False))))
    read_s = clock.walls.get("read", [])
    batch_s = [o.wall for o in ops]
    measured = clock.elapsed()
    # reads write nothing, so this is the state right after the last maintenance
    space = sum(dir_bytes(t) for t in p.tables()) / max(
        sum(snapshot_bytes(t) for t in p.tables()), 1)
    write_amp = added / osc_bytes
    res.attempt("diff_stream: final checks", _final_checks, res, ctx.spark, p, world)
    res.context.update(
        timing_summary("batch", batch_s) | timing_summary("read", read_s)
        | {"batches": len(batch_s), "batch_s": batch_s, "read_s": read_s,
           "diff_rows": rows_applied,
           "maint_s": clock.walls.get("maint", []), "osc_bytes": osc_bytes,
           "tables_files": sum(len(_files(t)) for t in p.tables()),
           "cpu_s_tree": ctx.cpu_s(), "measured_s": measured, "op_steal_share": clock.steal,
           "control_s": [c.wall for c in clock.controls],
           "op_p50_ms": statistics.median(batch_s) * 1e3,
           "e2e_report": {
               "setup_s": (setup_s, "s"),
               "batch_p50_ms": (statistics.median(batch_s) * 1e3, f"ms (n={len(batch_s)})"),
               "diff_rows_per_s": (rows_applied / sum(batch_s), "rows/s"),
               "read_p50_ms": (statistics.median(read_s) * 1e3, "ms"),
               "read_tail_ms": tail_ms(read_s),
               **op_report(ops, clock.controls),
               "write_amp": (write_amp, "ratio"),
               "space_amp": (space, "ratio"),
           },
           "errors": res.errors[:5]}
    )
    if tracer is None:
        res.metrics = end_metrics(ctx, setup_s, ops, refs, clock.controls, write_amp, space)
    else:
        res.metrics = layers.metrics(
            ctx, "diff_stream", batch_s, refs, user_bytes=osc_bytes, written=added,
            extra={
                "useful_file_ratio": sum(u for u, _ in useful) / max(sum(n for _, n in useful), 1),
                "dirty_tiles_per_batch": (IcepickTable(p.dirty).total_rows() - dirty0)
                / max(len(batch_s), 1),
                "files_live": res.context["tables_files"],
            },
        )
    return res


def _gunzip(path: str) -> bytes:
    import gzip

    with gzip.open(path, "rb") as f:
        return f.read()


# ==========================================================================
# traced-run helpers
# ==========================================================================


def useful_files(tracer, keep) -> tuple[int, int]:
    """(files holding a result row, files read) for the operation that
    just closed: `keep(arrow table) -> bool mask` is the read's predicate,
    applied to each planned file on its own."""
    paths = tracer.plan_paths(tracer.op_id)
    useful = sum(1 for p in paths if bool(np.any(keep(pq.read_table(p)))))
    return useful, len(paths)


WORKLOADS = {
    "point_chunking": point_chunking,
    "viewport_read": viewport_read,
    "diff_stream": diff_stream,
}
