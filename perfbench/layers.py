"""Per-layer metrics of a traced run, named after the engine's modules.

Span-derived metrics are medians over the measured operations (op id > 0)
of what each operation spent in spans of one name; set-up spans (op 0)
only feed osmpbf.read_ms. Kernel metrics time direct numpy calls on a
seeded sample shaped like the workload input, with Spark not involved.
Every traced run reports every metric; a layer a workload does not use
reads 0.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen
from workloads import BASE_LEVEL

UNITS = {
    "session.start_s": "s",
    "kernels.anchor_cell_rows_per_s": "rows/s",
    "kernels.assign_rows_per_s": "rows/s",
    "kernels.cover_ranges_ms": "ms",
    "kernels.raster_tiles_per_s": "tiles/s",
    "tiling.split_ms": "ms",
    "tiling.split_jobs": "count",
    "tiling.materialize_ms": "ms",
    "tiling.materialize_jobs": "count",
    "tiling.materialize_stages": "count",
    "ingest.render_read_plan_ms": "ms",
    "ingest.read_exec_ms": "ms",
    "render.tile_ms": "ms",
    "render.tile_jobs": "count",
    "render.dirty_ms": "ms",
    "render.dirty_jobs": "count",
    "render.dirty_tiles": "count",
    "icepick.commits": "count",
    "icepick.commit_ms": "ms",
    "icepick.files_added": "count",
    "icepick.bytes_added": "bytes",
    "icepick.plan_ms": "ms",
    "icepick.files_per_read": "count",
    "icepick.useful_file_ratio": "ratio",
    "icepick.compact_ms": "ms",
    "icepick.bytes_rewritten": "bytes",
    "icepick.expire_ms": "ms",
    "icepick.files_live": "count",
    "icepick.write_amp": "ratio",
    "entity_store.upsert_ms": "ms",
    "entity_store.upsert_jobs": "count",
    "entity_store.files_rewritten": "count",
    "update.apply_ms": "ms",
    "update.apply_jobs": "count",
    "update.rows_rewritten_per_changed": "ratio",
    "rindex.ms": "ms",
    "rindex.jobs": "count",
    "osc.read_ms": "ms",
    "osmpbf.read_ms": "ms",
    "update_stream.apply_self_ms": "ms",
    "update_stream.maintain_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "trace.op_p50_ms": "ms",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class _Ops:
    """Per measured operation: the spans under it, grouped by name."""

    def __init__(self, tracer, op_names):
        self.tr = tracer
        self.ops = [s for s in tracer.spans if s.parent is None and s.op > 0 and s.name in op_names]
        kids: dict = {}
        for s in tracer.spans:
            kids.setdefault(s.parent, []).append(s)
        self.under = {}
        for op in self.ops:
            acc, todo = [], list(kids.get(op.sid, ()))
            while todo:
                s = todo.pop()
                acc.append(s)
                todo.extend(kids.get(s.sid, ()))
            self.under[op.sid] = acc

    def per_op(self, names, fn, only_with=True) -> list[float]:
        """fn(spans of those names under one op) per op; ops without such
        spans are skipped when only_with."""
        names = (names,) if isinstance(names, str) else names
        out = []
        for op in self.ops:
            ss = [s for s in self.under[op.sid] if s.name in names]
            if ss or not only_with:
                out.append(fn(ss))
        return out

    def ms(self, names) -> float:
        return _med(self.per_op(names, lambda ss: sum(s.end - s.start for s in ss) * 1e3))

    def count(self, names, key) -> float:
        return _med(self.per_op(names, lambda ss: sum(self.tr.subtree_total(s, key) for s in ss)))

    def total(self, names, key) -> float:
        return sum(self.per_op(names, lambda ss: sum(s.counts.get(key, 0) for s in ss)))


def _kernels(seed: int) -> dict:
    """Direct numpy calls: the build kernels on 200k seeded points, the
    cover walk on city viewports, the raster kernel on seeded tiles."""
    from coords_spark.kernels import mercator, phash, raster, zcurve
    from coords_spark.operators import ingest, tiling

    rng = gen.rng_for(seed, 11)
    pts = gen.gen_points(rng, 200_000)

    def best(fn, reps=5):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    def anchor_cell():
        lat, lon = phash.anchor(pts["phash"])
        ux, uy = mercator.latlon_i32_to_unit(lat, lon)
        gx, gy = zcurve.unit_to_grid(ux, uy)
        return zcurve.cell_from_point(gx, gy, BASE_LEVEL)

    cells = anchor_cell().astype(np.int64)
    anc = [np.unique(zcurve.z_ancestor(cells, lv), return_counts=True) for lv in range(BASE_LEVEL + 1)]
    split = np.sort(np.concatenate([a[c * 4096 > (4 << 20)] for a, c in anc]))
    vps = [b for k, b, z in gen.gen_viewports(rng, pts, 40) if k == "city"]

    def cover():
        for lat0, lon0, lat1, lon1 in vps:
            gx0, gy0, gx1, gy1 = ingest.bbox_grid(lat0, lon0, lat1, lon1)
            zcurve.bbox_cover_ranges(gx0, gy0, gx1, gy1, 12, max_level=BASE_LEVEL)

    segs = [rng.integers(-20, 276, size=(60, 4)) for _ in range(200)]

    def rast():
        for a in segs:
            raster.rasterize_segments(a[:, 0], a[:, 1], a[:, 2], a[:, 3], 256, 256)

    return {
        "kernels.anchor_cell_rows_per_s": cells.size / best(anchor_cell),
        "kernels.assign_rows_per_s": cells.size
        / best(lambda: tiling.assign_chunks_np(cells, split, BASE_LEVEL)),
        "kernels.cover_ranges_ms": best(cover) * 1e3 / len(vps),
        "kernels.raster_tiles_per_s": len(segs) / best(rast),
    }


def metrics(ctx, workload: str, op_walls: list[float], op_refs: list[list[int]],
            user_bytes: int, written: int, extra: dict | None = None) -> dict:
    """`op_walls` and `op_refs` are the workload's primary operations: the
    wall time of each and the tracer op ids it is made of."""
    tr = ctx.tracer
    tr.resolve_spark_counts()
    op_names = {"point_chunking": ("build",), "viewport_read": ("fetch", "tile"),
                "diff_stream": ("batch", "maint", "read")}[workload]
    ops = _Ops(tr, op_names)
    tops = {s.op: s for s in ops.ops}

    def per_op(key):
        return _med(sum(tr.subtree_total(tops[i], key) for i in ids) for ids in op_refs)

    reads = _Ops(tr, ("fetch", "read"))
    tiles = _Ops(tr, ("tile",))
    batches = _Ops(tr, ("batch", "maint"))
    plan_names = ("ingest.render_read", "ingest.read_chunk_table")
    m = {
        "session.start_s": ctx.session_s,
        **_kernels(ctx.seed),
        "tiling.split_ms": ops.ms("tiling.compute_split_set"),
        "tiling.split_jobs": ops.count("tiling.compute_split_set", "jobs"),
        "tiling.materialize_ms": ops.ms("tiling.materialize_chunk_table"),
        "tiling.materialize_jobs": ops.count("tiling.materialize_chunk_table", "jobs"),
        "tiling.materialize_stages": ops.count("tiling.materialize_chunk_table", "stages"),
        "ingest.render_read_plan_ms": reads.ms(plan_names),
        "ingest.read_exec_ms": _med(tr.self_time(op) * 1e3 for op in reads.ops),
        "render.tile_ms": _med((op.end - op.start) * 1e3 for op in tiles.ops),
        "render.tile_jobs": _med(tr.subtree_total(op, "jobs") for op in tiles.ops),
        "render.dirty_ms": batches.ms("render.dirty_tiles"),
        "render.dirty_jobs": batches.count("render.dirty_tiles", "jobs"),
        "render.dirty_tiles": (extra or {}).get("dirty_tiles_per_batch", 0.0),
        "icepick.commits": ops.count("icepick.commit", "commits"),
        "icepick.commit_ms": ops.ms("icepick.commit"),
        "icepick.files_added": ops.count("icepick.commit", "files_added"),
        "icepick.bytes_added": ops.count("icepick.commit", "bytes_added"),
        "icepick.plan_ms": ops.ms("icepick.plan"),
        "icepick.files_per_read": reads.count("icepick.plan", "files"),
        "icepick.useful_file_ratio": (extra or {}).get("useful_file_ratio", 0.0),
        "icepick.compact_ms": batches.ms("icepick.compact"),
        "icepick.bytes_rewritten": batches.count("icepick.compact", "bytes_rewritten"),
        "icepick.expire_ms": batches.ms("icepick.expire"),
        "icepick.files_live": (extra or {}).get("files_live", 0.0),
        "icepick.write_amp": written / user_bytes if user_bytes else 0.0,
        "entity_store.upsert_ms": batches.ms("entity_store.upsert_entities"),
        "entity_store.upsert_jobs": batches.count("entity_store.upsert_entities", "jobs"),
        "entity_store.files_rewritten": batches.count("entity_store.upsert_entities",
                                                      "files_rewritten"),
        "update.apply_ms": batches.ms(("update.apply_way_diff", "update.apply_relation_diff")),
        "update.apply_jobs": batches.count(("update.apply_way_diff",
                                            "update.apply_relation_diff"), "jobs"),
        "update.rows_rewritten_per_changed": _ratio(
            batches.total(("update.apply_way_diff", "update.apply_relation_diff"), "rows_written"),
            batches.total(("update.apply_way_diff", "update.apply_relation_diff"), "changed"),
        ),
        "rindex.ms": batches.ms(("rindex.upsert_rindex", "rindex.rindex_lookup")),
        "rindex.jobs": batches.count(("rindex.upsert_rindex", "rindex.rindex_lookup"), "jobs"),
        "osc.read_ms": batches.ms("osc.read_osc"),
        "osmpbf.read_ms": sum((s.end - s.start) * 1e3 for s in tr.named("osmpbf.read_osmpbf")),
        "update_stream.apply_self_ms": _med(
            tr.self_time(s) * 1e3 for s in tr.named("update_stream.apply_diff_batch") if s.op > 0
        ),
        "update_stream.maintain_ms": batches.ms("update_stream.maintain_tables"),
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "trace.op_p50_ms": _med(op_walls) * 1e3,
    }
    return {k: (float(v), UNITS[k]) for k, v in m.items()}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0
