"""Traced-run tooling: span recorder, attribute wrappers, Spark job/stage
counts and icepick file/byte counts.

Only the traced run (--trace 1) installs the wrappers. They rebind public
module functions and IcepickTable methods inside the benchmark's own
process; no source file changes. Each span records its name, start, end,
parent and operation id, plus counts taken at the same boundary:

* Spark jobs and stages: every span runs under its own job group (the
  `spark.jobGroup.id` local property), so a job is charged to the
  innermost span that triggered it. Spark is lazy, so a function that
  returns a DataFrame without an action is charged nothing; its work lands
  on the span whose action runs it (see README.md "Lazy execution").
* Files and bytes added: icepick commit spans diff the manifest before and
  after and sum the new files' sizes.

Spans stay in memory and are written out once, by dump(), at the end.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "group", "counts", "paths")

    def __init__(self, sid, name, parent, op, group):
        self.sid, self.name, self.parent, self.op, self.group = sid, name, parent, op, group
        self.start = time.perf_counter()
        self.end = None
        self.counts: dict[str, float] = {}
        self.paths: list[str] | None = None  # files a planning span kept


class Tracer:
    """Collects spans for one process. `op(name)` opens a top-level
    operation span (the benchmark's own request/batch/build boundary);
    wrapped functions open child spans under whatever span is current."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op_id = 0
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(len(self.spans), name, parent, self.op_id, f"pb-{len(self.spans)}")
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()
        self.sc.setLocalProperty(
            "spark.jobGroup.id", self.stack[-1].group if self.stack else None
        )

    def op(self, name: str):
        self.op_id += 1
        return _SpanCtx(self, name)

    def span(self, name: str):
        return _SpanCtx(self, name)

    # -- wrappers ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Rebind owner.attr to a span-recording wrapper. `counter(args,
        kwargs)` runs before the call and returns a callable that, given
        the call's result, returns extra counts for the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            after = counter(args, kwargs) if counter else None
            sp = tracer._open(name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer._close(sp)
                if after:
                    extra = after(result)
                    sp.paths = extra.pop("_paths", None)
                    sp.counts.update(extra)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- counts --------------------------------------------------------------

    def resolve_spark_counts(self) -> None:
        """Charge Spark jobs and stages to spans by job group, once, after
        the listener bus has drained (job-start events are delivered
        asynchronously; counting before the drain would miss the last
        jobs)."""
        for sp in self.spans:
            sp.counts["jobs"], sp.counts["stages"] = group_counts(self.sc, [sp.group])

    # -- derived metrics ------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the intervals its child spans cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.sid and c.end is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def subtree_total(self, sp: Span, key: str) -> float:
        """A count summed over the span and every descendant."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        total, todo = 0.0, [sp]
        while todo:
            s = todo.pop()
            total += s.counts.get(key, 0)
            todo.extend(kids.get(s.sid, ()))
        return total

    def plan_paths(self, op_id: int) -> list[str]:
        """Files kept by the planning spans of one operation."""
        return [p for s in self.spans if s.op == op_id and s.paths for p in s.paths]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                            "start": s.start, "end": s.end,
                            "self_s": self.self_time(s) if s.end is not None else None,
                            **s.counts,
                        }
                    )
                    + "\n"
                )


def group_counts(sc, groups: list[str]) -> tuple[int, int]:
    """(jobs, stages) Spark ran under the given job groups. Job-start
    events reach the status tracker asynchronously, so the listener bus is
    drained first."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs, stages = 0, set()
    for g in groups:
        ids = tracker.getJobIdsForGroup(g)
        jobs += len(ids)
        for j in ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
    return jobs, len(stages)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def manifest_counter(args, kwargs):
    """For IcepickTable commit methods: manifest versions written, and the
    files and bytes the call added to the current manifest."""
    table = args[0]
    exists = table.exists()
    v0 = table.current_manifest()["version"] if exists else 0
    before = {e["path"] for e in table.files()} if exists else set()

    def after(_result):
        added = [e["path"] for e in table.files() if e["path"] not in before]
        return {
            "commits": table.current_manifest()["version"] - v0,
            "files_added": len(added),
            "bytes_added": sum(os.path.getsize(os.path.join(table.path, p)) for p in added),
        }

    return after


def rewrite_counter(args, kwargs):
    """For compact(): bytes of the files it replaced."""
    table = args[0]
    before = {e["path"] for e in table.files()} if table.exists() else set()

    def after(_result):
        gone = before - {e["path"] for e in table.files()}
        return {
            "bytes_rewritten": sum(
                os.path.getsize(os.path.join(table.path, p))
                for p in gone
                if os.path.exists(os.path.join(table.path, p))
            )
        }

    return after


def paths_counter(args, kwargs):
    """For IcepickTable.data_paths*: number of files the plan kept."""
    return lambda result: {"files": len(result or ()), "_paths": list(result or ())}


def rewrite_stats_counter(args, kwargs):
    """For the keyed rewrites (entity-store upserts, way/relation diffs):
    files replaced, rows written and entities changed, from the stats
    dict the operator returns."""

    def after(result):
        if not isinstance(result, dict):
            return {}
        changed = sum(
            v for k, v in result.items() if k.startswith("affected_") and isinstance(v, int)
        )
        return {
            "files_rewritten": result.get("files_replaced", 0),
            "rows_written": sum(e.get("rows", 0) for e in result.get("entries") or ()),
            "changed": changed,
        }

    return after


def install(tracer: Tracer) -> None:
    """Wrap the public functions and IcepickTable methods the per-layer
    metrics are read from (module attributes are rebound, so call sites
    that look the function up through its module at call time see the
    wrapper)."""
    from coords_spark.operators import entity_store, ingest, render, rindex, tiling, update
    from coords_spark.sources import icepick, osc, osmpbf
    from coords_spark.streaming import update_stream

    T = icepick.IcepickTable
    for owner, attr, name, counter in (
        (ingest, "render_read", "ingest.render_read", None),
        (ingest, "read_chunk_table", "ingest.read_chunk_table", None),
        (ingest, "with_anchor_cell", "ingest.with_anchor_cell", None),
        (ingest, "with_anchor_cell_chunk", "ingest.with_anchor_cell_chunk", None),
        (tiling, "compute_split_set", "tiling.compute_split_set", None),
        (tiling, "materialize_chunk_table", "tiling.materialize_chunk_table", None),
        (render, "render_tile_images", "render.render_tile_images", None),
        (render, "dirty_tiles", "render.dirty_tiles", None),
        (entity_store, "upsert_entities", "entity_store.upsert_entities", rewrite_stats_counter),
        (entity_store, "read_entities_for_ids", "entity_store.read_entities_for_ids", None),
        (rindex, "upsert_rindex", "rindex.upsert_rindex", None),
        (rindex, "rindex_lookup", "rindex.rindex_lookup", None),
        (update, "apply_way_diff", "update.apply_way_diff", rewrite_stats_counter),
        (update, "apply_relation_diff", "update.apply_relation_diff", rewrite_stats_counter),
        (osc, "read_osc", "osc.read_osc", None),
        (osmpbf, "read_osmpbf", "osmpbf.read_osmpbf", None),
        (update_stream, "apply_diff_batch", "update_stream.apply_diff_batch", None),
        (update_stream, "maintain_tables", "update_stream.maintain_tables", None),
        (T, "commit_staged", "icepick.commit", manifest_counter),
        (T, "commit_replace_multi", "icepick.commit", manifest_counter),
        (T, "mark_groups_committed", "icepick.commit", manifest_counter),
        (T, "compact", "icepick.compact", rewrite_counter),
        (T, "expire_snapshots", "icepick.expire", None),
        (T, "data_paths", "icepick.plan", paths_counter),
        (T, "data_paths_ranges", "icepick.plan", paths_counter),
    ):
        tracer.wrap(owner, attr, name, counter)
