"""icepick — a minimal Iceberg-style table format (SURVEY.md §1.2, §2.1).

No pyiceberg / Iceberg jars exist in this environment (SURVEY.md §0), so the
lineage + resume contract of BASELINE.json:6 ("Every stage checkpoints
per-partition to Iceberg with lineage (cell range, row count, checksum) so a
killed job resumes without reprocessing completed chunks") is carried by
this self-contained layer:

    table_dir/
      data/<part>.parquet          immutable data files
      manifests/manifest-%06d.json full snapshot listings (append-only)
      CURRENT                      name of the live manifest (os.replace swap)

Commit protocol (single-writer, crash-safe):
  1. data files are finalized under data/ (rename from staging),
  2. a NEW manifest file is written containing the old file list + the new
     entries + the newly committed group ids,
  3. CURRENT is atomically swapped via os.replace.
A crash before (3) leaves the table at the previous snapshot; orphan data
files are ignored (only manifest-listed files are readable) — exactly
Iceberg's semantics.

Per-file lineage: row count, chunk-id min/max (Z-order cell range), sha256
checksum. Readers prune files by chunk range before Spark ever sees them
(manifest min/max pruning, the app-level analogue of Iceberg partition
pruning — SURVEY.md §4).
"""

from __future__ import annotations

import base64
import glob
import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from coords_spark import bounded

_CURRENT = "CURRENT"


def _sha256_file(path: str, bufsize: int = 1 << 20) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(bufsize)
            if not b:
                break
            h.update(b)
    return "sha256:" + h.hexdigest()


class IcepickTable:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.data_dir = os.path.join(self.path, "data")
        self.manifest_dir = os.path.join(self.path, "manifests")

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(cls, path: str, properties: dict | None = None) -> "IcepickTable":
        t = cls(path)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.manifest_dir, exist_ok=True)
        if not os.path.exists(os.path.join(t.path, _CURRENT)):
            t._write_manifest(
                {"version": 0, "files": [], "committed_groups": [], "properties": properties or {}}
            )
        return t

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, _CURRENT))

    # -- manifest machinery --------------------------------------------------

    @staticmethod
    def _fsync_dir(path: str) -> None:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _write_manifest(self, manifest: dict) -> None:
        name = f"manifest-{manifest['version']:06d}.json"
        mpath = os.path.join(self.manifest_dir, name)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mpath)
        # persist the manifest rename BEFORE CURRENT can name it — otherwise
        # a power cut may durably point CURRENT at a nonexistent file
        self._fsync_dir(self.manifest_dir)
        cur_tmp = os.path.join(self.path, _CURRENT + ".tmp")
        with open(cur_tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur_tmp, os.path.join(self.path, _CURRENT))
        self._fsync_dir(self.path)

    def current_manifest(self) -> dict:
        with open(os.path.join(self.path, _CURRENT)) as f:
            name = f.read().strip()
        with open(os.path.join(self.manifest_dir, name)) as f:
            return json.load(f)

    # -- commits -------------------------------------------------------------

    def _finalize_staged(
        self,
        staging_dir: str,
        group: str | int | None,
        chunk_col: str,
        extra_stats: dict | None,
    ) -> list[dict]:
        """Move every parquet under staging_dir into data/ (fsync'd) and
        return their manifest entries with per-file lineage: rows,
        chunk_col min/max (from parquet metadata — no data read), sha256."""
        staged = sorted(glob.glob(os.path.join(staging_dir, "**", "*.parquet"), recursive=True))
        entries = []
        gstr = None if group is None else str(group)
        # one listdir for the whole batch: calling _next_file_seq per file
        # re-lists data/ after each move (O(files^2)) and skips numbers
        seq0 = self._next_file_seq()
        for i, src in enumerate(staged):
            md = pq.read_metadata(src)
            if i == 0:
                # manifest-stored schema (VERDICT r4 ask #8): captured at
                # commit so miss-path reads never open a data file
                self._pending_schema = base64.b64encode(
                    md.schema.to_arrow_schema().serialize().to_pybytes()
                ).decode()
            cmin = cmax = None
            if chunk_col is not None:
                idx = {md.schema.column(j).name: j for j in range(len(md.schema))}
                if chunk_col in idx:
                    ci = idx[chunk_col]
                    mins, maxs = [], []
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is not None and st.has_min_max:
                            mins.append(st.min)
                            maxs.append(st.max)
                    if mins:
                        cmin, cmax = min(mins), max(maxs)
            base = f"part-{seq0 + i:06d}-{os.path.basename(src)}"
            dst = os.path.join(self.data_dir, base)
            shutil.move(src, dst)
            entries.append(
                {
                    "path": os.path.join("data", base),
                    "rows": md.num_rows,
                    "chunk_min": cmin,
                    "chunk_max": cmax,
                    "checksum": None,  # filled by the parallel pass below
                    "group": gstr,
                    **(extra_stats or {}),
                }
            )
        # durability + lineage, parallel: the manifest must never reference
        # pages the kernel hasn't persisted (fsync before listing) and every
        # entry carries a sha256 — both release the GIL and are the commit's
        # bytes-proportional serial tail when done per-file in the loop
        # (VERDICT r5 ask #6, residual serial fraction)
        def _seal(e: dict) -> str:
            p = os.path.join(self.path, e["path"])
            fd = os.open(p, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
            return _sha256_file(p)

        if entries:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
                for e, digest in zip(entries, ex.map(_seal, entries)):
                    e["checksum"] = digest
            self._fsync_dir(self.data_dir)
        return entries

    def _stamp_schema(self, man: dict) -> None:
        """Carry the Arrow schema captured by _finalize_staged into the
        manifest being written (no-op for empty commits — the previous
        stamp, if any, is inherited through the manifest copy)."""
        pending = getattr(self, "_pending_schema", None)
        if pending is not None:
            man["schema_ipc_b64"] = pending

    def stamp_schema(self, arrow_schema) -> None:
        """Explicitly stamp the table schema into a new manifest version —
        for tables whose FIRST commit carried zero data files (an empty
        build), where _finalize_staged never captured one. Keeps the
        miss-path contract: reads always plan from the manifest schema."""
        man = self.current_manifest()
        man["version"] += 1
        man["schema_ipc_b64"] = base64.b64encode(
            arrow_schema.serialize().to_pybytes()
        ).decode()
        self._write_manifest(man)

    def arrow_schema(self, version: int | None = None):
        """The table's Arrow schema from manifest lineage alone — never
        opens a data file (VERDICT r4 ask #8: miss-path reads plan zero
        file scans). None for tables written before schema stamping."""
        import pyarrow as pa

        b64 = self.manifest_at(version).get("schema_ipc_b64")
        if b64 is None:
            return None
        return pa.ipc.read_schema(pa.BufferReader(base64.b64decode(b64)))

    def spark_schema(self, version: int | None = None):
        """Manifest schema as a Spark StructType (None if unstamped), by
        bounded.spark_schema: a tz-less Arrow timestamp is TIMESTAMP_NTZ,
        the type Spark's own footer inference gives the same column."""
        s = self.arrow_schema(version)
        return None if s is None else bounded.spark_schema(s)

    def read(self, spark, paths: list[str]):
        """The one Spark read of this table's data files `paths` (a pruned
        subset of data_paths). The manifest schema plans the scan, so no
        footer-inference job runs, and an empty `paths` is an empty frame
        of that schema that opens no file. A table without a schema stamp
        (written before stamping) infers from the files instead."""
        schema = self.spark_schema()
        if schema is None:
            if paths:
                return spark.read.parquet(*paths)
            all_paths = self.data_paths()
            if not all_paths:
                raise ValueError(
                    f"{self.path} has no data file and no schema stamp: "
                    "an empty read cannot be planned"
                )
            return spark.read.parquet(all_paths[0]).limit(0)
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def read_arrow(self, paths: list[str], columns: list[str] | None = None):
        """The zero-job twin of `read`: the data files `paths` (a pruned
        subset of data_paths) as one pyarrow table, read with the manifest
        schema; an empty `paths` is an empty table of that schema that
        opens no file. A table without a schema stamp infers from the
        files, as `read` does. `columns` projects the read."""
        schema = self.arrow_schema()
        if schema is None:
            if paths:
                return pq.read_table(paths, columns=columns)
            all_paths = self.data_paths()
            if not all_paths:
                raise ValueError(
                    f"{self.path} has no data file and no schema stamp: "
                    "an empty read cannot be planned"
                )
            schema = pq.read_schema(all_paths[0])
        if columns is not None:
            schema = pa.schema([schema.field(c) for c in columns])
        if not paths:
            return schema.empty_table()
        return pq.read_table(paths, columns=columns, schema=schema)

    def commit_staged(
        self,
        staging_dir: str,
        group: str | int | None = None,
        chunk_col: str = "chunk_id",
        extra_stats: dict | None = None,
    ) -> list[dict]:
        """Finalize every parquet file under staging_dir into the table as
        one atomic commit tagged with `group` (the resume unit)."""
        entries = self._finalize_staged(staging_dir, group, chunk_col, extra_stats)
        gstr = None if group is None else str(group)
        man = self.current_manifest()
        man["version"] += 1
        man["files"] = man["files"] + entries
        self._stamp_schema(man)
        self._stamp_chunk_col(man, chunk_col)
        if gstr is not None and gstr not in man["committed_groups"]:
            man["committed_groups"] = man["committed_groups"] + [gstr]
        self._write_manifest(man)
        shutil.rmtree(staging_dir, ignore_errors=True)
        return entries

    @staticmethod
    def _stamp_chunk_col(man: dict, chunk_col: str | None) -> None:
        """Record the clustering column in table properties on first use so
        maintenance (compact) clusters replacements the same way the data
        was written — a pyramid table clustered on tile_x must not be
        re-packed by a nonexistent chunk_id (ADVICE r6)."""
        if chunk_col is not None:
            man.setdefault("properties", {}).setdefault("chunk_col", chunk_col)

    def commit_replace(
        self,
        staging_dir: str,
        drop_paths: list[str],
        group: str | int | None = None,
        chunk_col: str = "chunk_id",
        extra_stats: dict | None = None,
    ) -> list[dict]:
        """One atomic commit that ADDS every staged parquet AND DROPS the
        manifest-relative `drop_paths` — the incremental-update commit
        (operators/update.py apply_node_diff). Dropped data files stay on
        disk: older manifests still reference them, so time travel keeps
        working (Iceberg delete-file semantics, rewrite flavor)."""
        return self.commit_replace_multi(
            [(staging_dir, extra_stats)], drop_paths, group=group, chunk_col=chunk_col
        )

    def commit_replace_multi(
        self,
        staged: list[tuple[str, dict | None]],
        drop_paths: list[str],
        group: str | int | None = None,
        chunk_col: str = "chunk_id",
    ) -> list[dict]:
        """commit_replace over SEVERAL staging dirs, each with its own
        extra_stats, as ONE manifest write — the shape a multi-level
        pyramid refresh or a per-zoom compact needs (every file keeps its
        own 'zoom' stamp while the add+drop stays a single atomic commit)."""
        man = self.current_manifest()
        have = {f["path"] for f in man["files"]}
        missing = set(drop_paths) - have
        if missing:
            raise ValueError(f"commit_replace: paths not in current manifest: {sorted(missing)}")
        entries: list[dict] = []
        for staging_dir, extra_stats in staged:
            entries += self._finalize_staged(staging_dir, group, chunk_col, extra_stats)
        gstr = None if group is None else str(group)
        drop = set(drop_paths)
        man = self.current_manifest()
        man["version"] += 1
        man["files"] = [f for f in man["files"] if f["path"] not in drop] + entries
        self._stamp_schema(man)
        self._stamp_chunk_col(man, chunk_col)
        if gstr is not None and gstr not in man["committed_groups"]:
            man["committed_groups"] = man["committed_groups"] + [gstr]
        self._write_manifest(man)
        for staging_dir, _ in staged:
            shutil.rmtree(staging_dir, ignore_errors=True)
        return entries

    # -- maintenance (VERDICT r5 ask #4) -------------------------------------

    # manifest-entry keys that are commit bookkeeping, not caller stats —
    # anything else (e.g. a pyramid file's 'zoom') is an extra stat that
    # compact must carry into replacement entries (ADVICE r6: a compact
    # that drops 'zoom' makes refresh_pyramid_table read zero children)
    _ENTRY_STD_KEYS = frozenset(
        {"path", "rows", "chunk_min", "chunk_max", "checksum", "group"}
    )

    def compact(
        self,
        spark,
        target_bytes: int = 128 << 20,
        chunk_col: str | None = None,
        group: str = "compact",
    ) -> dict:
        """Bin-pack small data files into ~target_bytes files as ONE atomic
        commit_replace. Every apply_*_diff appends a rewrite generation, so
        after N diffs the table accumulates small files; this is the
        lifecycle operator that reclaims read efficiency. Only files
        smaller than target_bytes participate; the rewrite range-partitions
        on chunk_col (default: the table's recorded clustering column) +
        sorts within partitions, so chunk clustering — and with it manifest
        min/max lineage and render-read file pruning — survives compaction.
        Files are packed PER extra-stats signature (e.g. per pyramid zoom):
        each replacement entry carries its sources' extra keys verbatim, so
        per-file stamps like 'zoom' survive (ADVICE r6). Dropped files stay
        on disk for time travel until expire_snapshots reclaims them."""
        import math
        import tempfile

        if chunk_col is None:
            chunk_col = (
                self.current_manifest().get("properties", {}).get("chunk_col")
                or "chunk_id"
            )
        small = [
            e
            for e in self.files()
            if os.path.getsize(os.path.join(self.path, e["path"])) < target_bytes
        ]
        by_sig: dict[tuple, list[dict]] = {}
        for e in small:
            sig = tuple(sorted((k, e[k]) for k in e if k not in self._ENTRY_STD_KEYS))
            by_sig.setdefault(sig, []).append(e)
        staged: list[tuple[str, dict | None]] = []
        compacted: list[dict] = []
        total = 0
        # type-safe ordering: two files carrying the same extra-stat key
        # with differently-typed values must not abort maintenance with a
        # tuple-comparison TypeError (ADVICE r7)
        for sig, es in sorted(by_sig.items(), key=lambda kv: repr(kv[0])):
            if len(es) < 2:
                continue
            paths = [os.path.join(self.path, e["path"]) for e in es]
            size = sum(os.path.getsize(p) for p in paths)
            nparts = max(1, math.ceil(size / target_bytes))
            staging = tempfile.mkdtemp(prefix="compact_", dir=self.path)
            # r8: small signature groups (local files, bounded bytes) pack
            # DRIVER-SIDE with pyarrow — threaded reads, one global sort,
            # contiguous slices — skipping the Spark read + range-sampling
            # + write jobs whose fixed cost dominates a small compact.
            # Bigger groups keep the distributed path.
            if size <= bounded.SMALL_COMPACT_BYTES:
                self._pack_arrow(paths, staging, nparts, chunk_col)
            else:
                df = self.read(spark, paths)
                if chunk_col in df.columns:
                    df = df.repartitionByRange(nparts, chunk_col).sortWithinPartitions(
                        chunk_col
                    )
                else:
                    df = df.repartition(nparts)
                df.write.mode("append").parquet(os.path.join(staging, "packed"))
            staged.append((staging, dict(sig) or None))
            compacted += es
            total += size
        if not staged:
            return {"files_compacted": 0, "files_written": 0, "bytes_in": 0}
        entries = self.commit_replace_multi(
            staged, [e["path"] for e in compacted], group=group, chunk_col=chunk_col
        )
        return {
            "files_compacted": len(compacted),
            "files_written": len(entries),
            "bytes_in": total,
        }

    @staticmethod
    def _pack_arrow(paths: list[str], staging: str, nparts: int, chunk_col: str) -> None:
        """Driver-side bin-pack of small local files: threaded pyarrow
        reads, one sort by chunk_col (when present), nparts contiguous
        slices."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as _pq

        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as ex:
            tables = list(ex.map(_pq.read_table, paths))
        tbl = (
            pa.concat_tables(tables, promote_options="default")
            if len(tables) > 1
            else tables[0]
        )
        keys = [chunk_col] if chunk_col in tbl.column_names else []
        bounded.write_sorted(tbl, staging, keys, nparts)

    def expire_snapshots(self, keep_n: int = 1) -> dict:
        """Drop all manifests but the newest keep_n and DELETE data files no
        retained snapshot references — the space-reclaim half of the
        maintenance pair (commit_replace retains dropped files for time
        travel; only expiry may remove them). Expired manifests are removed
        FIRST (and fsync'd) so a crash can never leave a manifest pointing
        at a deleted file; orphaned data files are merely unreclaimed space
        a re-run finishes off. Time travel to expired versions raises
        thereafter."""
        if keep_n < 1:
            raise ValueError("expire_snapshots: keep_n must be >= 1")
        vs = self.versions()
        keep = vs[-keep_n:]
        drop = [v for v in vs if v not in set(keep)]
        referenced = {e["path"] for v in keep for e in self.files(v)}
        for v in drop:
            os.remove(os.path.join(self.manifest_dir, f"manifest-{v:06d}.json"))
        if drop:
            self._fsync_dir(self.manifest_dir)
        removed = []
        for n in sorted(os.listdir(self.data_dir)):
            rel = os.path.join("data", n)
            if n.startswith("part-") and rel not in referenced:
                os.remove(os.path.join(self.data_dir, n))
                removed.append(rel)
        if removed:
            self._fsync_dir(self.data_dir)
        return {
            "expired_versions": drop,
            "removed_files": removed,
            "kept_versions": keep,
        }

    def mark_group_committed(self, group: str | int) -> None:
        """Commit an empty group (a resume unit that produced no rows)."""
        self.mark_groups_committed([group])

    def mark_groups_committed(self, groups) -> None:
        """Commit several empty groups in ONE manifest write."""
        man = self.current_manifest()
        missing = [str(g) for g in groups if str(g) not in man["committed_groups"]]
        if missing:
            man["version"] += 1
            man["committed_groups"] = man["committed_groups"] + missing
            self._write_manifest(man)

    def _next_file_seq(self) -> int:
        # max on-disk seq + 1, NOT len(manifest files): commit_replace drops
        # manifest entries while their data files remain for time travel, so
        # a count-based seq could collide with (and overwrite) a retained file
        mx = -1
        for n in os.listdir(self.data_dir):
            if n.startswith("part-"):
                try:
                    mx = max(mx, int(n[5:11]))
                except ValueError:
                    pass
        return mx + 1

    # -- reads ---------------------------------------------------------------

    def committed_groups(self) -> set[str]:
        return set(self.current_manifest()["committed_groups"])

    def manifest_at(self, version: int | None = None) -> dict:
        """Time travel: the manifest as of `version` (every commit writes an
        immutable manifest-{v}.json, so old snapshots stay readable —
        Iceberg-style snapshot isolation for readers)."""
        if version is None:
            return self.current_manifest()
        p = os.path.join(self.manifest_dir, f"manifest-{version:06d}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(f"no snapshot version {version} at {self.path}")
        with open(p) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        return sorted(
            int(n.split("-")[1].split(".")[0])
            for n in os.listdir(self.manifest_dir)
            if n.startswith("manifest-") and n.endswith(".json")
        )

    def files(self, version: int | None = None) -> list[dict]:
        return self.manifest_at(version)["files"]

    def data_paths(
        self,
        chunk_min: int | None = None,
        chunk_max: int | None = None,
        version: int | None = None,
    ) -> list[str]:
        """Absolute data-file paths, pruned by chunk-id range overlap using
        manifest min/max lineage (planning-time file pruning, S5);
        optionally from a historical snapshot (time travel)."""
        out = []
        for e in self.files(version):
            if chunk_min is not None and e.get("chunk_max") is not None and e["chunk_max"] < chunk_min:
                continue
            if chunk_max is not None and e.get("chunk_min") is not None and e["chunk_min"] > chunk_max:
                continue
            out.append(os.path.join(self.path, e["path"]))
        return out

    def data_paths_ranges(
        self,
        ranges: list[tuple[int, int]],
        version: int | None = None,
    ) -> list[str]:
        """Absolute data-file paths overlapping ANY of the inclusive
        [lo, hi] chunk-id ranges — the multi-range manifest pruning behind
        bbox+zoom render reads (one overlap test per (file, range) against
        manifest min/max lineage; both lists are small and driver-side).
        Files without chunk lineage are conservatively kept."""
        if not ranges:
            return []
        rs = sorted(ranges)
        out = []
        for e in self.files(version):
            cmin, cmax = e.get("chunk_min"), e.get("chunk_max")
            if cmin is None or cmax is None:
                out.append(os.path.join(self.path, e["path"]))
                continue
            if any(lo <= cmax and hi >= cmin for lo, hi in rs):
                out.append(os.path.join(self.path, e["path"]))
        return out

    def total_rows(self) -> int:
        return sum(e["rows"] for e in self.files())

    def rows_of(self, paths: list[str], version: int | None = None) -> int:
        """Summed manifest row count of the data files `paths` (absolute,
        as data_paths returns them): a size known before any file opens."""
        kept = set(paths)
        return sum(
            e["rows"] for e in self.files(version) if os.path.join(self.path, e["path"]) in kept
        )

    def verify_checksums(self) -> bool:
        for e in self.files():
            if _sha256_file(os.path.join(self.path, e["path"])) != e["checksum"]:
                return False
        return True
