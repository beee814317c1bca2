"""Size-bounded quadtree chunk assignment + chunk-table materialization
(SURVEY.md §2.4 T4/T5/T6, §3 E3).

COORDS subdivides a tile into 4 children when its serialized contents
exceed a max byte size, keeping boundary-straddling geometries at the
internal tile (REF? FileBackedTile::subDivide [M]). We replace the
insertion-order-dependent reactive splitting with a **deterministic
two-phase pre-pass** (SURVEY.md §4 "custom work"):

  phase 1 (Spark): subtree byte-size rollup per quadtree node, levels
    0..base_level — one union-of-groupBys job whose output is filtered to
    nodes exceeding max_bytes ("split set", small: <= levels x
    total_bytes/max_bytes entries) and collected;
  phase 2 (Spark): every row's chunk = its first non-split ancestor,
    capped at its own deepest-containing-cell level — a vectorized numpy
    walk inside a pandas UDF with the broadcast split set.

The rule is order-independent, parallelism-independent, and reproduced
verbatim by the pure-Python oracle (tests/oracle/minicoords.py), which is
what makes chunk assignments byte-for-byte comparable (BASELINE.json:6).

Skew (T6): materialization range-partitions by (chunk_id, xxhash64(key))
— the composite range key splits oversized chunks across many partitions
(urban hotspots) while keeping chunk locality, and AQE skew handling stays
on as backstop.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from coords_spark import bounded
from coords_spark.kernels import zcurve
from coords_spark.operators.cells import ancestor_expr
from coords_spark.sources.icepick import IcepickTable

DEFAULT_BASE_LEVEL = 12
DEFAULT_MAX_BYTES = 4 << 20


def _level_col(cell) -> F.Column:
    return cell.bitwiseAND(F.lit(int(zcurve.LEVEL_MASK)))


def _capped_per_cell(df: DataFrame, cell: str, nbytes: str, base_level: int) -> DataFrame:
    """(c, b): byte sums per DISTINCT cell capped at base_level — the shared
    pre-aggregation of subtree_sizes and compute_split_set_and_weights (ONE
    definition: the chunking semantics and the oracle depend on it).

    One shuffle: partial+final hash agg down to distinct cells (map-side
    combine makes this cheap). The input is scanned exactly once."""
    return (
        df.select(F.col(cell).alias("c"), F.col(nbytes).alias("b"))
        .select(
            F.when(_level_col(F.col("c")) > base_level, ancestor_expr("c", base_level))
            .otherwise(F.col("c"))
            .alias("c"),
            "b",
        )
        .groupBy("c")
        .agg(F.sum("b").alias("b"))
    )


def _ancestor_rollup(per_cell: DataFrame) -> DataFrame:
    """(node, sub_bytes): roll each distinct cell up its ancestor chain
    (<= base_level+1 rows per cell, all JVM-side bit math) — the shared
    second stage over _capped_per_cell's output."""
    anc = (
        f"transform(sequence(0, cast(c & {int(zcurve.LEVEL_MASK)} as int)), "
        f"l -> cast(shiftleft(shiftrightunsigned(shiftrightunsigned(c, {zcurve.LEVEL_BITS}), "
        f"2 * (cast(c & {int(zcurve.LEVEL_MASK)} as int) - l)), {zcurve.LEVEL_BITS}) | l as long))"
    )
    return (
        per_cell.select(F.explode(F.expr(anc)).alias("node"), "b")
        .groupBy("node")
        .agg(F.sum("b").alias("sub_bytes"))
    )


def subtree_sizes(df: DataFrame, cell: str, nbytes: str, base_level: int) -> DataFrame:
    """Per-quadtree-node subtree byte size for levels 0..base_level.

    A row at cell level L contributes to its ancestors at levels 0..min(L,
    base). Returns (node: long, sub_bytes: long). Two exchanges total."""
    return _ancestor_rollup(_capped_per_cell(df, cell, nbytes, base_level))


def _rollup_split_np(
    cells: np.ndarray, b: np.ndarray, max_bytes: int, base_level: int
) -> np.ndarray:
    """Driver-side twin of subtree_sizes + the > max_bytes filter:
    bottom-up quadtree rollup over the (distinct capped cell, bytes)
    pairs. Integer sums, identical to the Spark SUM, so the split set is
    byte-identical to the distributed rollup."""
    cells = np.asarray(cells, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    level = zcurve.cell_level(cells)
    out: list[np.ndarray] = []
    cur_nodes = np.empty(0, dtype=np.int64)
    cur_sums = np.empty(0, dtype=np.int64)
    for l in range(base_level, -1, -1):
        sel = level == l
        nodes_l = cells[sel]
        b_l = b[sel]
        if cur_nodes.size:
            nodes_l = np.concatenate([nodes_l, zcurve.z_ancestor(cur_nodes, l)])
            b_l = np.concatenate([b_l, cur_sums])
        if nodes_l.size == 0:
            continue
        uniq, inv = np.unique(nodes_l, return_inverse=True)
        sums = np.zeros(uniq.size, dtype=np.int64)
        np.add.at(sums, inv, b_l)
        out.append(uniq[sums > max_bytes])
        cur_nodes, cur_sums = uniq, sums
    if not out:
        return np.empty(0, dtype=np.int64)
    return np.sort(np.concatenate(out))


def compute_split_set(
    df: DataFrame,
    cell: str = "cell",
    nbytes: str = "nbytes",
    max_bytes: int = DEFAULT_MAX_BYTES,
    base_level: int = DEFAULT_BASE_LEVEL,
) -> np.ndarray:
    """Collect the (small) set of quadtree nodes whose subtree exceeds
    max_bytes — the only data that ever reaches the driver."""
    per_cell = _capped_per_cell(df, cell, nbytes, base_level)
    tbl = bounded.bounded_arrow(per_cell, bounded.PER_CELL_COLLECT_CAP)
    if tbl is not None:
        return _rollup_split_np(
            tbl.column("c").to_numpy(zero_copy_only=False),
            tbl.column("b").to_numpy(zero_copy_only=False),
            max_bytes,
            base_level,
        )
    rows = (
        _ancestor_rollup(per_cell)
        .filter(F.col("sub_bytes") > max_bytes)
        .select("node")
        .collect()
    )
    return np.sort(np.asarray([r[0] for r in rows], dtype=np.int64))


def compute_split_set_and_weights(
    df: DataFrame,
    cell: str = "cell",
    nbytes: str = "nbytes",
    max_bytes: int = DEFAULT_MAX_BYTES,
    base_level: int = DEFAULT_BASE_LEVEL,
) -> tuple[np.ndarray, dict[int, int]]:
    """(split_set, {chunk_id: subtree_bytes}) in one logical pass over the
    data: the per-cell pre-aggregation (orders of magnitude smaller than
    the input — it is the distinct-cell table) is cached, the split set is
    collected from its rollup as usual, and per-CHUNK byte weights are then
    a second tiny job over the SAME cached per-cell table (chunk count is
    bounded by ~total_bytes/max_bytes + |split_set| — driver-safe).

    The weights exist so materialization can place rows with an EXPLICIT
    driver-computed allocation instead of repartitionByRange — whose range
    sampling is a second full evaluation of the input (including the
    Python anchor stage) at 10^12 rows. See materialize_chunk_table."""
    per_cell = _capped_per_cell(df, cell, nbytes, base_level)
    tbl = bounded.bounded_arrow(per_cell, bounded.PER_CELL_COLLECT_CAP)
    if tbl is not None:
        # ONE job total: the rollup, the split filter AND the per-chunk
        # weights all derive in numpy from the collected per-cell pairs
        # (assign_chunks_np is the same vectorized rule the executors run)
        c = tbl.column("c").to_numpy(zero_copy_only=False)
        b = tbl.column("b").to_numpy(zero_copy_only=False)
        split = _rollup_split_np(c, b, max_bytes, base_level)
        chunk = assign_chunks_np(np.asarray(c, dtype=np.int64), split, base_level)
        uniq, inv = np.unique(chunk, return_inverse=True)
        sums = np.zeros(uniq.size, dtype=np.int64)
        np.add.at(sums, inv, np.asarray(b, dtype=np.int64))
        return split, {int(k): int(w) for k, w in zip(uniq, sums)}
    per_cell.persist()
    try:
        split_rows = (
            _ancestor_rollup(per_cell)
            .filter(F.col("sub_bytes") > max_bytes)
            .select("node")
            .collect()
        )
        split = np.sort(np.asarray([r[0] for r in split_rows], dtype=np.int64))
        weighted = with_chunk(per_cell, split, cell="c", base_level=base_level)
        w_rows = weighted.groupBy("chunk_id").agg(F.sum("b").alias("w")).collect()
        return split, {int(r["chunk_id"]): int(r["w"]) for r in w_rows}
    finally:
        per_cell.unpersist()


def allocate_chunk_partitions(
    weights: dict[int, int], n_partitions: int
) -> dict[int, tuple[int, int]]:
    """Deterministic driver-side packing of chunks onto `n_partitions`
    shuffle partitions: {chunk_id: (base_partition, width)}. Chunks are
    walked in z-order (partition contents stay chunk-contiguous, so parquet
    files keep tight chunk min/max for pruning); consecutive small chunks
    pack into one partition until the byte target, and a hot chunk (the
    level==cell split-leaf case, the only way a chunk exceeds max_bytes)
    gets width = ceil(bytes/target) partitions — the T6 salting lever,
    computed exactly instead of sampled."""
    if not weights:
        return {}
    total = sum(weights.values())
    n = max(1, n_partitions)
    target = max(1, total // n)
    out: dict[int, tuple[int, int]] = {}
    p = 0
    acc = 0
    for c in sorted(weights):
        w = weights[c]
        if w > target:
            if acc > 0:
                p += 1
                acc = 0
            width = min(n, -(-w // target))
            base = min(p, n - 1)
            out[c] = (base, min(width, n - base))
            p = base + out[c][1]
        else:
            base = min(p, n - 1)
            out[c] = (base, 1)
            acc += w
            if acc >= target:
                p += 1
                acc = 0
    return out


def _isin_sorted(values: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    if sorted_set.size == 0:
        return np.zeros(values.shape, dtype=bool)
    idx = np.searchsorted(sorted_set, values)
    idx = np.clip(idx, 0, sorted_set.size - 1)
    return sorted_set[idx] == values


def assign_chunks_np(cells: np.ndarray, split_set: np.ndarray, base_level: int) -> np.ndarray:
    """Vectorized chunk assignment: first non-split ancestor, capped at the
    row's own cell level and at base_level. Shared verbatim with the oracle
    comparison path (pure numpy, no Spark)."""
    cells = np.asarray(cells, dtype=np.int64)
    level = np.minimum(zcurve.cell_level(cells), base_level)
    chunk = np.empty_like(cells)
    done = np.zeros(cells.shape, dtype=bool)
    for l in range(base_level + 1):
        active = ~done & (level >= l)
        if not active.any():
            break
        anc = zcurve.z_ancestor(cells, np.minimum(level, l))
        split = _isin_sorted(anc, split_set)
        assign = active & (~split | (level == l))
        chunk[assign] = anc[assign]
        done |= assign
    return chunk


def with_chunk(
    df: DataFrame,
    split_set: np.ndarray,
    cell: str = "cell",
    base_level: int = DEFAULT_BASE_LEVEL,
    out: str = "chunk_id",
) -> DataFrame:
    split_sorted = np.sort(np.asarray(split_set, dtype=np.int64))

    @F.pandas_udf(LongType())
    def _chunk(c: pd.Series) -> pd.Series:
        return pd.Series(assign_chunks_np(c.to_numpy(), split_sorted, base_level))

    return df.withColumn(out, _chunk(F.col(cell)))


# ---------------------------------------------------------------------------
# chunk-table materialization with per-group resume (S4/S7, BASELINE.json:6)
# ---------------------------------------------------------------------------


def chunk_groups_col(chunk_name: str, group_level: int = 2) -> F.Column:
    """Resume unit: the chunk's ancestor at `group_level` (chunks shallower
    than group_level are their own group). Deterministic, range-contiguous."""
    lv = _level_col(F.col(chunk_name))
    return F.when(lv <= group_level, F.col(chunk_name)).otherwise(
        ancestor_expr(chunk_name, group_level)
    )


_TOKEN_CACHE: dict[int, dict[int, int]] = {}


def _partition_tokens(spark, n: int) -> dict[int, int]:
    """One token per shuffle-partition index: the smallest long t with
    pmod(hash(t), n) == p, queried from Spark itself so the Murmur3 mapping
    is exact. Lets a driver-computed partition INDEX be realized through
    plain hash repartitioning (repartition(n, token_col)) — no range
    sampling, no custom partitioner. Deterministic; the search job scans a
    tiny integer range, never data. Memoized per n (a pure function of
    Spark's hash), so repeated materializations skip the search job."""
    cached = _TOKEN_CACHE.get(n)
    if cached is not None:
        return cached
    m = 64 * n
    while True:
        rows = (
            spark.range(m)
            .select(F.col("id"), F.pmod(F.hash("id"), F.lit(n)).alias("p"))
            .groupBy("p")
            .agg(F.min("id").alias("tok"))
            .collect()
        )
        toks = {int(r["p"]): int(r["tok"]) for r in rows}
        if len(toks) >= n:
            _TOKEN_CACHE[n] = toks
            return toks
        m *= 4  # coupon-collector miss at tiny n: widen the search


def materialize_chunk_table(
    df: DataFrame,
    table_path: str,
    key_col: str = "image_id",
    chunk_col: str = "chunk_id",
    group_level: int = 2,
    shuffle_partitions: int | None = None,
    progress_cb=None,
    chunk_weights: dict[int, int] | None = None,
) -> IcepickTable:
    """Write df as an icepick chunk table, one atomic commit per chunk
    group; a re-run skips groups already in the manifest (kill-safe resume
    with zero reprocessing). Data lands chunk-contiguous and sorted by
    chunk_id so each parquet row-group carries tight chunk min/max stats
    for pruning, with hotspot chunks spread over multiple partitions (T6).

    Partition placement, in order of preference:
      * chunk_weights given (from compute_split_set_and_weights): EXPLICIT
        driver-computed allocation — chunks packed in z-order onto
        partitions by byte weight, hot chunks salted by xxhash64(key)
        across exactly ceil(bytes/target) partitions, realized via a
        Murmur3 token column + plain hash repartition. Zero extra passes
        over the data. This is the 10^12-row path: repartitionByRange's
        boundary sampling re-evaluates the whole input (including the
        Python anchor stage) before the real shuffle even starts.
      * otherwise: repartitionByRange(chunk_id, xxhash64(key)) — correct
        and sampling-based; fine when the input is cheap to re-evaluate."""
    table = IcepickTable.create(table_path)
    dfg = df.withColumn("_grp", chunk_groups_col(chunk_col, group_level))
    committed = table.committed_groups()
    if committed:
        # resume: committed chunk groups are filtered out BEFORE the shuffle
        # — their rows are never repartitioned or rewritten
        dfg = dfg.filter(~F.col("_grp").cast("string").isin(*sorted(committed)))
    spark = df.sparkSession
    # TOTAL range-partition count for the whole write (not per group)
    nshuffle = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    staging_root = os.path.join(table_path, f"_staging-{uuid.uuid4().hex[:8]}")
    if chunk_weights:
        alloc = allocate_chunk_partitions(chunk_weights, nshuffle)
        toks = _partition_tokens(spark, nshuffle)
        amap = spark.createDataFrame(
            [(c, b, w) for c, (b, w) in alloc.items()], "_ck long, _base int, _width int"
        )
        tmap = spark.createDataFrame(
            [(p, t) for p, t in toks.items()], "_pidx int, _tok long"
        )
        placed = (
            dfg.join(F.broadcast(amap), dfg[chunk_col] == amap["_ck"], "left")
            .withColumn(
                "_pidx",
                F.coalesce(
                    F.col("_base")
                    + F.pmod(F.xxhash64(F.col(key_col)), F.col("_width")).cast("int"),
                    # unseen chunk (can't happen when weights came from the
                    # same data+split set): stable hash fallback
                    F.pmod(F.xxhash64(F.col(chunk_col)), F.lit(nshuffle)).cast("int"),
                ),
            )
            .join(F.broadcast(tmap), "_pidx")
        )
        shuffled = placed.repartition(nshuffle, F.col("_tok")).drop(
            "_ck", "_base", "_width", "_pidx", "_tok"
        )
    else:
        shuffled = dfg.repartitionByRange(
            nshuffle, F.col(chunk_col), F.xxhash64(F.col(key_col))
        )
    (
        shuffled.sortWithinPartitions(chunk_col)
        .write.mode("overwrite")
        .partitionBy("_grp")
        .parquet(staging_root)
    )
    group_dirs = sorted(
        d for d in os.listdir(staging_root) if d.startswith("_grp=")
    )
    try:
        for d in group_dirs:
            g = d.split("=", 1)[1]
            table.commit_staged(os.path.join(staging_root, d), group=g, chunk_col=chunk_col)
            if progress_cb:
                progress_cb(g)
    finally:
        shutil.rmtree(staging_root, ignore_errors=True)
    return table
