"""coords_spark.bounded: the two driver-side staging primitives, plus the
guard that keeps the driver-vs-distributed rule in that one module."""

import os
import pathlib
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from coords_spark import bounded

_PKG = pathlib.Path(__file__).resolve().parent.parent / "coords_spark"


def _with_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"bounded-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_arrow_under_cap_returns_table(spark):
    tbl = bounded.bounded_arrow(spark.range(5), 5)
    assert tbl.column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert bounded.bounded_arrow(spark.range(3)).num_rows == 3  # caller-bounded


def test_bounded_arrow_over_cap_runs_one_probe_only(spark):
    df = spark.range(0, 50, numPartitions=2)
    got, jobs = _with_jobs(spark, lambda: bounded.bounded_arrow(df, 5))
    assert got is None
    # exactly the jobs of the capped probe itself: nothing runs a second time
    _, probe_jobs = _with_jobs(spark, lambda: df.limit(6).toArrow())
    assert jobs == probe_jobs


def test_bounded_arrow_unsupported_type_runs_no_job(spark):
    df = spark.sql("SELECT interval 1 year AS iv")
    got, jobs = _with_jobs(spark, lambda: bounded.bounded_arrow(df, 10))
    assert got is None
    assert jobs == 0


def test_bounded_arrow_query_error_raises(spark):
    @F.udf("long")
    def boom(x):
        raise ValueError("planted query error")

    df = spark.range(3).select(boom("id").alias("v"))
    with pytest.raises(PythonException, match="planted query error"):
        bounded.bounded_arrow(df, 10)


def test_arrow_frame_tzless_timestamp_is_ntz(spark, tmp_path):
    """A tz-less Arrow timestamp comes back as TIMESTAMP_NTZ, the type a
    Spark read of the same parquet column gives, and collects unchanged."""
    tbl = pa.table({"ts": pa.array([0, 1_700_000_000_000_000, None], pa.timestamp("us"))})
    pq.write_table(tbl, str(tmp_path / "ts.parquet"))
    df = bounded.arrow_frame(spark, tbl)
    spark_read = spark.read.parquet(str(tmp_path / "ts.parquet"))
    assert df.schema.simpleString() == spark_read.schema.simpleString() == "struct<ts:timestamp_ntz>"
    got = df.toArrow()
    assert got.schema.field("ts").type == pa.timestamp("us")
    assert got.column("ts").to_pylist() == tbl.column("ts").to_pylist()


def _read_parts(stage):
    names = sorted(os.listdir(stage))
    return names, [pq.read_table(os.path.join(stage, n)) for n in names]


def test_write_sorted_contiguous_sorted_slices(tmp_path):
    keys = [(k * 7919) % 101 for k in range(101)]
    tbl = pa.table({"k": pa.array(keys, pa.int64()), "v": pa.array(range(101), pa.int64())})
    bounded.write_sorted(tbl, str(tmp_path), ["k"], 4)
    names, parts = _read_parts(str(tmp_path))
    assert names == [f"part-{i:04d}.parquet" for i in range(4)]
    flat = [k for p in parts for k in p.column("k").to_pylist()]
    assert flat == sorted(keys)
    assert sorted(v for p in parts for v in p.column("v").to_pylist()) == list(range(101))


def test_write_sorted_file_count_bounded_by_rows(tmp_path):
    tbl = pa.table({"k": pa.array([3, 1], pa.int64())})
    bounded.write_sorted(tbl, str(tmp_path), ["k"], 5)
    names, parts = _read_parts(str(tmp_path))
    assert 1 <= len(names) <= min(5, tbl.num_rows)
    assert [k for p in parts for k in p.column("k").to_pylist()] == [1, 3]


def test_write_sorted_empty_table_writes_nothing(tmp_path):
    tbl = pa.table({"k": pa.array([], pa.int64())})
    bounded.write_sorted(tbl, str(tmp_path), ["k"], 3)
    assert os.listdir(str(tmp_path)) == []


def test_staging_rule_lives_in_bounded():
    """No COORDS_* environment knob anywhere in the package, every Arrow
    collect goes through bounded.bounded_arrow, every icepick table read
    goes through IcepickTable.read (no read.parquet at all in the
    operators and the streaming layer, and none of data_paths anywhere in
    the package), the streaming layer reads no whole entity store
    (a per-batch store read is id-range-pruned:
    entity_store.read_entities_for_ids), every driver-read size test is
    bounded.fits_driver (no os.path.getsize in the operators and the
    streaming layer), the entity-store and reverse-index operators never
    collect their DataFrame inputs (no bounded_arrow in entity_store.py
    or rindex.py), and no catch-all handler (`except Exception`,
    `except BaseException`, bare `except:`) can send a failed driver path
    down the distributed one."""
    to_arrow = re.compile(r"\.toArrow\(")
    read_parquet = re.compile(r"read\.parquet\(")
    read_data_paths = re.compile(r"read\.parquet\(\*.*\bdata_paths\(")
    catch_all = re.compile(r"\bexcept\b\s*(:|[^:#]*\b(Exception|BaseException)\b)")
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "COORDS_" in line:
                offenders.append(f"{rel}:{no}: COORDS_ knob: {line.strip()}")
            if rel != "bounded.py" and to_arrow.search(line):
                offenders.append(f"{rel}:{no}: toArrow outside bounded.py: {line.strip()}")
            if rel.startswith(("operators/", "streaming/")) and read_parquet.search(line):
                offenders.append(
                    f"{rel}:{no}: read.parquet outside IcepickTable.read: {line.strip()}"
                )
            if read_data_paths.search(line):
                offenders.append(
                    f"{rel}:{no}: icepick read outside IcepickTable.read: {line.strip()}"
                )
            if rel.startswith("streaming/") and "read_entity_store(" in line:
                offenders.append(f"{rel}:{no}: unpruned store read: {line.strip()}")
            if rel.startswith(("operators/", "streaming/")) and "os.path.getsize(" in line:
                offenders.append(f"{rel}:{no}: size test outside fits_driver: {line.strip()}")
            if rel in ("operators/entity_store.py", "operators/rindex.py") and (
                "bounded_arrow(" in line
            ):
                offenders.append(f"{rel}:{no}: collects its input: {line.strip()}")
            if catch_all.search(line):
                offenders.append(f"{rel}:{no}: catch-all except: {line.strip()}")
    assert not offenders, "\n".join(offenders)
