"""Schema-parity law for ``sources.readers.read_parquet``.

``read_parquet(spark, p).schema == spark.read.parquet(p).schema`` for
every fixture table, every relation the store verbs write, a
Spark-written partitioned relation of mixed types, and pyarrow files
whose types the footer mapping does or does not know.  Where the footer
mapping applies, the read starts no Spark job; where it declines (an
unknown type, a missing path, an empty directory), Spark infers as
before and raises the same exception class.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_table_spark.sources.readers import FIXTURE_TABLES, _footer_schema, read_parquet

from .conftest import SF_SMOKE, jobs_started


def _assert_parity(spark, path, footer=True):
    df, jobs = jobs_started(spark, lambda: read_parquet(spark, path))
    assert df.schema == spark.read.parquet(path).schema, path
    if footer:
        assert jobs == 0, f"{path}: {jobs} jobs"
    else:
        assert _footer_schema(spark, path) is None, path


def _fixture_dirs():
    root = os.path.dirname(SF_SMOKE)
    dirs = {SF_SMOKE} | set(glob.glob(os.path.join(root, "sf*")))
    return sorted(d for d in dirs if os.path.isdir(d))


@pytest.mark.parametrize("table", FIXTURE_TABLES)
def test_fixture_tables(spark, table):
    for d in _fixture_dirs():
        _assert_parity(spark, os.path.join(d, f"{table}.parquet"))


def _relation_dirs(root):
    """Every relation under ``root`` (``root`` itself unless it only
    groups sub-relations) plus the first ``key=value`` partition
    directory of each."""
    subdirs = [
        n for n in sorted(os.listdir(root))
        if not n.startswith((".", "_")) and os.path.isdir(os.path.join(root, n))
    ]
    relations = [n for n in subdirs if "=" not in n]
    if relations:
        return [r for n in relations for r in _relation_dirs(os.path.join(root, n))]
    return [root] + [os.path.join(root, n) for n in subdirs][:1]


def _store_cases():
    from .test_round9 import _rewrite_cases

    cases = _rewrite_cases()
    return {k: cases[k] for k in (
        "hll", "cms", "theta", "tdigest", "bitmap", "mg", "bloom", "bm25", "lsh", "setjoin",
    )}


@pytest.mark.parametrize("store", sorted(_store_cases()))
def test_store_relations(spark, sf_dir, tmp_path, store):
    path = str(tmp_path / "store")
    _store_cases()[store](spark, sf_dir, path)
    for rel in _relation_dirs(path):
        if glob.glob(os.path.join(rel, "**", "*.parquet"), recursive=True):
            _assert_parity(spark, rel)


def test_ann_store_relations(spark, sf_dir, tmp_path):
    from big_data_table_spark.functions import clustering as C
    from big_data_table_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    C.ivf_build(vecs, str(tmp_path / "ivf"), k=8, n_iter=2)
    C.ivfpq_build(vecs, str(tmp_path / "ivfpq"))
    for name in ("ivf", "ivfpq"):
        rels = _relation_dirs(str(tmp_path / name))
        assert len(rels) > 2, rels
        for rel in rels:
            _assert_parity(spark, rel)


def test_spark_written_mixed_relation(spark, tmp_path):
    """INT96 timestamps, NTZ, decimals, binary, nested types and two
    partition columns (one a date) — and the session confs the mapping
    reads, flipped, on the same relation."""
    rows = [
        (i, i % 2, dt.date(2024, 1, 1 + i % 3), dt.datetime(2024, 1, 1, i),
         decimal.Decimal(i) / 4, f"s{i}", bytearray(b"x" * i), [i], {"k": i}, (i, "a"))
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, p int, d date, ts timestamp, dec decimal(30,4), s string, "
        "b binary, arr array<int>, m map<string,int>, st struct<a:int,b:string>",
    ).select(
        "*",
        F.col("ts").cast("timestamp_ntz").alias("ntz"),
        F.col("id").cast("short").alias("sh"),
        F.col("id").cast("float").alias("f"),
        F.col("id").cast("decimal(9,2)").alias("dec9"),
    )
    root = str(tmp_path / "mixed")
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        df.write.partitionBy("d", "p").parquet(root)
    finally:
        spark.conf.set(key, before)
    part = os.path.join(root, sorted(n for n in os.listdir(root) if n.startswith("d="))[0])
    one_file = glob.glob(os.path.join(part, "*", "*.parquet"))[0]
    for p in (root, part, one_file):
        _assert_parity(spark, p)
    for flag in (
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.binaryAsString",
    ):
        with _conf_flipped(spark, flag):
            _assert_parity(spark, root)


@contextlib.contextmanager
def _conf_flipped(spark, key):
    before = spark.conf.get(key)
    spark.conf.set(key, "false" if before == "true" else "true")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _arrow_file(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def test_pyarrow_types_mapped(spark, tmp_path):
    """Every parquet type the mapping knows, under each conf it reads."""
    n = 3
    t = pa.table({
        "i8": pa.array(range(n), pa.int8()),
        "i16": pa.array(range(n), pa.int16()),
        "i32": pa.array(range(n), pa.int32()),
        "i64": pa.array(range(n), pa.int64()),
        "f": pa.array([0.5] * n, pa.float32()),
        "d": pa.array([0.5] * n, pa.float64()),
        "b": pa.array([True] * n),
        "s": pa.array(["a"] * n),
        "bin": pa.array([b"a"] * n),
        "fixed": pa.array([b"ab"] * n, pa.binary(2)),
        "dec9": pa.array([decimal.Decimal("1.25")] * n, pa.decimal128(9, 2)),
        "dec18": pa.array([decimal.Decimal("1.25")] * n, pa.decimal128(18, 2)),
        "dec38": pa.array([decimal.Decimal("1.25")] * n, pa.decimal128(38, 2)),
        "day": pa.array([dt.date(2024, 1, 2)] * n, pa.date32()),
        "ts_ms_utc": pa.array([dt.datetime(2024, 1, 2)] * n, pa.timestamp("ms", "UTC")),
        "ts_us": pa.array([dt.datetime(2024, 1, 2)] * n, pa.timestamp("us")),
        "ts_ns": pa.array([dt.datetime(2024, 1, 2)] * n, pa.timestamp("ns")),
        "vec": pa.array([[1.0, 2.0]] * n, pa.list_(pa.float32())),
    })
    path = _arrow_file(str(tmp_path / "typed.parquet"), t)
    _assert_parity(spark, path)
    for flag in (
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.binaryAsString",
    ):
        with _conf_flipped(spark, flag):
            _assert_parity(spark, path)


def test_pyarrow_unmapped_types_fall_back(spark, tmp_path):
    """A type the mapping does not know makes Spark infer, and the
    schema still matches; so do a footer column that is also a
    partition directory name and a summary file."""
    n = 2
    for name, arr in (
        ("u64", pa.array(range(n), pa.uint64())),
        ("u8", pa.array(range(n), pa.uint8())),
        ("st", pa.array([{"a": 1}] * n, pa.struct([("a", pa.int64())]))),
        ("m", pa.array([[("k", 1)]] * n, pa.map_(pa.string(), pa.int64()))),
        ("nested", pa.array([[[1]]] * n, pa.list_(pa.list_(pa.int64())))),
    ):
        t = pa.table({"id": pa.array(range(n), pa.int64()), name: arr})
        path = _arrow_file(str(tmp_path / f"{name}.parquet"), t)
        _assert_parity(spark, path, footer=False)
    root = tmp_path / "parted"
    _arrow_file(str(root / "k=1" / "a.parquet"), pa.table({"k": [1], "v": [2]}))
    _assert_parity(spark, str(root), footer=False)
    # a summary file, which Spark's inference reads before any data file
    summed = tmp_path / "summed"
    t = pa.table({"v": pa.array([1], pa.int64())})
    _arrow_file(str(summed / "a.parquet"), t)
    pq.write_metadata(t.schema, str(summed / "_common_metadata"))
    _assert_parity(spark, str(summed), footer=False)


def test_nanos_without_conf_fail_as_before(spark, tmp_path):
    t = pa.table({"ts": pa.array([dt.datetime(2024, 1, 2)], pa.timestamp("ns"))})
    path = _arrow_file(str(tmp_path / "ns.parquet"), t)
    with _conf_flipped(spark, "spark.sql.legacy.parquet.nanosAsLong"):
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
        _assert_same_error(spark, path)


def _assert_same_error(spark, path):
    with pytest.raises(Exception) as expected:
        spark.read.parquet(path).schema
    with pytest.raises(expected.type):
        read_parquet(spark, path).schema


def test_missing_and_empty_paths_fail_as_before(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    for path in (str(tmp_path / "missing"), str(empty)):
        assert _footer_schema(spark, path) is None
        _assert_same_error(spark, path)
