"""Source/sink coverage: ORC round-trip, hive-partitioned writes with
partition pruning, size estimation, and the streaming watermark late-data
policy."""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_table_spark import BigDataTable
from big_data_table_spark.plans.explainer import formatted_plan
from big_data_table_spark.sources.readers import Tables, read_orc, write_parquet


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    li = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_quantity")
    path = str(tmp_path / "li_orc")
    li.write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    assert back.count() == li.count()
    a = li.agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))).collect()[0][0]
    b = back.agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))).collect()[0][0]
    assert a == b


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-layout writes (partitionBy) enable partition pruning: a filter
    on the partition column must show up as a PartitionFilter, not a data
    filter — at 100 TB this is the difference between reading one
    directory and the whole lake."""
    o = Tables(spark, sf_dir).orders
    path = str(tmp_path / "orders_part")
    write_parquet(o, path, partition_by=["o_orderstatus"])
    back = spark.read.parquet(path)
    q = back.filter(F.col("o_orderstatus") == "F")
    plan = formatted_plan(q)
    scan = plan[plan.index("Scan parquet") :]
    assert "PartitionFilters" in scan
    pf_line = [l for l in scan.splitlines() if "PartitionFilters" in l][0]
    assert "o_orderstatus" in pf_line
    expected = o.filter(F.col("o_orderstatus") == "F").count()
    assert q.count() == expected


def test_size_estimate(spark, sf_dir):
    t = Tables(spark, sf_dir)
    big = BigDataTable(t.lineitem).size_estimate()
    small = BigDataTable(t.nation).size_estimate()
    assert big > small > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: rows arriving
    after the watermark has passed their window are DROPPED.  Two
    micro-batches via a file stream — batch 2 carries an event 2 hours
    older than batch 1's max, beyond the 10-minute watermark."""
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.DoubleType())]
    )

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "v"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    write_batch("b1", [("2024-01-01 10:00:30", 1.0), ("2024-01-01 12:00:00", 2.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time row near the watermark frontier and one
        # 2-hours-late row whose window closed long ago
        write_batch("b2", [("2024-01-01 10:01:00", 100.0), ("2024-01-01 12:01:00", 3.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.table("wm_test").select(
        F.col("window.start").cast("string").alias("ws"), "n", "s"
    ).collect()
    finalized = {r["ws"]: (r["n"], r["s"]) for r in out}
    # the 10:00 window was finalized by batch 1's 12:00 event advancing the
    # watermark; the late 10:01 row must NOT appear in it
    assert finalized.get("2024-01-01 10:00:00") == (1, 1.0), finalized


def test_ls_tables_and_str(spark, sf_dir):
    """A7/A8: resident-dataset listing + structure dump."""
    from big_data_table_spark.catalog import register_views
    from big_data_table_spark.sources.readers import ls_str, ls_tables

    register_views(spark, sf_dir)
    names = ls_tables(spark)
    assert {"lineitem", "orders", "events"}.issubset(set(names))
    schemas = ls_str(spark)
    assert schemas["events"].startswith("struct<event_id:bigint,ts:timestamp")


def test_query_log_captures_error(spark):
    """A5/A16 error-as-value semantics: a failing query is logged (row
    with out_rows=None) and the log keeps accepting queries — the
    reference's per-node try + client-success shape
    (tests-08-logging.R:84-96)."""
    import pytest as _pytest

    from big_data_table_spark.plans import QueryLog

    log = QueryLog()
    bad = spark.sql("SELECT assert_true(id > 100, 'boom') FROM range(1)")
    with _pytest.raises(Exception):
        log.run("bad", bad)
    good = spark.range(3)
    log.run("good", good)
    assert [r.name for r in log.rows] == ["bad", "good"]
    assert log.rows[0].out_rows is None and log.rows[1].out_rows == 3


def test_stream_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Exactly-once file-source semantics: stop a stream after batch 1,
    restart from the SAME checkpoint, feed batch 2 — the restarted query
    must process only the new file (no reprocessing, no loss)."""
    src = tmp_path / "restart_src"
    src.mkdir()
    ckpt = str(tmp_path / "restart_ckpt")
    out_name = "restart_out"
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )

    def write_file(name, start):
        pdf = pd.DataFrame({"k": range(start, start + 100), "v": [1.0] * 100})
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def start_stream():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        # streaming forbids exact countDistinct; count + key-sum detect
        # both reprocessing (sum too high) and loss (sum too low)
        counted = stream.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("k").alias("sk")
        )
        return (
            counted.writeStream.outputMode("complete")
            .format("memory")
            .queryName(out_name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_file("f1", 0)
    q = start_stream()
    try:
        q.processAllAvailable()
        first = spark.table(out_name).collect()[0]
        assert (first["n"], first["sk"]) == (100, sum(range(100)))
    finally:
        q.stop()

    write_file("f2", 100)  # disjoint keys
    q2 = start_stream()
    try:
        q2.processAllAvailable()
        final = spark.table(out_name).collect()[0]
        # 200 rows total with the exact key sum: batch 1 not reprocessed
        # (state restored), batch 2 not lost
        assert (final["n"], final["sk"]) == (200, sum(range(200))), final
    finally:
        q2.stop()


def test_foreachbatch_idempotent_sink(spark, tmp_path):
    """Exactly-once file sink via foreachBatch: write each micro-batch to
    a batchId-named directory (idempotent on retry — a re-run of the same
    batchId overwrites, never duplicates)."""
    src = tmp_path / "fb_src"
    src.mkdir()
    out = tmp_path / "fb_out"
    schema = T.StructType([T.StructField("k", T.LongType())])

    spark.createDataFrame(pd.DataFrame({"k": range(50)}), schema=schema).coalesce(
        1
    ).write.parquet(str(src / "f1"))

    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append(batch_id)
        # batchId-keyed path + overwrite = idempotent under retries
        batch_df.write.mode("overwrite").parquet(str(out / f"batch={batch_id}"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen_batches == [0]
    written = spark.read.parquet(str(out / "batch=0"))
    assert written.count() == 50
    # idempotency: re-running the same batch overwrites, same result
    sink(spark.read.parquet(str(src / "f1")), 0)
    assert spark.read.parquet(str(out / "batch=0")).count() == 50


def test_lakehouse_stubs_raise_cleanly(spark):
    """Delta/Iceberg/Hudi jars are absent: each connector must fail with
    a clear NotImplementedError naming the dependency, not a Py4J error."""
    import pytest as _pytest

    from big_data_table_spark.sources.lakehouse import read_delta, read_hudi, read_iceberg

    with _pytest.raises(NotImplementedError, match="delta-spark"):
        read_delta(spark, "/tmp/nope")
    with _pytest.raises(NotImplementedError, match="iceberg"):
        read_iceberg(spark, "cat.db.t")
    with _pytest.raises(NotImplementedError, match="hudi"):
        read_hudi(spark, "/tmp/nope")


def test_side_table_read_without_ignored_paths(spark, tmp_path):
    """A ``.``-named tombstone relation reads the same rows through its
    data files, and Spark no longer logs "All paths were ignored" (the
    warning reading the directory itself logs)."""
    from big_data_table_spark.sources.readers import read_parquet, read_side_table

    d = str(tmp_path / "store" / ".tombstones")
    assert read_side_table(spark, d) is None
    spark.range(5).select(F.col("id").alias("vec_id")).write.parquet(d)
    spark.range(3, 9, numPartitions=3).select(F.col("id").alias("vec_id")).write.mode(
        "append"
    ).parquet(d)
    # a log4j appender on Spark's DataSource logger collects its warnings
    jvm = spark.sparkContext._jvm
    log4j = jvm.org.apache.logging.log4j
    logger = log4j.LogManager.getLogger("org.apache.spark.sql.execution.datasources.DataSource")
    sink = jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        None, None, sink, "side-table-test", False, True
    )
    appender.start()
    old = logger.getLevel()
    logger.addAppender(appender)
    logger.setLevel(log4j.Level.WARN)
    try:
        want = sorted(r.vec_id for r in read_parquet(spark, d).collect())
        assert "All paths were ignored" in sink.toString()
        sink.getBuffer().setLength(0)
        got = sorted(r.vec_id for r in read_side_table(spark, d).collect())
        assert "All paths were ignored" not in sink.toString()
    finally:
        logger.removeAppender(appender)
        logger.setLevel(old)
        appender.stop()
    assert got == want == sorted([*range(5), *range(3, 9)])


def test_wide_side_table_read_starts_no_job(spark, tmp_path):
    """Past Spark's parallel-listing threshold, one root path per data
    file would be listed by a Spark job; the directory read lists on the
    driver and reads the same rows."""
    from big_data_table_spark.sources.readers import read_side_table

    from .conftest import jobs_started

    threshold = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    d = str(tmp_path / "store" / ".tombstones")
    spark.range(threshold + 8, numPartitions=threshold + 8).select(
        F.col("id").alias("vec_id")
    ).write.parquet(d)
    assert sum(n.endswith(".parquet") for n in os.listdir(d)) > threshold
    df, n = jobs_started(spark, lambda: read_side_table(spark, d))
    assert n == 0
    assert sorted(r.vec_id for r in df.collect()) == list(range(threshold + 8))
