"""The no-fork local file system that ``session.connect`` puts under
``file:`` paths on a local master (``jvm/NoForkLocalFileSystem.java``):
it is the session's file system, it spawns no ``chmod`` across a store
cycle, it leaves the modes the stock file system writes, and ``connect``
adds it only where the JVM can load it."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap

import pytest

from big_data_table_spark.session import (
    NO_FORK_FS_CLASS,
    NO_FORK_FS_JAR,
    local_fs_conf,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK_FS_CLASS = "org.apache.hadoop.fs.LocalFileSystem"


def _run_child(script: str, *args: str, env: dict[str, str] | None = None) -> dict:
    """Run ``script`` in a fresh Python process (and so a fresh JVM) from
    the repo root; its last stdout line is a JSON object."""
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), *args],
        cwd=ROOT,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "1g", **(env or {})},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_session_file_system_is_no_fork(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == NO_FORK_FS_CLASS
    assert spark.conf.get("spark.hadoop.fs.file.impl") == NO_FORK_FS_CLASS


def test_local_fs_conf_only_for_local_masters():
    expect = {
        "spark.driver.extraClassPath": NO_FORK_FS_JAR,
        "spark.hadoop.fs.file.impl": NO_FORK_FS_CLASS,
    }
    for master in ("local", "local[4]", "local[*]", "local[2,3]"):
        assert local_fs_conf(master, {}) == expect, master
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]", "k8s://h"):
        assert local_fs_conf(master, {}) == {}, master
    # the caller's class path is kept, the jar goes after it
    conf = local_fs_conf("local[2]", {"spark.driver.extraClassPath": "/x.jar"})
    assert conf["spark.driver.extraClassPath"] == f"/x.jar{os.pathsep}{NO_FORK_FS_JAR}"
    # an explicit file system wins
    assert local_fs_conf("local[2]", {"spark.hadoop.fs.file.impl": STOCK_FS_CLASS}) == {}
    assert os.path.isfile(NO_FORK_FS_JAR)


def _modes(root: str) -> dict[str, int]:
    """``{path relative to root: permission bits}`` of everything under it."""
    out = {}
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = stat.S_IMODE(os.stat(p).st_mode)
    return out


@pytest.mark.parametrize("umask", [None, "077"])
def test_modes_match_stock_file_system(spark, tmp_path, umask):
    """The same calls through a stock and a no-fork instance leave the
    same modes: create (the file and its ``.crc``), ``mkdirs`` with and
    without a permission, and a ``setPermission`` with the sticky bit,
    which the no-fork class hands to the stock method."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    seen = {}
    for cls in (STOCK_FS_CLASS, NO_FORK_FS_CLASS):
        conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
        conf.set("fs.file.impl", cls)
        if umask is not None:
            conf.set("fs.permissions.umask-mode", umask)
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
        assert fs.getClass().getName() == cls
        root = str(tmp_path / cls.rsplit(".", 1)[1])
        try:
            for part in ("part-0", "part-1"):
                out = fs.create(hpath(f"file://{root}/a/b/{part}.parquet"))
                out.write(b"x" * 10)
                out.close()
            fs.mkdirs(hpath(f"file://{root}/c/d"))
            fs.mkdirs(hpath(f"file://{root}/e"), perm(0o750))
            fs.mkdirs(hpath(f"file://{root}/sticky"))
            fs.setPermission(hpath(f"file://{root}/sticky"), perm(0o1777))
            fs.setPermission(hpath(f"file://{root}/a/b/part-1.parquet"), perm(0o600))
        finally:
            fs.close()
        seen[cls] = _modes(root)
    assert seen[NO_FORK_FS_CLASS] == seen[STOCK_FS_CLASS]
    modes = seen[NO_FORK_FS_CLASS]
    assert modes["sticky"] == 0o1777
    assert modes["a/b/part-1.parquet"] == modes["a/b/.part-1.parquet.crc"] == 0o600
    assert modes["a/b/part-0.parquet"] == (0o644 if umask is None else 0o600)
    assert modes["a/b/.part-0.parquet.crc"] == modes["a/b/part-0.parquet"]
    assert modes["e"] == (0o750 if umask is None else 0o700)
    assert modes["c/d"] == (0o755 if umask is None else 0o700)


def test_spark_write_keeps_stock_modes(spark, tmp_path):
    """A partitioned parquet write through the session: 0644 files (the
    ``.crc`` sidecars and ``_SUCCESS`` included), 0755 directories."""
    out = str(tmp_path / "t")
    spark.range(20).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(out)
    modes = _modes(out)
    files = {p for p in modes if os.path.isfile(os.path.join(out, p))}
    assert any(p.endswith(".crc") for p in files) and "_SUCCESS" in files
    assert {modes[p] for p in files} == {0o644}
    assert {m for p, m in modes.items() if p not in files} == {0o755}
    assert spark.read.parquet(out).count() == 20


_CYCLE = """
    import json, os, sys
    from pyspark.sql import functions as F
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.session import connect
    from big_data_table_spark.sources.readers import load_table

    spark = connect(master="local[2]", shuffle_partitions=2)
    log = os.environ["CHMOD_LOG"]

    def calls():
        return sum(1 for _ in open(log)) if os.path.exists(log) else 0

    ev = load_table(spark, sys.argv[1], "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    last = ev.agg(F.max(day)).first()[0]
    tmp = sys.argv[2]
    path = os.path.join(tmp, "hll")
    SK.hll_rollup_build(ev.filter(day != last), path)
    for _ in range(2):  # the second append is a replay
        SK.hll_rollup_append_day(ev.filter(day == last), path, last)
    SK.hll_rollup_compact_all(spark, path)
    est = SK.hll_rollup_range_estimate(spark, path, "2000-01-01", "2100-01-01").first()
    cycle = calls()
    # control: one file through the stock class in this JVM is logged
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
    fs.create(jvm.org.apache.hadoop.fs.Path("file://" + tmp + "/stock")).close()
    fs.close()
    print(json.dumps({"cycle": cycle, "control": calls() - cycle, "n_days": est[0]}))
    spark.stop()
"""


def test_store_cycle_spawns_no_chmod(sf_dir, tmp_path):
    """Build, append, replayed append and compact of the HLL day store
    through ``connect()`` in a child whose ``PATH`` starts with a
    ``chmod`` that logs each call: the cycle logs none, while one file
    created through the stock class in the same JVM is logged (the file
    and its ``.crc``)."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(
        f'#!/bin/sh\necho "$*" >> "$CHMOD_LOG"\nexec {shutil.which("chmod")} "$@"\n'
    )
    wrapper.chmod(0o755)
    env = {
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "CHMOD_LOG": str(tmp_path / "chmod.log"),
    }
    out = _run_child(_CYCLE, sf_dir, str(tmp_path), env=env)
    assert out["n_days"] > 0
    assert out["cycle"] == 0, out
    assert out["control"] == 2, out


_STARTED_WITHOUT_JAR = """
    import json, os, sys
    from pyspark.sql import SparkSession
    from big_data_table_spark.session import connect

    plain = SparkSession.builder.master("local[1]").getOrCreate()
    plain.stop()  # the JVM and its gateway stay up, without the jar
    spark = connect(master="local[1]", shuffle_partitions=1)
    path = os.path.join(sys.argv[1], "t")
    spark.range(10).write.parquet(path)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    print(json.dumps({
        "rows": spark.read.parquet(path).count(),
        "fs": fs.getClass().getName(),
        "impl": spark.conf.get("spark.hadoop.fs.file.impl", None),
    }))
    spark.stop()
"""


def test_connect_in_jvm_started_without_jar(tmp_path):
    """A JVM started by a plain session cannot load the class; connect()
    then adds neither conf, and parquet still writes and reads."""
    out = _run_child(_STARTED_WITHOUT_JAR, str(tmp_path))
    assert out["rows"] == 10 and out["impl"] is None
    assert out["fs"] != NO_FORK_FS_CLASS
