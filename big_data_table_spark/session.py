"""SparkSession lifecycle — the engine's analogue of the reference's
cluster layer (``rscl.connect`` / ``rscl.close``, reference rscl.R:13-47).

The reference opens N Rserve TCP connections and treats the list as the
cluster handle; here the cluster handle is a ``SparkSession``.  Every knob
is chosen for the target deployment (many-executor cluster over columnar
storage) while remaining correct on ``local[N]``:

* AQE on — runtime coalescing / skew-join splitting replaces the
  reference's static per-node dispatch (rscl.R:63-68).
* ``spark.sql.shuffle.partitions`` sized to the parallelism actually
  available instead of the 200 default.
* UTC session timezone so results are comparable with external oracles
  (DuckDB timestamps are UTC-naive).
* Arrow enabled: every pandas interchange (gather ``to_pandas``, pandas
  UDFs) goes through columnar batches, not row pickling.
* On a ``local`` master, ``file:`` paths go through
  ``jvm/NoForkLocalFileSystem.java`` (its built jar sits beside it).
  Without the native Hadoop library the stock local file system spawns
  a ``chmod`` process for every file it creates (the ``.crc`` sidecars
  included) and every directory it makes: ~120 per HLL store cycle, the
  larger part of a small store write.  The replacement sets the same
  modes through ``java.nio`` and keeps the checksum wrapper.  Streaming
  checkpoints use Hadoop's ``FileContext`` API, which this does not
  replace.
* The driver JVM's young generation is fixed at an eighth of its heap
  (``driver_java_options``): 256 MB for a 2g heap, about one olap
  query's allocation.  Left to itself, G1 sizes the young generation as
  a share of the heap and grows the heap after a burst of GC pauses by
  an amount that depends on how close together the pauses fell; Spark's
  per-job buffers of 1-4 MB (broadcast blocks, task-serialization
  chunks, parquet column chunks) each start a GC once the old
  generation nears its marking threshold, which makes such bursts.  So
  one run of a workload held ~350 MB more than the next.  With a fixed
  young generation a heap growth commits address space but the touched
  memory stays the same.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "big-data-table-spark"

NO_FORK_FS_JAR = os.path.join(os.path.dirname(__file__), "jvm", "nofork-localfs.jar")
NO_FORK_FS_CLASS = "bigdatatable.NoForkLocalFileSystem"

_VIEW_LOCK = __import__("threading").Lock()
_VIEW_SEQ = 0
_LAST_VIEW: dict[str, str] = {}


def register_temp_view(df, prefix: str) -> str:
    """Register ``df`` as a temp view under a UNIQUE per-call name
    (``{prefix}_{n}``) and return the name (r9 ADVICE: fixed
    session-global view names let two concurrently-built lazy queries
    read each other's replaced views).  Callers interpolate the
    returned name into their SQL text; the dual-dialect ORACLE texts
    keep their fixed names — DuckDB runs each oracle in its own
    connection, where no collision exists.

    The PREVIOUS view of the same prefix is dropped (r10 review): a
    never-dropped view pins its analyzed plan — and the eagerly
    localCheckpoint'ed blocks under it — for the whole session, so a
    330-entry sweep would accumulate one corpus-scale materialization
    per call.  Sequential re-evaluation of an entry (the driver, the
    parity suite, bench verb loops) therefore releases the prior
    generation; a still-unexecuted older query of the SAME prefix
    fails LOUDLY (view not found) instead of silently reading replaced
    data — strictly better than both the fixed-name behavior and the
    leak.  The counter is lock-protected (+= on a global is not
    atomic)."""
    global _VIEW_SEQ
    with _VIEW_LOCK:
        _VIEW_SEQ += 1
        name = f"{prefix}_{_VIEW_SEQ}"
        prev = _LAST_VIEW.get(prefix)
        _LAST_VIEW[prefix] = name
    df.createOrReplaceTempView(name)
    if prev is not None:
        df.sparkSession.catalog.dropTempView(prev)
    return name


def default_parallelism() -> int:
    """Local-mode thread count; on a real cluster this is ignored."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def local_fs_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The confs that put ``file:`` paths on the no-fork local file
    system: the jar appended to ``spark.driver.extraClassPath`` (after any
    value in ``extra_conf``) and ``spark.hadoop.fs.file.impl``.  Empty for
    a master other than ``local``/``local[...]`` (executors in other JVMs
    would not have the jar), when ``extra_conf`` names its own
    ``spark.hadoop.fs.file.impl``, and when this process already runs a
    JVM that cannot load the class (a new class path takes effect only
    in a new JVM)."""
    from pyspark import SparkContext

    if not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    if "spark.hadoop.fs.file.impl" in extra_conf:
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(NO_FORK_FS_CLASS):
        return {}
    cp = extra_conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": f"{cp}{os.pathsep}{NO_FORK_FS_JAR}" if cp else NO_FORK_FS_JAR,
        "spark.hadoop.fs.file.impl": NO_FORK_FS_CLASS,
    }


def driver_java_options(driver_memory: str) -> str:
    """The JVM options ``connect`` starts the driver with for a heap of
    ``driver_memory`` (Spark's size syntax; a bare number is MiB): a
    young generation fixed at an eighth of it.  Empty for a size this
    does not parse."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_memory.strip().lower())
    if m is None:
        return ""
    mib = int(m.group(1)) * {"k": 1 / 1024, "": 1, "m": 1, "g": 1 << 10, "t": 1 << 20}[m.group(2)]
    return f"-Xmn{max(1, int(mib) >> 3)}m"


def connect(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Open the cluster handle (reference ``rscl.connect`` rscl.R:13-40).

    The reference recycles host×port vectors to build N connections and
    auto-loads packages per node; Spark subsumes both (executor launch +
    ``spark.submit.pyFiles``).  ``extra_conf`` is the escape hatch for
    per-deployment settings; on a local master the no-fork file system
    confs (``local_fs_conf``) are added to it.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    extra_conf = dict(extra_conf or {})
    extra_conf.update(local_fs_conf(master, extra_conf))
    driver_memory = extra_conf.get("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # fixtures store ns-precision timestamps; read TIMESTAMP(NANOS)
        # columns as raw int64 nanos (converted to micros by the readers) —
        # `false` would make Spark reject such files outright, and
        # ensure_session_confs() pins `true` as well
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        # read only when this call launches the JVM; the caller's
        # spark.driver.extraJavaOptions come after these and so win
        .config("spark.driver.defaultJavaOptions", driver_java_options(driver_memory))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def close(spark: SparkSession) -> None:
    """Reference ``rscl.close`` (rscl.R:45-47)."""
    spark.stop()


def require(
    spark: SparkSession,
    packages: list[str],
    paths: list[str] | None = None,
):
    """Cluster-wide dependency staging + per-executor import probe — the
    engine's ``rscl.require`` (reference rscl.R:145-158, which loads a
    package on every node and returns a logical success matrix).

    ``paths`` are shipped with ``sc.addPyFile`` (a directory is zipped
    first — Spark unpacks archives onto every executor's ``sys.path``);
    ``packages`` are then import-probed INSIDE an Arrow-batched task on
    every core of the cluster, so the returned DataFrame is the success
    matrix measured where the code will actually run, not on the driver:

    ``probe_id long, pid long, package string, ok boolean, error string``

    One row per (probe task × package).  ``df.groupBy("package")
    .agg(F.min("ok"))`` is the reference's ``simplify=TRUE`` vector.
    Config-time alternatives (``spark.submit.pyFiles``, conda/venv
    archives) remain the right tool for heavy native deps — this is the
    *runtime* path for shipping pure-Python code mid-session.
    """
    import shutil
    import tempfile

    sc = spark.sparkContext
    for p in paths or []:
        if os.path.isdir(p):
            staged = os.path.join(
                tempfile.mkdtemp(prefix="bdt_require_"),
                os.path.basename(os.path.normpath(p)),
            )
            p = shutil.make_archive(staged, "zip", root_dir=os.path.dirname(p) or ".",
                                    base_dir=os.path.basename(os.path.normpath(p)))
        sc.addPyFile(p)

    pkgs = list(packages)
    n = sc.defaultParallelism

    def _probe(batches):
        import importlib
        import os as _os

        import pandas as pd

        for pdf in batches:
            rows = []
            for probe_id in pdf["id"]:
                for pkg in pkgs:
                    try:
                        importlib.import_module(pkg)
                        rows.append((int(probe_id), _os.getpid(), pkg, True, None))
                    except Exception as e:  # noqa: BLE001 — the error IS the result
                        rows.append((int(probe_id), _os.getpid(), pkg, False, repr(e)))
            yield pd.DataFrame(
                rows, columns=["probe_id", "pid", "package", "ok", "error"]
            )

    return (
        # range with an EXPLICIT partition count: exactly one id per
        # partition by construction, no shuffle.  (`repartition(n)` is
        # round-robin from a random start offset, and hash/range
        # repartitioning can collide — either way some of the n tasks can
        # end up empty, and an empty mapInPandas task yields no probe
        # rows, silently shrinking the matrix below one-probe-per-core.)
        spark.range(0, n, 1, numPartitions=n)
        .mapInPandas(_probe, "probe_id long, pid long, package string, ok boolean, error string")
    )
