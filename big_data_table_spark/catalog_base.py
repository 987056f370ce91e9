"""Catalog infrastructure: the QuerySpec contract, fixture-view
registration (cached per session + sf_dir), and the dual-dialect
builder helper.  Split from catalog.py (r8); one shared view cache."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .functions.portable import DUCK, SPARK
from .sources.readers import FIXTURE_TABLES, ensure_session_confs, load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_registered_sf: dict[str, str] = {}  # spark application id -> registered sf_dir


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (the engine analogue of
    named datasets resident per node, reference big.data.table.R:281-291).
    ``events.ts`` is registered post-conversion (nanos → timestamp).

    Each table's schema comes from its parquet footer, read on the
    driver (``sources.readers.read_parquet``), so registering starts no
    Spark job.  Registration is cached per (session, sf_dir): repeated
    catalog calls in one session skip the 10 views' file listing and
    analysis; switching ``sf_dir`` mid-session re-registers everything."""
    app_id = spark.sparkContext.applicationId
    if _registered_sf.get(app_id) == sf_dir:
        return
    ensure_session_confs(spark)
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _registered_sf[app_id] = sf_dir


def _sql_query(spark_sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(spark_sql)

    return fn


def _dual(builder: Callable[[str], str], doc: str = "") -> QuerySpec:
    """A dual-dialect SQL operator: one builder, two dialects — the Spark
    query and its oracle share the algorithm by construction."""
    return QuerySpec(fn=_sql_query(builder(SPARK)), oracle=builder(DUCK), doc=doc)
