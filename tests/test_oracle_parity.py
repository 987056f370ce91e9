"""The correctness gate, self-hosted: every catalog query with an oracle is
run through Spark AND DuckDB on the same parquet fixtures and compared
value-exactly (the reference's equivalence-oracle technique,
tests-03-as.big.data.table.R:53-60, upgraded to a cross-engine oracle —
SURVEY.md §5)."""

from __future__ import annotations

import pytest

from big_data_table_spark.catalog import CATALOG

from .conftest import assert_frames_match

ORACLE_QUERIES = [name for name, spec in CATALOG.items() if spec.oracle]
ROWS_ONLY_QUERIES = [name for name, spec in CATALOG.items() if not spec.oracle]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, sf_dir, name):
    spec = CATALOG[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_no_rows_only_entries():
    """Since r6 every catalog entry carries a full value-hash oracle —
    the two former physical diagnostics were reformulated (explicit
    portable shard / tolerance audit).  Pin the invariant: a new
    oracle-less entry must be a deliberate, documented decision."""
    assert ROWS_ONLY_QUERIES == []


def test_driver_head_leads_catalog():
    """The correctness driver samples the first 50 ``queries()`` keys;
    that window is ``DRIVER_HEAD``.  The catalog holds 369 entries and
    every oracle key names a query."""
    from big_data_table_spark.catalog import DRIVER_HEAD, oracle_sql, queries

    assert list(CATALOG)[:50] == list(DRIVER_HEAD)
    assert len(DRIVER_HEAD) == len(set(DRIVER_HEAD)) == 50
    assert len(CATALOG) == 369
    assert set(oracle_sql()) <= set(queries())


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))
