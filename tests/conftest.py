"""Shared pytest fixtures: one local SparkSession per test run + a DuckDB
oracle connection with the fixture tables registered as views — the same
comparison the driver harness performs (TESTDATA.md: t1 smoke at sf0.001,
t2 correctness at sf0.01)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from big_data_table_spark.session import connect
from big_data_table_spark.sources.readers import FIXTURE_TABLES

SF_SMOKE = os.environ.get("BDT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "fixture_pinned: asserts constants tuned on the canonical driver "
        "fixtures (recall thresholds, measured row counts); skipped when "
        "BDT_GENERATED_FIXTURES=1 says the data was regenerated",
    )


def pytest_collection_modifyitems(config, items):
    """The suite is integration-first: every test needs the parquet
    fixtures.  On hosts without them (e.g. a bare CI runner) skip the
    whole run instead of failing at session setup."""
    if not os.path.isdir(SF_SMOKE):
        skip = pytest.mark.skip(reason=f"fixture dir {SF_SMOKE} absent")
        for item in items:
            item.add_marker(skip)
    if os.environ.get("BDT_GENERATED_FIXTURES") == "1":
        skip_pinned = pytest.mark.skip(
            reason="constant tuned on canonical fixtures; data is regenerated"
        )
        for item in items:
            if "fixture_pinned" in item.keywords:
                item.add_marker(skip_pinned)


# the suite's heap cap (connect() defaults to 16g).  A full run peaked at
# 4.0 GB of old generation and 7.5 GB of heap in use, with 9 GB committed
# and 10.8 GB resident under the 16g default; cached and checkpointed
# blocks spill to disk once storage memory is full
TEST_DRIVER_MEMORY = "6g"


@pytest.fixture(scope="session")
def spark():
    s = connect(
        app_name="bdt-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": TEST_DRIVER_MEMORY},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def build_jobs():
    """name -> Spark jobs started while building that catalog entry, as
    recorded by the exchange-budget pass, so the job budget does not
    build all entries a second time."""
    return {}


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def jobs_started(spark, fn):
    """``(fn(), number of Spark jobs fn started)``.  The call runs under
    its own job group, counted through the StatusTracker as
    ``StageLog.run`` does; jobs with no group that appear meanwhile
    (started by pool threads, which do not inherit the group) count too."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"bdt-jobs-{time.monotonic_ns()}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "jobs_started")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    new = set(tracker.getJobIdsForGroup(None)) - ungrouped
    return out, len(tracker.getJobIdsForGroup(group)) + len(new)


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted by all columns — mirrors the driver's value-hash comparison."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        # DuckDB hands back int32/decimal columns where Spark gives int64/float
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
        elif pdf[c].dtype == object and len(pdf) and isinstance(pdf[c].iloc[0], (list, np.ndarray)):
            pdf[c] = pdf[c].apply(lambda v: tuple(v))
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            # a Decimal-object column here means one engine emitted
            # DECIMAL where the other emitted DOUBLE — float64 coercion
            # would hide it, but the driver's value-hash does not: make
            # the query cast explicitly instead
            for side, vals in (("spark", av), ("oracle", bv)):
                if vals.dtype == object and len(vals):
                    import decimal

                    assert not isinstance(vals.iloc[0], decimal.Decimal), (
                        f"{name}: col {c} is DECIMAL on the {side} side but "
                        "float on the other — cast to DOUBLE in the query"
                    )
            av = av.astype("float64")
            bv = bv.astype("float64")
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                bad = (~eq).idxmax()
                raise AssertionError(
                    f"{name}: float col {c} differs at row {bad}: "
                    f"{av[bad]!r} vs {bv[bad]!r} (maxdiff="
                    f"{np.nanmax(np.abs(av - bv))})"
                )
        else:
            if not av.equals(bv):
                neq = av.astype(object) != bv.astype(object)
                bad = neq.idxmax()
                raise AssertionError(
                    f"{name}: col {c} differs at row {bad}: {av[bad]!r} vs {bv[bad]!r}"
                )
