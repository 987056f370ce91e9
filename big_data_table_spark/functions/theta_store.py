"""Persisted theta/KMV day store — split out of sketches.py in r14
(module-budget rule, VERDICT r13 #2: sketches.py sat at 2500/2500
lines; the theta family is the natural cut).  sketches.py re-exports
every name here, so all historical import paths keep working.

The store is the OVERLAP-capable member of the day-partitioned store
matrix (HLL: distinct counts; t-digest: quantiles; Bloom: membership;
CMS: frequency).  The stored unit per day is the <=k-row KMV sample
``(day, v, h, n)``: the k smallest (h, v) pairs of the day's DISTINCT
keys plus the day's distinct count ``n`` replicated on each row
(required to distinguish n == k from n > k at read time — both leave
exactly k sample rows, but only the latter truncates the tail and
lowers theta below 2^32).  Merge class: SET — sample rows are
deterministic facts of the day's key set, so a replayed append only
writes duplicate rows and the read-side DISTINCT (or a compact)
restores the exact store: at-least-once delivery is safe, like the
Bloom position store and unlike the additive t-digest weights.  Range
reads answer "distinct keys over any day window" with the standard
theta-union estimator, and the same samples serve every overlap/churn
query (``theta_rolling_churn``) — ONE store, all of retention
analytics, days*k rows per query, never an events rescan.

Import discipline: the murmur3-finalizer kernels and shared helpers
stay in sketches.py; this module imports them INSIDE functions, never
at module top, so the sketches -> theta_store re-export and a direct
``import theta_store`` both resolve regardless of which module loads
first (no circular-import window).  ``store_layout`` imports only
``sources.readers`` from the package, so its helpers and
``read_parquet`` import at module top.

Reference parity note: the reference (jangorecki/big.data.table,
R/big.data.table.R) has no persisted sketch stores — declared
extension surface for the 100 TB pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .portable import SPARK
from .store_layout import _check_append_day, compact_all_days, compact_day
from ..sources.readers import read_parquet


def _theta_day_sample(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """Per-day KMV sample rows ``(day, v, h, n)`` from a ``(day, value)``
    frame: one DISTINCT, one partitioned rank window (k smallest (h, v)
    per day — never a global sort), one broadcast-sized per-day count."""
    from pyspark.sql import Window

    from .sketches import _hashed_values_grouped

    hv = _hashed_values_grouped(df, "day", value_col)
    n = hv.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("g").orderBy("h", "v")
    return (
        hv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .join(F.broadcast(n), "g")
        .select(F.col("g").alias("day"), "v", "h", "n")
    )


def theta_rollup_build(
    ev: DataFrame,
    path: str,
    value_col: str = "user_id",
    ts_col: str = "ts",
    k: int = 64,
) -> None:
    """Materialize the per-day KMV sample table at ``path``, partitioned
    by day (ISO string — lexicographic order IS date order, so string
    BETWEEN prunes correctly)."""
    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    rows = _theta_day_sample(ev.select(day, value_col), value_col, k)
    rows.write.mode("overwrite").partitionBy("day").parquet(path)


def theta_rollup_append_day(
    ev_day: DataFrame,
    path: str,
    day: str,
    value_col: str = "user_id",
    k: int = 64,
) -> None:
    """Incremental maintenance: sketch ONE day's events (caller filters)
    and append its ≤k sample rows as a new ``day=`` partition without
    touching prior days' files.  A REPLAYED append writes duplicate
    rows, not wrong rows — the sample is a deterministic function of the
    day's key set — and the read path's DISTINCT absorbs them (SET merge
    class), so at-least-once delivery into the store is safe.

    Single-day top-k comes from ``orderBy().limit(k)`` —
    TakeOrderedAndProject (per-partition partial top-k, merged on one
    ≤partitions·k-row reduce), NOT a day-partitioned rank window: with a
    literal day the partition expression is foldable, Catalyst removes
    it, and the 'partitioned' window silently becomes a single-task
    global sort of the whole day.  Rejects a FORGOTTEN day."""
    from .sketches import _hashed_values

    _check_append_day(day, path)
    hv = _hashed_values(ev_day.select(value_col), value_col)
    smp = hv.orderBy("h", "v").limit(k)
    n = hv.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rows = smp.crossJoin(F.broadcast(n)).select(
        F.lit(day).alias("day"), "v", "h", "n"
    )
    rows.write.mode("append").partitionBy("day").parquet(path)


def theta_rollup_compact(spark, path: str, day: str) -> int:
    """Compaction verb: rewrite ONE day to a single de-duplicated file
    (DISTINCT == the read-side replay absorption, made physical).
    Returns the data-file count after compaction (1)."""
    return compact_day(
        spark,
        path,
        day,
        lambda raw, dest: raw.distinct().coalesce(1).write.mode("overwrite").parquet(dest),
    )


def theta_rollup_compact_all(spark, path: str) -> dict[str, int]:
    """Compact every multi-file day (``store_layout.compact_all_days``)."""
    return compact_all_days(path, lambda day: theta_rollup_compact(spark, path, day))


def theta_rollup_range_estimate(
    spark, path: str, lo: str, hi: str, k: int = 64, checkpoint: bool = True
) -> DataFrame:
    """Range distinct-count from the persisted samples alone:
    ``(n_days, est_distinct)`` for days in ``[lo, hi]`` via the standard
    theta-union estimator — theta = MIN over days of each day's theta
    (h_k when the day truncated, 2^32 when it kept everything), estimate
    = |distinct sample keys below theta| · 2^32 / theta.  When no day in
    the range truncated, the estimate IS the exact distinct count.  The
    plan scans only the partition-pruned sample files: days·k rows."""
    from .sketches import _MOD

    full = float(_MOD)
    rows = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .distinct()  # replay absorption (SET merge class)
    )
    if checkpoint:
        # stats + probe + n_days reuse it; checkpoint=False keeps the
        # pruned file scan visible for the plan-pinning test
        rows = rows.localCheckpoint(eager=True)
    theta = rows.groupBy("day", "n").agg(F.max("h").alias("hk")).select(
        F.when(F.col("n") > k, F.col("hk").cast("double"))
        .otherwise(F.lit(full))
        .alias("th")
    )
    thmin = theta.agg(F.min("th").alias("th"))
    c = (
        rows.crossJoin(F.broadcast(thmin))
        .filter(F.col("h") < F.col("th"))
        .agg(F.countDistinct("v").alias("c"))
    )
    n_days = rows.select("day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return n_days.crossJoin(
        c.crossJoin(F.broadcast(thmin)).select(
            F.round(F.col("c") * F.lit(full) / F.col("th"), 4).alias("est_distinct")
        )
    )


def theta_rollup_range_sql(
    lo: str,
    hi: str,
    k: int = 64,
    dialect: str = SPARK,
    src: str = "events",
    ts_col: str = "ts",
    value_col: str = "user_id",
) -> str:
    """Oracle of :func:`theta_rollup_range_estimate` + an exact audit:
    re-derive the per-day samples from the raw events and apply the
    identical union estimator, so the driver hash proves the persisted
    (+replayed +compacted) store answers exactly what a from-scratch
    sketch pass would.  Columns: (n_days, est_distinct, exact_distinct)."""
    from .sketches import _MOD, _named_hash_ctes

    full = float(_MOD)
    pred = f"CAST({ts_col} AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    return f"""
WITH ev AS (
  SELECT CAST(CAST({ts_col} AS DATE) AS VARCHAR) AS day,
    CAST({value_col} AS BIGINT) AS vv
  FROM {src} WHERE {pred}),
dv AS (SELECT DISTINCT day, vv AS v FROM ev),
{_named_hash_ctes("_th", "dv", "day, v", "v", dialect)},
ranked AS (
  SELECT day, v, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h, v) AS rn
  FROM _thf),
stats AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM dv GROUP BY day),
smp AS (SELECT day, v, h FROM ranked WHERE rn <= {k}),
theta AS (
  SELECT s.day,
    CASE WHEN st.n > {k} THEN CAST(MAX(s.h) AS DOUBLE) ELSE {full!r} END AS th
  FROM smp s JOIN stats st ON s.day = st.day GROUP BY s.day, st.n),
thmin AS (SELECT MIN(th) AS th FROM theta),
kept AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS c FROM smp
  WHERE h < (SELECT th FROM thmin)),
nd AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days FROM dv),
ex AS (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_distinct FROM dv)
SELECT n_days,
  ROUND((SELECT c FROM kept) * {full!r} / (SELECT th FROM thmin), 4)
    AS est_distinct,
  exact_distinct
FROM nd CROSS JOIN ex
"""


def _add_finalizer_hash(df: DataFrame) -> DataFrame:
    """Apply the murmur3-finalizer chain to column ``v`` → ``h`` (the
    shared kernel of ``_hashed_values`` / ``_hashed_values_grouped``,
    exposed for frames with arbitrary carried group columns)."""
    from .sketches import _C1, _C2, _fold64_sql, _mulmod_sql, _shr_xor_sql

    return (
        df.withColumn("h", F.expr(_fold64_sql("v", SPARK)))
        .withColumn("h", F.expr(_mulmod_sql(_shr_xor_sql("h", 16, SPARK), _C1)))
        .withColumn("h", F.expr(_mulmod_sql(_shr_xor_sql("h", 13, SPARK), _C2)))
        .withColumn("h", F.expr(_shr_xor_sql("h", 16, SPARK)))
    )


def theta_rollup_grouped_build(
    ev: DataFrame,
    path: str,
    group_col: str,
    value_col: str = "user_id",
    ts_col: str = "ts",
    k: int = 64,
) -> None:
    """The theta store's GROUP dimension: per-(group, day) ≤k-row KMV
    samples, day-partitioned — per-tenant distinct counts and overlaps
    over any window from one store.  Same layout contract as the
    ungrouped store (SET merge class, day-grain appends); the sample
    rank window partitions by (group, day), so parallelism scales with
    groups×days.

    Note the append grain the sample forces: a day's sample is the k
    smallest of the day's FULL distinct key set, so writes are per
    completed (group, day) — a per-micro-batch streaming writer cannot
    recover the day's distinct count ``n`` from batch fragments (counts
    of overlapping batches don't merge; that is what the sketch itself
    is for).  Streaming maintenance for this store is therefore
    day-grain promotion (collect a day, then append), unlike the HLL
    register store whose rows MAX-merge at ANY grain."""
    from pyspark.sql import Window

    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    hv = _add_finalizer_hash(
        ev.select(
            F.col(group_col).alias("grp"), day, F.col(value_col).cast("long").alias("v")
        ).distinct()
    )
    n = hv.groupBy("grp", "day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("grp", "day").orderBy("h", "v")
    rows = (
        hv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .join(F.broadcast(n), ["grp", "day"])
        .select("grp", "day", "v", "h", "n")
    )
    rows.write.mode("overwrite").partitionBy("day").parquet(path)


def theta_rollup_grouped_range_estimate(
    spark, path: str, lo: str, hi: str, k: int = 64
) -> DataFrame:
    """Per-group range distinct counts from the persisted samples alone:
    ``(grp, n_days, est_distinct)`` — the theta-union estimator applied
    within each group (theta = MIN over the group's days)."""
    from .sketches import _MOD

    full = float(_MOD)
    rows = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .distinct()
        .localCheckpoint(eager=True)
    )
    theta = rows.groupBy("grp", "day", "n").agg(F.max("h").alias("hk")).select(
        "grp",
        F.when(F.col("n") > k, F.col("hk").cast("double"))
        .otherwise(F.lit(full))
        .alias("th"),
    )
    thmin = theta.groupBy("grp").agg(F.min("th").alias("th"))
    c = (
        rows.join(F.broadcast(thmin), "grp")
        .filter(F.col("h") < F.col("th"))
        .groupBy("grp")
        .agg(F.countDistinct("v").alias("c"))
    )
    n_days = rows.groupBy("grp").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    return (
        n_days.join(c, "grp")
        .join(F.broadcast(thmin), "grp")
        .select(
            "grp",
            "n_days",
            F.round(F.col("c") * F.lit(full) / F.col("th"), 4).alias("est_distinct"),
        )
    )


def theta_rollup_grouped_range_sql(
    lo: str,
    hi: str,
    k: int = 64,
    dialect: str = SPARK,
    src: str = "events",
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "user_id",
) -> str:
    """Oracle of :func:`theta_rollup_grouped_range_estimate` + per-group
    exact audit: (grp, n_days, est_distinct, exact_distinct)."""
    from .sketches import _MOD, _named_hash_ctes

    full = float(_MOD)
    pred = f"CAST({ts_col} AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    return f"""
WITH ev AS (
  SELECT {group_col} AS grp, CAST(CAST({ts_col} AS DATE) AS VARCHAR) AS day,
    CAST({value_col} AS BIGINT) AS vv
  FROM {src} WHERE {pred}),
dv AS (SELECT DISTINCT grp, day, vv AS v FROM ev),
{_named_hash_ctes("_tg", "dv", "grp, day, v", "v", dialect)},
ranked AS (
  SELECT grp, day, v, h,
    ROW_NUMBER() OVER (PARTITION BY grp, day ORDER BY h, v) AS rn
  FROM _tgf),
stats AS (
  SELECT grp, day, CAST(COUNT(*) AS BIGINT) AS n FROM dv GROUP BY grp, day),
smp AS (SELECT grp, day, v, h FROM ranked WHERE rn <= {k}),
theta AS (
  SELECT s.grp, s.day,
    CASE WHEN st.n > {k} THEN CAST(MAX(s.h) AS DOUBLE) ELSE {full!r} END AS th
  FROM smp s JOIN stats st ON s.grp = st.grp AND s.day = st.day
  GROUP BY s.grp, s.day, st.n),
thmin AS (SELECT grp, MIN(th) AS th FROM theta GROUP BY grp),
kept AS (
  SELECT s.grp, CAST(COUNT(DISTINCT s.v) AS BIGINT) AS c
  FROM smp s JOIN thmin t ON s.grp = t.grp WHERE s.h < t.th GROUP BY s.grp),
nd AS (
  SELECT grp, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days FROM dv GROUP BY grp),
ex AS (
  SELECT grp, CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_distinct
  FROM dv GROUP BY grp)
SELECT nd.grp, nd.n_days,
  ROUND(kept.c * {full!r} / thmin.th, 4) AS est_distinct,
  ex.exact_distinct
FROM nd
JOIN kept ON kept.grp = nd.grp
JOIN thmin ON thmin.grp = nd.grp
JOIN ex ON ex.grp = nd.grp
"""

