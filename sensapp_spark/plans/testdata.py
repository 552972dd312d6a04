"""Adapter: driver testdata → sensapp data model (FIXTURES.md §F9).

The driver's synthetic ``events`` table plays the value tables (timestamped
facts per key) and a derived dimension plays ``sensors``:

* one sensor per (event_type, user_id) pair — name = event_type,
  labels = {user: <user_id>, region: r<user_id%3> (absent when %3 == 0)};
* ``sensor_id`` is the deterministic string ``event_type/user_id`` so the
  DuckDB oracle can reproduce it in pure SQL (the production blake3-keyed
  UUID of sensapp_spark.datamodel.sensor is covered by unit tests instead);
* the ``region`` label is deliberately absent for a third of sensors to
  exercise the absent-label matcher semantics of
  reference src/storage/query.rs:18-34.

Scale note: the sensors frame is built by a distinct over the fact table
here because the testdata has no dimension file; in production the sensors
dimension is its own small table (MERGE-maintained on ingest) and this
aggregation never happens at query time.
"""

from __future__ import annotations

import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ensure_session_confs(spark: SparkSession) -> None:
    """Confs every registry query depends on, set defensively because the
    DRIVER brings its own SparkSession (not our get_spark): UTC session
    timezone (date_trunc/bucketing must agree with the DuckDB oracle) and
    ns-parquet compatibility."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# Per-session memo for the registry's input frames (round 14 — the
# driver should do almost no data work): ``spark.read.parquet``
# pays a driver-side reader init (file listing + footer schema read) on
# every call, and the tagged-union entries call the loaders once per
# case. Reader frames are memoized as unexecuted plans, so every
# bench/oracle invocation still computes from the parquet inputs; the
# derived sensors dimension is memoized cached (it is tiny and
# immutable per sf_dir). Entries hang off the session object itself,
# held weakly, never off ``id(spark)``: an id can come back for a later
# session, an object cannot.
_SESSION_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return ``build()`` memoized per (session, ``key``). The session
    confs are re-applied on every lookup, hit or miss: a caller may have
    changed them since the frame was memoized."""
    ensure_session_confs(spark)
    memo = _SESSION_MEMO.setdefault(spark, {})
    cached = memo.get(key)
    if cached is None:
        cached = memo[key] = build()
    return cached


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events fact table, normalizing ``ts`` to a µs timestamp.

    Earlier driver testdata stored ns-precision timestamps (which Spark's
    parquet reader surfaces as int64 under the nanosAsLong conf); current
    testdata stores µs TIMESTAMP directly. Handle both: if ``ts`` arrives
    as a long, it is ns — integer-DIV to µs (a double division would round
    at ~256 ns granularity for 2024 epochs, 53-bit mantissa < 1.7e18)."""
    return session_memo(
        spark, ("events", sf_dir), lambda: _read_events(spark, sf_dir)
    )


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        # Parquet µs timestamps with isAdjustedToUTC=false surface as
        # TIMESTAMP_NTZ; cast to TimestampType (session tz is pinned UTC,
        # so the wall clock is preserved) for the epoch-arithmetic
        # operators downstream.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def events_sensors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensors dimension derived from events: one series per
    (event_type, user_id)."""
    return session_memo(
        spark, ("sensors", sf_dir), lambda: _derive_sensors(spark, sf_dir)
    )


def _derive_sensors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.select("event_type", "user_id").distinct()
    user = F.col("user_id").cast("string")
    region = F.when(
        F.col("user_id") % 3 != 0,
        F.concat(F.lit("r"), (F.col("user_id") % 3).cast("string")),
    )
    labels = F.map_filter(
        F.create_map(
            F.lit("user"), user,
            F.lit("region"), region,
        ),
        lambda k, v: v.isNotNull(),
    )
    return base.select(
        F.concat(F.col("event_type"), F.lit("/"), user).alias("sensor_id"),
        F.col("event_type").alias("name"),
        F.lit("Float").alias("type"),
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("unit_description"),
        labels.alias("labels"),
    ).cache()


def events_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float value table derived from events. ``event_id`` is kept as a
    deterministic tiebreaker for equal timestamps (SURVEY §7.4 risk 6)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.col("event_type"), F.lit("/"), F.col("user_id").cast("string")).alias(
            "sensor_id"
        ),
        F.col("ts").alias("time"),
        F.col("value").alias("value"),
        F.col("event_id"),
    )


# The same derivation in DuckDB SQL, for oracle queries. DuckDB reads the
# ns-precision parquet timestamps as TIMESTAMP_NS; cast to µs TIMESTAMP to
# match Spark's TimestampType exactly.
SENSORS_SQL = """
    SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS sensor_id,
           event_type AS name,
           'Float' AS type,
           CAST(user_id AS VARCHAR) AS user_label,
           CASE WHEN user_id % 3 <> 0
                THEN 'r' || CAST(user_id % 3 AS VARCHAR) END AS region_label
    FROM (SELECT DISTINCT event_type, user_id FROM events)
"""

VALUES_SQL = """
    SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS sensor_id,
           CAST(ts AS TIMESTAMP) AS time,
           value,
           event_id
    FROM events
"""
