"""Fixed lake data for the benchmark and the two lake layouts.

The events table has the shape of the repository's synthetic ``events``
testdata (5 event types, 15 000 users per unit of scale, 1M rows per unit
of scale, uniform over 2024-01-01 .. 2024-01-31). It is generated here
from a fixed seed so the benchmark reads nothing outside its checkout;
the per-run workload seed only picks requests, never lake contents.

* ``dense`` (dashboard): one series per event type, ~20k points each at
  scale 0.1, named after the type.
* ``sparse`` (fleet): one series per (event type, user), ~13 points each
  at scale 0.1, named like line-protocol sensors (``"<type> value"``) so
  line-protocol and remote-write batches can append to existing series.

Sensor ids are the product's own ``sensor_uuid`` of (name, Float, no
unit, labels), i.e. exactly what the ingest routes assign.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

DATA_SEED = 42
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0 = dt.datetime(2024, 1, 1)
SPAN_DAYS = 30
ROLLUP_GRAIN_S = 3600
FLEET_FILES_PER_MONTH = 16


@dataclass(frozen=True)
class Series:
    sensor_id: str
    name: str
    labels: tuple[tuple[str, str], ...]


@dataclass
class Fixture:
    """The generated rows plus the series they belong to.

    ``rows`` has columns sensor_id, time (datetime64[us], UTC-naive) and
    value (float64, two decimals)."""

    layout: str
    rows: pd.DataFrame
    series: list[Series]


def make_events(sf: float) -> pd.DataFrame:
    n = max(1, round(1_000_000 * sf))
    users = max(1, round(15_000 * sf))
    rng = np.random.default_rng(DATA_SEED)
    span_us = SPAN_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64(T0, "us")
    return pd.DataFrame({
        "ts": ts,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "user_id": rng.integers(0, users, n),
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
    })


def series_for(layout: str, event_type: str, user: int | None = None) -> Series:
    from sensapp_spark.datamodel.sensor import sensor_uuid
    from sensapp_spark.datamodel.types import SensorType

    if layout == "dense":
        name, labels = event_type, {"source": "events"}
    else:
        name = f"{event_type} value"
        labels = {"region": f"r{user % 3}", "user": str(user)}
    return Series(
        sensor_uuid(name, SensorType.FLOAT, None, labels), name,
        tuple(sorted(labels.items())),
    )


def make_fixture(layout: str, sf: float) -> Fixture:
    ev = make_events(sf)
    if layout == "dense":
        keys = ev["event_type"].to_numpy()
        by_key = {et: series_for("dense", et) for et in EVENT_TYPES}
    else:
        keys = (ev["event_type"] + "/" + ev["user_id"].astype(str)).to_numpy()
        by_key = {}
        for et, user in set(zip(ev["event_type"], ev["user_id"])):
            by_key[f"{et}/{user}"] = series_for("sparse", et, int(user))
    rows = pd.DataFrame({
        "sensor_id": [by_key[k].sensor_id for k in keys],
        "time": ev["ts"].to_numpy(),
        "value": ev["value"].to_numpy(),
    })
    series = sorted(by_key.values(), key=lambda s: s.sensor_id)
    return Fixture(layout, rows, series)


def sensors_frame(spark, series: list[Series]):
    from sensapp_spark.datamodel.types import SENSOR_SCHEMA

    return spark.createDataFrame(
        [(s.sensor_id, s.name, "Float", None, None, dict(s.labels))
         for s in series],
        SENSOR_SCHEMA,
    )


def build_lake(spark, root: str, fx: Fixture):
    """Publish the fixture through ``SensorLake.publish`` and lay it out:
    the dense lake as written, the sparse lake clustered by ``optimize``
    so zone maps prune per sensor. The rollup tick runs afterwards,
    through the gateway, as part of the timed setup."""
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.ingest.csv_importer import IngestBatch
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, root)
    values = spark.createDataFrame(
        fx.rows, "sensor_id string, time timestamp, value double"
    )
    lake.publish(IngestBatch(
        sensors=sensors_frame(spark, fx.series),
        values={SensorType.FLOAT: values},
    ))
    if fx.layout == "sparse":
        lake.optimize(SensorType.FLOAT, files_per_month=FLEET_FILES_PER_MONTH)
    return lake


def _table_rows(path: str) -> tuple[int, dict[str, int]]:
    """Rows (from parquet footers, no Spark job) and data files per month
    of a lake table's committed version."""
    import pyarrow.parquet as pq

    from sensapp_spark.storage.lake import resolve_table

    data = resolve_table(path)
    rows, files = 0, {}
    for dirpath, _, names in os.walk(data or ""):
        month = os.path.basename(dirpath).removeprefix("month=")
        for name in names:
            if name.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(dirpath, name)).metadata.num_rows
                files[month] = files.get(month, 0) + 1
    return rows, files


def lake_shape(lake) -> dict:
    """Series, rows, data files per month and rollup rows — printed with
    every run so a layout change reads as a fixture change."""
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.storage.rollup import RollupStore

    rows, files = _table_rows(lake._values_path(SensorType.FLOAT))
    return {
        "series": _table_rows(lake._sensors_path())[0],
        "rows": rows,
        "files_per_month": dict(sorted(files.items())),
        "rollup_rows": _table_rows(
            RollupStore(lake, ROLLUP_GRAIN_S)._path(SensorType.FLOAT))[0],
    }
