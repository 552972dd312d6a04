"""Streamed HTTP export path: above ``stream_threshold`` rows the gateway
serves CSV/JSONL/Arrow/SenML as chunked responses with bounded driver
memory (`iter_*` exporters over ``toLocalIterator``) instead of one
fully-collected body — the one reference behavior SURVEY §7.4 risk 10
says NOT to copy at scale (the reference builds the whole export string
driver-side up to its 10M-row limit, src/storage/mod.rs:15-17).

The big-path tests monkeypatch the collect-path exporters to raise, so a
regression back to full collect fails loudly; body equivalence against
those exporters run directly on the route's query frame (captured before
patching) proves the streamed bytes are the same export.
"""

from __future__ import annotations

import io
import json

import pyarrow.ipc as ipc
import pytest

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters import arrow_exporter as arrowmod
from sensapp_spark.exporters import csv_exporter as csvmod
from sensapp_spark.exporters import jsonl_exporter as jsonlmod
from sensapp_spark.exporters import senml_exporter as senmlmod
from sensapp_spark.operators.selection import query_samples
from sensapp_spark.query.promql import parse_promql_query
from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

N_ROWS = 24
PROMQL = "streamtemp[100000h]"
QUERY = f"/api/v1/query?query={PROMQL}&format="


def _fixture_csv() -> str:
    lines = ["datetime,sensor_name,value,unit"]
    for i in range(N_ROWS):
        lines.append(
            f"2024-01-01T00:{i:02d}:00Z,streamtemp,{20 + i * 0.5},°C"
        )
    return "\n".join(lines) + "\n"


def _route_frame(lake: SensorLake):
    """The frame ``GET /api/v1/query`` exports for ``PROMQL``."""
    parsed = parse_promql_query(PROMQL)
    df = query_samples(
        lake.sensors(),
        lake.values(SensorType.FLOAT, parsed.start_time, parsed.end_time),
        parsed.matchers,
        start=parsed.start_time.replace(tzinfo=None),
        end=parsed.end_time.replace(tzinfo=None),
    )
    return df.select("sensor_id", "time", "value", "name", "unit", "labels")


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_stream")))
    streaming = create_app(spark, lake, stream_threshold=5)
    streaming.testing = True
    with streaming.test_client() as c:
        assert c.post(
            "/publish", data=_fixture_csv(), content_type="text/csv"
        ).status_code == 200
    # Reference bodies from the collect-path exporters, captured BEFORE
    # the big-path tests patch them away.
    cols, st = _route_frame(lake), SensorType.FLOAT
    expected = {
        "csv": csvmod.to_csv_multi(cols, st).encode(),
        "jsonl": jsonlmod.to_jsonl(cols, st).encode(),
        "arrow": arrowmod.to_arrow_multi(cols, st),
        "parquet": arrowmod.to_parquet_multi(cols, st),
        "senml": senmlmod.to_senml(cols, st),
    }
    return streaming, expected


@pytest.fixture()
def no_full_collect(monkeypatch):
    def boom(*a, **k):  # pragma: no cover - the regression case
        raise AssertionError("full-collect exporter called on the big path")

    for mod, name in (
        (csvmod, "to_csv_multi"),
        (jsonlmod, "to_jsonl"),
        (arrowmod, "to_arrow_multi"),
        (arrowmod, "to_parquet_multi"),
        (senmlmod, "to_senml"),
    ):
        monkeypatch.setattr(mod, name, boom)


@pytest.mark.parametrize("fmt", ["csv", "jsonl"])
def test_streamed_text_bytes_equal_collected(env, no_full_collect, fmt):
    streaming, expected = env
    with streaming.test_client() as c:
        r = c.get(QUERY + fmt)
    assert r.status_code == 200
    streamed = r.get_data()
    assert streamed == expected[fmt]
    assert streamed.decode().count("streamtemp") >= N_ROWS


def test_streamed_arrow_parses_equal(env, no_full_collect):
    streaming, expected = env
    with streaming.test_client() as c:
        r = c.get(QUERY + "arrow")
    assert r.status_code == 200
    got = ipc.open_file(io.BytesIO(r.get_data())).read_all()
    want = ipc.open_file(io.BytesIO(expected["arrow"])).read_all()
    # Same schema and values; the streamed file carries multiple record
    # batches (chunk_rows at a time) instead of one.
    assert got.schema.names == want.schema.names
    assert got.combine_chunks().to_pydict() == want.combine_chunks().to_pydict()


def test_streamed_parquet_parses_equal(env, no_full_collect):
    """Above threshold the parquet body streams one row group per chunk
    (ParquetWriter over the chunk sink) and never calls the buffering
    to_parquet_multi; the streamed file reads back with the same schema
    names and values as the collected single-row-group file."""
    import pyarrow.parquet as pq

    streaming, expected = env
    with streaming.test_client() as c:
        r = c.get(QUERY + "parquet")
    assert r.status_code == 200
    got = pq.read_table(io.BytesIO(r.get_data()))
    want = pq.read_table(io.BytesIO(expected["parquet"]))
    assert got.schema.names == want.schema.names
    assert got.combine_chunks().to_pydict() == want.combine_chunks().to_pydict()
    assert got.num_rows == N_ROWS


def test_streamed_senml_parses_equal(env, no_full_collect):
    streaming, expected = env
    with streaming.test_client() as c:
        r = c.get(QUERY + "senml")
    assert r.status_code == 200
    got = json.loads(r.get_data(as_text=True))
    want = json.loads(json.dumps(expected["senml"]))
    assert got == want
    assert got[0]["bver"] == 10 and len(got) == N_ROWS


def test_small_export_assembles_full_body(env):
    """Below the threshold the peek-ahead path assembles one complete
    body byte-identical to the collect assembly (header + rows +
    trailing newline) — golden byte shapes are preserved."""
    streaming, _ = env
    with streaming.test_client() as c:
        r = c.get("/series?metric=streamtemp")
        assert r.status_code == 200
        sensor_id = r.get_json()["dcat:dataset"][0]["dct:identifier"]
        r = c.get(f"/series/{sensor_id}?format=csv&limit=3")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert body.count("\n") == 4  # header + 3 rows
    assert body.startswith("timestamp,sensor_id,sensor_name")
    assert body.endswith("\n") and not body.endswith("\n\n")


def test_arrow_small_path_bytes_identical_to_toarrow(spark):
    """The peek-ahead small path assembles the IPC file from buffered
    row tuples with NO second Spark job — and the bytes are IDENTICAL
    to the toArrow() collect path (schema nullability matched), for
    populated and EMPTY results alike. This identity is what allowed
    dropping the CollectLimit probe without touching the goldens."""
    import datetime as dt

    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.exporters.arrow_exporter import (
        arrow_multi_bytes_from_rows,
        multi_rows,
        to_arrow_multi,
    )

    df = spark.createDataFrame(
        [("s1", dt.datetime(2024, 1, 1, 0, i), 20.5 + i,
          "temperature", "°C", {"site": "x"}) for i in range(5)],
        "sensor_id string, time timestamp, value double, name string, "
        "unit string, labels map<string,string>",
    )
    rows = list(multi_rows(df, SensorType.FLOAT))
    assert arrow_multi_bytes_from_rows(rows) == to_arrow_multi(
        df, SensorType.FLOAT
    )
    assert arrow_multi_bytes_from_rows([]) == to_arrow_multi(
        df.limit(0), SensorType.FLOAT
    )


def test_parquet_small_path_content_identical(spark):
    import datetime as dt

    import pyarrow.parquet as pq

    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.exporters.arrow_exporter import (
        multi_rows,
        parquet_multi_bytes_from_rows,
        to_parquet_multi,
    )

    df = spark.createDataFrame(
        [("s1", dt.datetime(2024, 1, 1, 0, i), 20.5 + i,
          "temperature", "°C", {}) for i in range(5)],
        "sensor_id string, time timestamp, value double, name string, "
        "unit string, labels map<string,string>",
    )
    rows = list(multi_rows(df, SensorType.FLOAT))
    got = pq.read_table(io.BytesIO(parquet_multi_bytes_from_rows(rows)))
    want = pq.read_table(
        io.BytesIO(to_parquet_multi(df, SensorType.FLOAT))
    )
    assert got.schema.names == want.schema.names
    assert got.to_pydict() == want.to_pydict()
    empty = pq.read_table(io.BytesIO(parquet_multi_bytes_from_rows([])))
    assert empty.num_rows == 0 and empty.schema.names == want.schema.names


def test_iter_csv_single_bytes_equal(spark):
    """iter_csv_single (the single-series streaming variant) produces the
    byte-identical body of to_csv_single."""
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.exporters import iter_csv_single, to_csv_single

    df = spark.createDataFrame(
        [(f"2024-01-01 00:{i:02d}:00", float(i)) for i in range(10)],
        "time string, value double",
    ).selectExpr("cast(time as timestamp) time", "value")
    assert "".join(
        iter_csv_single(df, SensorType.FLOAT, chunk_rows=3)
    ) == to_csv_single(df, SensorType.FLOAT)
