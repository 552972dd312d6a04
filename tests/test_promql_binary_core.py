"""One binary-operator core for both evaluation modes: an instant query
is a range query with no step key. ``evaluate_range_binary`` at the
single step ``start = end = NOW`` must answer exactly what
``evaluate_binary`` answers at ``NOW`` (``t`` dropped), for every
operand shape and operator class — and the defects the two former
copies had drifted into stay fixed: group keys of a by-grouped
aggregate combined with a scalar, the range-only rejection of that
shape, the range path's missing operand validation, and step grids
that relabelled tz-aware bounds instead of converting them."""

from __future__ import annotations

import datetime as dt
import urllib.parse as up
from functools import reduce

import pytest
from pyspark.sql import functions as F

from sensapp_spark.query.promql_ext import (
    PromQLError,
    evaluate_binary,
    evaluate_range,
    evaluate_range_binary,
    parse_extended,
    parse_extended_expr,
)

T0 = dt.datetime(2024, 1, 1)
NOW = T0 + dt.timedelta(minutes=30)


@pytest.fixture(scope="module")
def frames(spark):
    """Metrics a, b, c (labels user, job) and info (plus tier), one
    sample per series inside NOW's 1h lookback."""
    rows = [
        ("a/u1/x", 0, 4.0), ("a/u2/x", 60, 9.0), ("a/u3/y", 120, 5.0),
        ("b/u1/x", 0, 2.0), ("b/u2/x", 60, 3.0), ("b/u3/y", 90, 0.0),
        ("c/u1/x", 0, 1.0), ("c/u2/x", 60, 100.0),
        ("info/u1/x", 0, 1.0), ("info/u2/x", 0, 1.0), ("info/u3/y", 0, 1.0),
    ]
    vals = spark.createDataFrame(
        [(s, T0 + dt.timedelta(seconds=o), v) for s, o, v in rows],
        "sensor_id string, time timestamp, value double",
    )
    part = F.split("sensor_id", "/")
    labels = [F.lit("user"), part.getItem(1), F.lit("job"), part.getItem(2)]
    sensors = vals.select("sensor_id").distinct().select(
        "sensor_id",
        part.getItem(0).alias("name"),
        F.lit("Float").alias("type"),
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("unit_description"),
        F.when(
            part.getItem(0) == "info",
            F.create_map(
                *labels, F.lit("tier"), F.concat(F.lit("t"), part.getItem(1))
            ),
        ).otherwise(F.create_map(*labels)).alias("labels"),
    )
    return sensors, vals


def _rows(df):
    """Order-free rows with ``t`` dropped, floats rounded (as their
    repr, so NaN compares equal to NaN), label maps as sorted item
    tuples."""
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        d.pop("t", None)
        out.append(tuple(sorted(
            (k, repr(round(v, 9)) if isinstance(v, float)
             else tuple(sorted(v.items())) if isinstance(v, dict) else v)
            for k, v in d.items()
        )))
    return sorted(out, key=repr)


def _range(frames, expr, start=NOW, end=NOW, step=600):
    sensors, vals = frames
    return evaluate_range_binary(
        sensors, vals, parse_extended_expr(expr, now=NOW),
        start=start, end=end, step_seconds=step, now=NOW,
    )


PARITY = [
    "a / b",  # one-to-one arithmetic (b/u3 = 0 → +Inf)
    "a > b",  # comparison filters, keeps the left value
    "a == bool b",
    "a and b",
    "a unless c",
    "a or c",
    "a * 2",  # vector∘scalar keeps the series shape
    "a / scalar(sum(b))",
    "a - time()",
    "a / on (user) group_left (tier) info",
    "a / on (job) group_left sum by (job) (b)",  # aggregated one side
    "(a / b) > 1",  # nested binary operand
    "sum by (job) (a) * 2",  # grouped aggregate ∘ scalar
    "sum(a) / sum(b)",
    "sum(a) + sum(exp(vector(1)))",  # constant operand, inner function
]


def test_single_step_range_equals_instant(frames):
    """Row for row, every PARITY expression in one union per mode (one
    action each): the rows are keyed by expression and by every
    non-value column, ``t`` dropped."""
    sensors, vals = frames

    def canon(df, expr):
        keys = [c for c in df.columns if c not in ("t", "value")]
        return df.select(
            F.lit(expr).alias("expr"),
            F.to_json(F.struct(*keys)).alias("key"),
            F.col("value").cast("double").alias("value"),
        )

    def union(frames_by_expr):
        return _rows(reduce(
            lambda a, b: a.unionByName(b),
            [canon(df, expr) for expr, df in frames_by_expr],
        ))

    want = union(
        (expr, evaluate_binary(
            sensors, vals, parse_extended_expr(expr, now=NOW)
        ))
        for expr in PARITY
    )
    got = union((expr, _range(frames, expr)) for expr in PARITY)
    assert {r[0][1] for r in want} == set(PARITY)
    assert got == want


def test_grouped_aggregate_with_scalar_keeps_group_keys(frames):
    sensors, vals = frames
    # sum by (job) (a): x = 4 + 9 = 13, y = 5.
    for expr, want in [
        ("sum by (job) (a) * 2", {"x": 26.0, "y": 10.0}),
        ("2 * sum by (job) (a)", {"x": 26.0, "y": 10.0}),
        ("sum by (job) (a) > 5", {"x": 13.0}),
        ("sum by (job) (a) > bool 5", {"x": 1.0, "y": 0.0}),
    ]:
        out = evaluate_binary(
            sensors, vals, parse_extended_expr(expr, now=NOW)
        )
        assert out.columns == ["job", "value"], expr
        assert {r.job: r.value for r in out.collect()} == want, expr


def test_grouped_aggregate_with_scalar_range(frames):
    out = _range(
        frames, "sum by (job) (a) * 2",
        start=NOW - dt.timedelta(minutes=10), step=600,
    )
    assert out.columns == ["job", "t", "value"]
    assert sorted((r.job, r.t.minute, r.value) for r in out.collect()) == [
        ("x", 20, 26.0), ("x", 30, 26.0), ("y", 20, 10.0), ("y", 30, 10.0),
    ]
    # The by/without rule still holds where it belongs: one-to-one
    # vector matching.
    with pytest.raises(PromQLError, match="by/without-grouped"):
        _range(frames, "sum by (job) (a) / c")


@pytest.mark.parametrize(
    "expr, fragment",
    [
        (
            "max_over_time(a[10m]) / avg_over_time(sum(b)[4m:1m])",
            "Aggregated-inner subquery operands",
        ),
        (
            "max_over_time(a[10m]) / avg_over_time(sum(topk(1, b))[4m:1m])",
            "Nested-aggregation operands",
        ),
        ("histogram_quantile(0.5, a) / b", "histogram-function operands"),
        ("absent(a) + b", "absent() operands"),
    ],
)
def test_range_operands_validated_like_instant(frames, expr, fragment):
    sensors, vals = frames
    for run in (
        lambda: evaluate_binary(
            sensors, vals, parse_extended_expr(expr, now=NOW)
        ),
        lambda: _range(frames, expr),
    ):
        with pytest.raises(PromQLError) as exc:
            run()
        assert fragment in str(exc.value)


def test_step_grid_converts_aware_bounds(frames):
    """A tz-aware start/end is converted to UTC, not relabelled: the
    same instants at +02:00 give the same steps as naive UTC."""
    sensors, vals = frames
    eq = parse_extended("max_over_time(a[10m])", now=NOW)
    plus2 = dt.timezone(dt.timedelta(hours=2))
    start = NOW - dt.timedelta(minutes=30)

    def run(s, e):
        out = evaluate_range(
            sensors, vals, eq, start=s, end=e, step_seconds=120, now=NOW
        )
        return sorted(
            (r.sensor_id, r.t, r.value) for r in out.collect()
        )

    naive = run(start, NOW)
    aware = run(
        start.replace(tzinfo=dt.timezone.utc).astimezone(plus2),
        NOW.replace(tzinfo=dt.timezone.utc).astimezone(plus2),
    )
    assert naive
    assert aware == naive


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    from sensapp_spark.server.app import create_app
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path_factory.mktemp("binary_lake")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        ts = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
        lines = "\n".join(
            f"m,job={job},host={host} v={v} {ts}"
            for job, host, v in [("x", "a", 4), ("x", "b", 9), ("y", "c", 5)]
        )
        r = c.post("/api/v2/write?bucket=b&precision=s", data=lines)
        assert r.status_code == 204
        yield c


def test_http_grouped_aggregate_with_scalar(client):
    at = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) + 60
    sel = f'max_over_time({{__name__="m v"}}[1h] @ {at})'
    q = up.quote(f"sum by (job) ({sel}) * 2")
    r = client.get(f"/api/v1/query?extended=1&query={q}")
    assert r.status_code == 200, r.get_json()
    got = {row["job"]: row["value"] for row in r.get_json()["result"]}
    assert got == {"x": 26.0, "y": 10.0}

    q = up.quote('sum by (job) (max_over_time({__name__="m v"}[10m])) * 2')
    r = client.get(
        f"/api/v1/query_range?query={q}"
        "&start=2024-01-01T00:00:00Z&end=2024-01-01T00:10:00Z&step=600"
    )
    assert r.status_code == 200, r.get_json()
    got = sorted(
        (row["job"], row["t"], row["value"]) for row in r.get_json()["result"]
    )
    assert got == [
        ("x", "2024-01-01T00:00:00", 26.0), ("x", "2024-01-01T00:10:00", 26.0),
        ("y", "2024-01-01T00:00:00", 10.0), ("y", "2024-01-01T00:10:00", 10.0),
    ]
