"""Request streams for the two workloads, generated from the workload seed.

A stream is a fixed list of requests per client. Each request carries
the route class it is reported under, the answer the checker must see
(``check``) and the ``X-Served-From`` it must carry (``served``). The
lake data never depends on the seed; the seed picks series, windows,
functions, formats and write payloads.

Checks are small tuples that ``oracle.py`` turns into DuckDB queries:

* ``("window", func, agg, sensor_ids, range_s, start, end, step_s)`` —
  ``func(selector[range])`` at every step in [start, end] over the
  inclusive window [t - range, t]; ``agg`` is ``None`` (per series) or
  ``"sum"`` (summed over series);
* ``("rows", fmt, sensor_ids, start, end)`` — the raw samples of the
  series in [start, end] (``None`` = unbounded), in export format ``fmt``;
* ``("remote", queries, streamed)`` — per query (sensor_ids, start_ms,
  end_ms), the samples a remote read returns;
* ``("labels", values)`` — the exact label list;
* ``("ack",)`` — a write or maintenance request that must succeed.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import random
import urllib.parse as up
from dataclasses import dataclass, field

from perfbench.fixture import EVENT_TYPES, ROLLUP_GRAIN_S, T0, Fixture, Series, series_for

EPOCH = dt.datetime(1970, 1, 1)
EXPORT_FORMATS = ("csv", "arrow", "senml", "jsonl")
WINDOW_FUNCS = ("avg_over_time", "max_over_time", "min_over_time",
                "sum_over_time", "count_over_time")
# Fleet writes start after the base month, one hour of timestamps per
# batch, so every batch owns a disjoint time window.
WRITE_T0 = dt.datetime(2024, 2, 1)
WRITE_SERIES = 30
WRITE_NEW_SERIES = 3
WRITE_POINTS = 10
# The tick the fleet client sends: zone-map refresh only, keeping the
# clustered layout and maintaining no rollup.
MAINTAIN_URL = "/api/v1/admin/maintain?optimize=0&rollup_grains="
# Base series whose user id is a multiple of this take the writes; the
# other series are only read, so those reads' answers never change.
WRITER_USER_MOD = 10


@dataclass
class Request:
    route: str
    method: str
    url: str
    check: tuple
    served: str | None = None
    body: bytes | None = None
    headers: dict = field(default_factory=dict)
    rows: int = 0
    batch: int | None = None
    written: list = field(default_factory=list)


@dataclass
class AfterWrite:
    """A read of the newest acknowledged write batch, resolved when it is
    issued (see ``resolve_after_write``)."""

    route: str
    pick: float


def iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def epoch_s(t: dt.datetime) -> int:
    return int((t - EPOCH).total_seconds())


def _range_url(expr: str, start, end, step_s: int, extra: str = "") -> str:
    return (f"/api/v1/query_range?query={up.quote(expr)}&start={iso(start)}"
            f"&end={iso(end)}&step={step_s}{extra}")


def _instant_url(expr: str) -> str:
    return f"/api/v1/query?extended=1&query={up.quote(expr)}"


def _kinds(rng: random.Random, block: list[str], n: int) -> list[str]:
    """``n`` request kinds: whole blocks, each shuffled, so every run and
    every seed sends the same mix (``n`` is a multiple of the block)."""
    out: list[str] = []
    while len(out) < n:
        rng.shuffle(block)
        out.extend(block)
    return out[:n]


def _selector(series: list[Series]) -> str:
    names = sorted({s.name for s in series})
    users = sorted({dict(s.labels).get("user") for s in series} - {None})
    name = (f'__name__="{names[0]}"' if len(names) == 1
            else f'__name__=~"{"|".join(names)}"')
    if users:
        return "{" + name + f',user="{users[0]}"' + "}"
    return "{" + name + "}"


# -- dashboard ------------------------------------------------------------

DASHBOARD_BLOCK = ["range"] * 3 + ["range-sum"] + ["instant"] * 3 + [
    "instant-sum", "export", "labels"]


def dashboard(fx: Fixture, seed: int, n: int, rollup: bool = True) -> list:
    """One client: grain-aligned range queries and ``@``-anchored
    instant queries the hourly rollup serves (one in four summed over
    all series), 2-hour exports of a dense series, and label browsing.
    ``rollup=False`` sends the same queries with ``?rollup=0`` (the
    served-from guard must then trip)."""
    rng = random.Random(seed)
    series = fx.series
    ids = [s.sensor_id for s in series]
    opt = "" if rollup else "&rollup=0"
    out: list = []
    for i, kind in enumerate(_kinds(rng, list(DASHBOARD_BLOCK), n)):
        func = rng.choice(WINDOW_FUNCS)
        day = T0 + dt.timedelta(days=rng.randrange(1, 28))
        s = rng.choice(series)
        if kind.startswith("range"):
            hours = rng.choice((1, 2, 3))
            start = day + dt.timedelta(hours=rng.randrange(0, 12))
            end = start + dt.timedelta(hours=12)
            if kind == "range-sum":
                expr = f'sum({func}({{source="events"}}[{hours}h]))'
                check = ("window", func, "sum", ids, hours * 3600,
                         start, end, ROLLUP_GRAIN_S)
            else:
                expr = f"{func}({s.name}[{hours}h])"
                check = ("window", func, None, [s.sensor_id], hours * 3600,
                         start, end, ROLLUP_GRAIN_S)
            out.append(Request("range", "GET",
                               _range_url(expr, start, end, ROLLUP_GRAIN_S, opt),
                               check, served="rollup"))
        elif kind.startswith("instant"):
            hours = rng.choice((2, 6, 24))
            at = day + dt.timedelta(hours=rng.randrange(0, 24))
            if kind == "instant-sum":
                expr = (f'sum({func}({{source="events"}}[{hours}h] '
                        f'@ {epoch_s(at)}))')
                check = ("window", func, "sum", ids, hours * 3600, at, at, 1)
            else:
                expr = f"{func}({s.name}[{hours}h] @ {epoch_s(at)})"
                check = ("window", func, None, [s.sensor_id], hours * 3600,
                         at, at, 1)
            out.append(Request("instant", "GET", _instant_url(expr) + opt,
                               check, served="rollup"))
        elif kind == "export":
            fmt = EXPORT_FORMATS[i // len(DASHBOARD_BLOCK) % len(EXPORT_FORMATS)]
            start = day + dt.timedelta(hours=rng.randrange(0, 22))
            end = start + dt.timedelta(hours=2)
            out.append(Request(
                "export", "GET",
                f"/series/{s.sensor_id}?format={fmt}&start={iso(start)}"
                f"&end={iso(end)}",
                ("rows", fmt, [s.sensor_id], start, end)))
        elif i // len(DASHBOARD_BLOCK) % 2:
            out.append(Request("labels", "GET", "/api/v1/labels",
                               ("labels", ["__name__", "source"])))
        else:
            out.append(Request(
                "labels", "GET", "/api/v1/label/__name__/values",
                ("labels", sorted({s.name for s in series}))))
    return out


# -- fleet ----------------------------------------------------------------

FLEET_BLOCK = ["export-csv", "export-arrow", "export-senml", "export-jsonl",
               "export-query", "instant", "instant", "range", "range",
               "remote_read-samples", "remote_read-streamed", "export-after",
               "range-after", "write", "write", "write", "maintain"]


def fleet(fx: Fixture, seed: int, n: int) -> list:
    """One client: single-series exports in every format, label-matcher
    selectors, remote reads and non-grain range queries on series no
    write touches, reads of the newest acknowledged write batch, write
    batches (``WriteStream``) and a maintenance tick."""
    rng = random.Random(seed)
    writes = WriteStream(fx, seed, first=1)
    by_user: dict[str, list[Series]] = {}
    for s in fx.series:
        user = dict(s.labels)["user"]
        if int(user) % WRITER_USER_MOD:
            by_user.setdefault(user, []).append(s)
    users = [u for u in sorted(by_user) if len(by_user[u]) > 1]
    out: list = []
    for i, kind in enumerate(_kinds(rng, list(FLEET_BLOCK), n)):
        if kind.endswith("-after"):
            out.append(AfterWrite(kind.split("-")[0], rng.random()))
            continue
        if kind == "write":
            out.append(writes.next())
            continue
        if kind == "maintain":
            out.append(Request("maintain", "POST", MAINTAIN_URL, ("ack",)))
            continue
        pick = rng.sample(by_user[rng.choice(users)], k=2)
        day = T0 + dt.timedelta(days=rng.randrange(1, 25))
        if kind.startswith("export"):
            s = pick[0]
            fmt = kind.split("-")[1]
            if fmt != "query":
                out.append(Request(
                    "export", "GET", f"/series/{s.sensor_id}?format={fmt}",
                    ("rows", fmt, [s.sensor_id], None, None)))
                continue
            fmt = rng.choice(EXPORT_FORMATS)
            out.append(Request(
                "export", "GET",
                f"/api/v1/query?format={fmt}"
                f"&query={up.quote(_selector([s]) + '[3650d]')}",
                ("rows", fmt, [s.sensor_id], None, None)))
        elif kind == "instant":
            # An anchor off the hour grain: the rollup could not serve it.
            at = day + dt.timedelta(seconds=rng.randrange(1, 3600) + 3600 *
                                    rng.randrange(0, 24))
            func = rng.choice(WINDOW_FUNCS)
            expr = f"{func}({_selector(pick)}[7d] @ {epoch_s(at)})"
            out.append(Request(
                "instant", "GET", _instant_url(expr),
                ("window", func, None, [s.sensor_id for s in pick],
                 7 * 86_400, at, at, 1),
                served="raw"))
        elif kind == "range":
            func = rng.choice(WINDOW_FUNCS)
            end = day + dt.timedelta(days=3)
            expr = f"{func}({_selector(pick[:1])}[5m])"
            out.append(Request(
                "range", "GET", _range_url(expr, day, end, 300),
                ("window", func, None, [pick[0].sensor_id], 300, day, end, 300),
                served="raw"))
        else:
            start_ms = epoch_s(day) * 1000
            out.append(remote_read_request(
                [(pick, start_ms, start_ms + 7 * 86_400_000)],
                kind.endswith("streamed")))
    return out


def remote_read_request(queries, streamed: bool) -> Request:
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        RESPONSE_TYPE_SAMPLES,
        RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
        ReadQuery,
        encode_read_request,
    )

    wire_queries, check = [], []
    for series, start_ms, end_ms in queries:
        names = sorted({s.name for s in series})
        user = dict(series[0].labels)["user"]
        matchers = [
            LabelMatcher("__name__", "|".join(names),
                         MatcherType.EQUAL if len(names) == 1
                         else MatcherType.REGEX_MATCH),
            LabelMatcher("user", user, MatcherType.EQUAL),
        ]
        wire_queries.append(ReadQuery(start_ms, end_ms, matchers))
        check.append(([s.sensor_id for s in series], start_ms, end_ms))
    accepted = ([RESPONSE_TYPE_STREAMED_XOR_CHUNKS] if streamed
                else [RESPONSE_TYPE_SAMPLES])
    body = snappy_codec.compress(encode_read_request(wire_queries, accepted))
    return Request(
        "remote_read", "POST", "/api/v1/prometheus_remote_read",
        ("remote", check, streamed), body=body,
        headers={
            "Content-Encoding": "snappy",
            "Content-Type": "application/x-protobuf",
            "X-Prometheus-Remote-Read-Version": "0.1.0",
        })


def write_window(k: int) -> tuple[dt.datetime, dt.datetime]:
    start = WRITE_T0 + dt.timedelta(hours=k)
    return start, start + dt.timedelta(hours=1)


class WriteStream:
    """Line-protocol, CSV and remote-write batches in rotation, batch k
    on its own hour of fresh timestamps (``write_window``), each mixing
    existing series with a few new ones."""

    def __init__(self, fx: Fixture, seed: int, first: int = 0):
        self.rng = random.Random(seed * 7919 + first)
        self.k = first
        self.base = [s for s in fx.series
                     if not int(dict(s.labels)["user"]) % WRITER_USER_MOD]
        self.next_user = 1 + max(int(dict(s.labels)["user"]) for s in fx.series)
        self.csv_pool: list[Series] = []

    def next(self) -> Request:
        rng, k = self.rng, self.k
        self.k += 1
        fmt = ("lp", "csv", "rw")[k % 3]
        keep = WRITE_SERIES - WRITE_NEW_SERIES
        if fmt == "csv":
            fresh = [series_for_csv(
                f"{rng.choice(EVENT_TYPES)} csv{len(self.csv_pool) + j}")
                for j in range(WRITE_NEW_SERIES)]
            old = rng.sample(self.csv_pool, k=min(len(self.csv_pool), keep))
            self.csv_pool.extend(fresh)
        else:
            fresh = [series_for("sparse", rng.choice(EVENT_TYPES),
                                self.next_user + j)
                     for j in range(WRITE_NEW_SERIES)]
            self.next_user += WRITE_NEW_SERIES
            old = rng.sample(self.base, k=min(len(self.base), keep))
        start, _ = write_window(k)
        rows = [(s, start + dt.timedelta(seconds=off), round(rng.uniform(0, 200), 2))
                for s in old + fresh
                for off in rng.sample(range(3600), WRITE_POINTS)]
        return write_request(k, fmt, rows)


def series_for_csv(name: str) -> Series:
    from sensapp_spark.datamodel.sensor import sensor_uuid
    from sensapp_spark.datamodel.types import SensorType

    return Series(sensor_uuid(name, SensorType.FLOAT, None, {}), name, ())


def write_request(k: int, fmt: str, rows: list) -> Request:
    """A write of ``rows`` (Series, time, value) as batch ``k``."""
    if fmt == "lp":
        lines = []
        for s, t, v in rows:
            measurement = s.name.split(" ")[0]
            tags = ",".join(f"{k}={val}" for k, val in s.labels)
            lines.append(f"{measurement},{tags} value={v} "
                         f"{epoch_s(t) * 1_000_000_000}")
        return Request("ingest", "POST", "/api/v2/write?precision=ns",
                       ("ack",), body="\n".join(lines).encode(),
                       rows=len(rows), batch=k, written=rows)
    if fmt == "csv":
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(["datetime", "sensor_name", "value"])
        for s, t, v in rows:
            w.writerow([iso(t), s.name, f"{v:.2f}"])
        return Request("ingest", "POST", "/publish", ("ack",),
                       body=buf.getvalue().encode(),
                       headers={"Content-Type": "text/csv"},
                       rows=len(rows), batch=k, written=rows)
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import TimeSeries, encode_write_request

    per: dict[Series, TimeSeries] = {}
    for s, t, v in rows:
        ts = per.setdefault(s, TimeSeries(
            labels=[("__name__", s.name)] + list(s.labels)))
        ts.samples.append((v, epoch_s(t) * 1000))
    return Request(
        "ingest", "POST", "/api/v1/prometheus_remote_write", ("ack",),
        body=snappy_codec.compress(encode_write_request(list(per.values()))),
        headers={
            "Content-Encoding": "snappy",
            "Content-Type": "application/x-protobuf",
            "X-Prometheus-Remote-Write-Version": "0.1.0",
        },
        rows=len(rows), batch=k, written=rows)


def resolve_after_write(item: AfterWrite, batch: Request) -> Request:
    """Turn a read-after-write slot into a read of ``batch`` (a write the
    server has acknowledged): an export of one of its series over its
    hour, or a ``[5m]`` range query inside that hour. Later batches own
    later hours, so no write in flight can change the answer."""
    series = sorted({s for s, _, _ in batch.written}, key=lambda s: s.sensor_id)
    s = series[int(item.pick * len(series))]
    start, end = write_window(batch.batch)
    if item.route == "export":
        last = end - dt.timedelta(seconds=1)
        return Request("export", "GET",
                       f"/series/{s.sensor_id}?format=csv&start={iso(start)}"
                       f"&end={iso(last)}",
                       ("rows", "csv", [s.sensor_id], start, last))
    s0, s1 = start + dt.timedelta(minutes=5), end - dt.timedelta(minutes=5)
    expr = f"sum_over_time({_selector([s])}[5m])"
    return Request("range", "GET", _range_url(expr, s0, s1, 300),
                   ("window", "sum_over_time", None, [s.sensor_id], 300,
                    s0, s1, 300),
                   served="raw")
