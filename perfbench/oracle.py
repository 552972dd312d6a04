"""Response checker: expected answers from DuckDB, compared by value.

Every expected result is computed by DuckDB over the fixture rows plus
the rows of acknowledged write batches, after the timed window closes.
Floats compare with a relative tolerance (the rollup and the raw path
sum in different orders), times exactly (SenML: to its 10 ms text
precision), and every read must carry the ``X-Served-From`` its
workload is named for.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import math

import duckdb
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-9
SENML_TIME_TOL_S = 0.011
_SQL_AGG = {
    "avg_over_time": "avg(value)",
    "max_over_time": "max(value)",
    "min_over_time": "min(value)",
    "sum_over_time": "sum(value)",
    "count_over_time": "count(*)::DOUBLE",
}


class Oracle:
    def __init__(self, base: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("base", base)
        self.set_written([])

    def set_written(self, rows: list) -> None:
        """``rows``: (Series, time, value) of every acknowledged write."""
        written = pd.DataFrame({
            "sensor_id": pd.Series([s.sensor_id for s, _, _ in rows], dtype=str),
            "time": pd.Series([t for _, t, _ in rows], dtype="datetime64[us]"),
            "value": pd.Series([v for _, _, v in rows], dtype=float),
        })
        self.con.register("written", written)

    def _rows(self, ids: list[str]) -> str:
        lit = ", ".join(f"'{i}'" for i in ids)
        return (f"(SELECT * FROM base WHERE sensor_id IN ({lit}) UNION ALL "
                f"SELECT * FROM written WHERE sensor_id IN ({lit}))")

    def window(self, func, agg, ids, range_s, start, end, step_s) -> dict:
        """{(sensor_id | None, t): value} for func(sel[range]) at each step."""
        sql = f"""
            WITH steps AS (
              SELECT range AS t FROM range(TIMESTAMP '{start}',
                TIMESTAMP '{end}' + INTERVAL 1 SECOND, INTERVAL {step_s} SECOND)),
            w AS (
              SELECT s.t, r.sensor_id, {_SQL_AGG[func]} AS v
              FROM steps s JOIN {self._rows(ids)} r
                ON r.time >= s.t - INTERVAL {range_s} SECOND AND r.time <= s.t
              GROUP BY 1, 2)
            """
        if agg == "sum":
            sql += "SELECT t, NULL, sum(v) FROM w GROUP BY t"
        else:
            sql += "SELECT t, sensor_id, v FROM w"
        return {(sid, t): v for t, sid, v in self.con.execute(sql).fetchall()}

    def samples(self, ids, start, end) -> list[tuple]:
        """Sorted (sensor_id, time, value) of the series in [start, end]."""
        where = []
        if start is not None:
            where.append(f"time >= TIMESTAMP '{start}'")
        if end is not None:
            where.append(f"time <= TIMESTAMP '{end}'")
        cond = ("WHERE " + " AND ".join(where)) if where else ""
        return sorted(self.con.execute(
            f"SELECT sensor_id, time, value FROM {self._rows(ids)} r {cond}"
        ).fetchall())

    # -- checking ---------------------------------------------------------

    def check(self, req, status: int, headers: dict, body: bytes) -> str | None:
        """None when the response is right, else the reason it is not."""
        if status >= 300:
            return f"HTTP {status}: {body[:200]!r}"
        if req.served is not None:
            got = headers.get("X-Served-From") or ""
            if not got.startswith(req.served):
                return f"served from {got!r}, expected {req.served}*"
        kind = req.check[0]
        try:
            if kind == "ack":
                return None
            if kind == "labels":
                data = json.loads(body)["data"]
                return None if data == req.check[1] else f"labels {data!r}"
            if kind == "window":
                return _compare_window(self.window(*req.check[1:]),
                                       _window_answer(req.check, body))
            if kind == "rows":
                _, fmt, ids, start, end = req.check
                return _compare_rows(
                    self.samples(ids, start, end), parse_export(fmt, body),
                    SENML_TIME_TOL_S if fmt == "senml" else 0.0)
            if kind == "remote":
                _, queries, streamed = req.check
                got = parse_remote_read(body, streamed, len(queries))
                for i, (ids, start_ms, end_ms) in enumerate(queries):
                    want = [
                        (sid, _ms(t), v) for sid, t, v in self.samples(
                            ids, _from_ms(start_ms), _from_ms(end_ms))
                    ]
                    bad = _compare_rows(want, got[i], 0.0)
                    if bad:
                        return f"query {i}: {bad}"
                return None
        except (ValueError, KeyError, TypeError) as e:
            return f"unparsable {kind} response: {e!r}"
        raise ValueError(f"unknown check {kind!r}")


def _ms(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(milliseconds=1)


def _from_ms(ms: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)


def _window_answer(check, body: bytes) -> dict:
    _, _, agg, _, _, start, end, _ = check
    got = {}
    for r in json.loads(body)["result"]:
        t = dt.datetime.fromisoformat(r["t"]) if "t" in r else start
        got[(None if agg else r["sensor_id"], t)] = r["value"]
    return got


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def _compare_window(want: dict, got: dict) -> str | None:
    if set(want) != set(got):
        miss = sorted(set(want) - set(got), key=str)[:3]
        extra = sorted(set(got) - set(want), key=str)[:3]
        return (f"{len(got)} points, expected {len(want)} "
                f"(missing {miss}, unexpected {extra})")
    for k, v in want.items():
        if not _close(v, got[k]):
            return f"value at {k}: {got[k]!r}, expected {v!r}"
    return None


def _compare_rows(want: list, got: list, time_tol_s: float) -> str | None:
    got = sorted(got)
    if len(want) != len(got):
        return f"{len(got)} rows, expected {len(want)}"
    for (ws, wt, wv), (gs, gt, gv) in zip(want, got):
        if ws != gs:
            return f"sensor {gs}, expected {ws}"
        if isinstance(wt, int):
            same_time = wt == gt
        else:
            same_time = abs((gt - wt).total_seconds()) <= time_tol_s
        if not same_time:
            return f"time {gt} of {gs}, expected {wt}"
        if not _close(wv, gv):
            return f"value {gv!r} at {gt} of {gs}, expected {wv!r}"
    return None


def _utc(text: str) -> dt.datetime:
    t = dt.datetime.fromisoformat(text.replace("Z", "+00:00"))
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return t


def parse_export(fmt: str, body: bytes) -> list[tuple]:
    """(sensor_id, time, value) rows of an export body."""
    if fmt == "csv":
        return [(r["sensor_id"], _utc(r["timestamp"]), float(r["value"]))
                for r in csv.DictReader(io.StringIO(body.decode()))]
    if fmt == "jsonl":
        out = []
        for line in body.decode().splitlines():
            r = json.loads(line)
            out.append((r["sensor_uuid"], _utc(r["timestamp"]), float(r["value"])))
        return out
    if fmt == "senml":
        out, name, base_t = [], None, 0.0
        for r in json.loads(body):
            name = r.get("bn", name)
            base_t = r.get("bt", base_t)
            t = dt.datetime(1970, 1, 1) + dt.timedelta(
                seconds=base_t + r.get("t", 0.0))
            out.append((name, t, float(r["v"])))
        return out
    if fmt == "arrow":
        import pyarrow.ipc as ipc

        table = ipc.open_file(io.BytesIO(body)).read_all().to_pylist()
        return [(r["sensor_id"], _utc(r["timestamp"]), float(r["value"]))
                if isinstance(r["timestamp"], str) else
                (r["sensor_id"], r["timestamp"].replace(tzinfo=None),
                 float(r["value"]))
                for r in table]
    raise ValueError(f"unknown export format {fmt!r}")


def _series_id(labels: list[tuple[str, str]]) -> str:
    from sensapp_spark.datamodel.sensor import sensor_uuid
    from sensapp_spark.datamodel.types import SensorType

    rest = dict(labels)
    name = rest.pop("__name__")
    return sensor_uuid(name, SensorType.FLOAT, None, rest)


def parse_remote_read(body: bytes, streamed: bool, n_queries: int) -> list:
    """Per query, (sensor_id, ts_ms, value) rows of a remote-read body."""
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import decode_read_response
    from sensapp_spark.wire.protowire import decode_varint, iter_fields
    from sensapp_spark.wire.xorchunk import decode_xor_chunk

    out: list[list] = [[] for _ in range(n_queries)]
    if not streamed:
        for i, series in enumerate(
                decode_read_response(snappy_codec.decompress(body))):
            for ts in series:
                sid = _series_id(ts.labels)
                out[i].extend((sid, ms, v) for v, ms in ts.samples)
        return out
    pos = 0
    while pos < len(body):
        size, pos = decode_varint(body, pos)
        msg = body[pos + 4:pos + 4 + size]  # skip the CRC32C
        pos += 4 + size
        fields = list(iter_fields(msg))
        index = next((v for f, _, v in fields if f == 2), 0)
        for f, _, series in fields:
            if f != 1:
                continue
            labels, samples = [], []
            for g, _, v in iter_fields(series):
                if g == 1:
                    lab = {h: x.decode() for h, _, x in iter_fields(v)}
                    labels.append((lab.get(1, ""), lab.get(2, "")))
                elif g == 2:
                    data = next(x for h, _, x in iter_fields(v) if h == 4)
                    samples.extend(decode_xor_chunk(data))
            sid = _series_id(labels)
            out[index].extend((sid, ms, v) for ms, v in samples)
    return out
