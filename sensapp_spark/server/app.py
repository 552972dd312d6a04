"""HTTP gateway (operator S6 + route surface of reference
src/ingestors/http/server.rs:88-110).

Routes:

* ``POST /publish`` — Content-Type dispatch: JSON → SenML, Arrow IPC →
  Arrow, otherwise CSV (server.rs:178-204)
* ``POST /api/v2/write`` — InfluxDB line protocol (bucket/org/precision)
* ``POST /api/v1/prometheus_remote_write`` — snappy protobuf
* ``POST /api/v1/prometheus_remote_read`` — SAMPLES response
* ``GET /api/v1/query?query=<promql>&format=`` — simple PromQL
* ``GET /series/<uuid>?start&end&limit&format=`` — single series
* ``GET /metrics`` / ``GET /series`` — DCAT catalogs (C3/C4)
* ``POST /api/v1/admin/vacuum`` — dedup+compact every value table
* ``GET /api/v1/admin/stats`` — table statistics from the folded
  sidecar sketches (planned IO ∝ files, zero data reads)
* ``POST /api/v1/admin/retention?before=`` — partition-grain expiry of
  months older than the cutoff (metadata-only commit, zero data reads)
* ``GET /api/v1/rollup?type&grain&start&end&realtime=`` — continuous
  aggregate reads (JSONL, streamed above the threshold);
  ``POST /api/v1/admin/rollup/refresh`` — the maintenance tick
  (``?sketch=1`` maintains the bucket-keyed KMV/CMS sketch rollup)
* ``GET /api/v1/rollup/distinct`` / ``GET /api/v1/rollup/heavy`` —
  per-bucket distinct-series estimates and heavy-hitter probes from
  the maintained sketch rollup (round 11)
* ``POST /api/v1/admin/maintain`` — one composed maintenance pass:
  rollup/sketch refresh + compaction + zone maps + optional retention
  (round 11; streaming/maintenance.py runs the same tick on a schedule)
* ``GET /api/v1/query_range`` — Prometheus range queries; grain-
  compatible shapes are served from the maintained rollup
  (query/rollup_serve.py — X-Served-From header; ?rollup=0 opts out)
* ``GET /`` — frontpage: instance name as JSON (server.rs:151-155)
* ``GET /docs`` — OpenAPI 3 document generated from the live route
  table (server.rs:40-52,84 — reference's ApiDoc derive + Scalar UI)
* ``GET /health`` — legacy combined probe (kept for compatibility)
* ``GET /health/live`` / ``GET /health/ready`` — split k8s-style probes
  (server.rs:111-112, health.rs:37-76); readiness checks storage

The gateway is a thin control plane: every data-path operation is the
same distributed DataFrame pipeline the library exposes; Flask only does
parsing, dispatch, and serialization.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from flask import Flask, Response, jsonify, request

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters import iter_senml
from sensapp_spark.exporters.prometheus_read import handle_read_request
from sensapp_spark.ingest.arrow_importer import ingest_arrow
from sensapp_spark.ingest.csv_importer import CsvFormatError, ingest_csv
from sensapp_spark.ingest.influxdb_importer import LineProtocolError, ingest_lines
from sensapp_spark.ingest.prometheus_write import (
    RemoteWriteError,
    ingest_remote_write,
)
from sensapp_spark.ingest.senml_importer import SenMLError, ingest_senml
from sensapp_spark.operators.catalog import metrics_list, series_list
from sensapp_spark.operators.dcat import metrics_catalog, series_catalog
from sensapp_spark.operators.selection import query_samples
from sensapp_spark.query.promql import PromQLError, parse_promql_query
from sensapp_spark.storage.lake import SensorLake, VersionNotRetained

VALID_FORMATS = ("senml", "csv", "jsonl", "arrow", "parquet")

EXPORT_MEDIA = {
    "senml": "application/senml+json",
    "csv": "text/csv",
    "jsonl": "application/x-ndjson",
    "arrow": "application/vnd.apache.arrow.file",
    "parquet": "application/vnd.apache.parquet",
}


def _parse_rfc3339(raw: str | None) -> dt.datetime | None:
    if raw is None:
        return None
    text = raw.replace("Z", "+00:00")
    parsed = dt.datetime.fromisoformat(text)
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


DEFAULT_STREAM_THRESHOLD = 100_000

# Driver-memory bound for /api/v1/query_range: the result is steps ×
# matched series rows and the response is inherently driver-
# materialized JSON — a step=1s query over 30 days is 2.6M steps PER
# SERIES and would OOM the driver instead of erroring. Same in-plan
# limit(cap+1) discipline as the sketch routes; Prometheus itself
# rejects >11k points per series.
QUERY_RANGE_ROW_CAP = 100_000

# The same bound for the extended INSTANT and BINARY routes: their
# result is one row per matched series (or per group), and a bare
# selector or `sum by (high_cardinality_label)` over a million-series
# lake would otherwise materialize every series through jsonify on the
# driver (round-12 review). In-plan limit(cap+1) → 400, never an OOM.
INSTANT_ROW_CAP = 100_000


def create_app(
    spark,
    lake: SensorLake,
    stream_threshold: int = DEFAULT_STREAM_THRESHOLD,
) -> Flask:
    """``stream_threshold``: export row count above which responses are
    served as chunked streams with bounded driver memory instead of one
    fully-collected body. The reference materializes every export
    driver-side up to its 10M-row limit (src/storage/mod.rs:15-17 +
    src/exporters/*) — at that limit that is a multi-GB driver string,
    the one reference behavior SURVEY §7.4 risk 10 says NOT to copy.
    Text formats decide by PEEK-AHEAD on one iterator (the query
    executes once, no probe job); Arrow keeps an O(threshold)
    CollectLimit probe because its golden small path is a single
    toArrow() batch."""
    app = Flask("sensapp_spark")

    def _stream_senml(records) -> Response:
        def gen():
            try:
                yield "["
                first = True
                for rec in records:
                    yield ("" if first else ",") + json.dumps(
                        rec, sort_keys=True, separators=(",", ":")
                    )
                    first = False
                yield "]\n"
            finally:
                close = getattr(records, "close", None)
                if close is not None:
                    close()  # client disconnect → release the iterator

        return Response(gen(), mimetype="application/json")

    def _export(df, fmt: str, stype: SensorType) -> Response:
        from itertools import islice

        from sensapp_spark.exporters.csv_exporter import (
            chunk_lines,
            csv_multi_header,
            lines_multi,
            multi_label_keys,
            row_lines,
        )
        from sensapp_spark.exporters.jsonl_exporter import lines_jsonl

        cols = df.select("sensor_id", "time", "value", "name", "unit", "labels")
        if fmt in ("arrow", "parquet"):
            # Columnar formats use the SAME single-execution peek-ahead
            # as the text formats (the former CollectLimit probe job is
            # gone): peek threshold+1 row tuples off one iterator; a
            # result that fits assembles the complete file from the
            # buffered rows — for Arrow BYTE-identical to the golden
            # toArrow() path (schema nullability matched in
            # MULTI_ARROW_SCHEMA), for parquet content-identical (its
            # golden pins decoded content) — and a larger one streams
            # buffered head + live iterator with bounded driver memory.
            # A consumer wanting more than the 10M-row limit reads the
            # lake's partitioned tables directly — that IS the scale
            # path for columnar handoff.
            from sensapp_spark.exporters.arrow_exporter import (
                arrow_multi_bytes_from_rows,
                iter_arrow_from_rows,
                iter_parquet_from_rows,
                multi_rows,
                parquet_multi_bytes_from_rows,
            )

            rows = multi_rows(cols, stype)
            head = list(islice(rows, stream_threshold + 1))
            if len(head) <= stream_threshold:
                rows.close()
                body = (
                    arrow_multi_bytes_from_rows(head)
                    if fmt == "arrow"
                    else parquet_multi_bytes_from_rows(head)
                )
                return Response(body, mimetype=EXPORT_MEDIA[fmt])

            def columnar_rest(first=head):
                yield from first
                yield from rows

            frames = (
                iter_arrow_from_rows(columnar_rest())
                if fmt == "arrow"
                else iter_parquet_from_rows(columnar_rest())
            )
            return Response(frames, mimetype=EXPORT_MEDIA[fmt])
        # Peek-ahead (single execution, no probe job): pull up to
        # threshold+1 rows from the JVM-formatted iterator; a result
        # that fits assembles the exact collect-path body from the
        # buffered rows (closing the abandoned iterator so its Spark
        # serving thread dies now, not at GC), a larger one streams
        # the buffer + the rest with bounded driver memory. The
        # upstream query runs ONCE either way.
        # NOTE the resumed streams below use `yield from` generators,
        # not itertools.chain: closing a delegating generator (client
        # disconnect mid-stream) propagates the close into the
        # underlying Spark iterator, where chain would drop it to GC.
        if fmt == "senml":
            it = iter_senml(cols, stype)
            head = list(islice(it, stream_threshold + 1))
            if len(head) <= stream_threshold:
                it.close()
                return jsonify(head)

            def senml_rest(first=head):
                yield from first
                yield from it

            return _stream_senml(senml_rest())
        if fmt == "csv":
            keys = multi_label_keys(cols)
            header = csv_multi_header(keys)
            lines = row_lines(lines_multi(cols, stype, keys))
        else:
            header = None
            lines = row_lines(lines_jsonl(cols, stype))
        head = list(islice(lines, stream_threshold + 1))
        if len(head) <= stream_threshold:
            lines.close()
            if fmt == "csv":
                body = "\n".join([header] + head) + "\n"
            else:
                body = "".join(ln + "\n" for ln in head)
            return Response(body, mimetype=EXPORT_MEDIA[fmt])
        def resumed(first=head):
            yield from first
            yield from lines

        # Shared chunk assembly (csv_exporter.chunk_lines): the streamed
        # bytes stay byte-identical to the full-collect bodies, and the
        # guarantee lives in exactly one implementation.
        return Response(
            chunk_lines(resumed(), header), mimetype=EXPORT_MEDIA[fmt]
        )

    @app.errorhandler(400)
    def bad_request(e):
        return jsonify({"error": str(e.description or e)}), 400

    @app.get("/")
    def frontpage():
        # Reference serves the instance name as a JSON string
        # (server.rs:151-155: `Json(state.name)`).
        return jsonify(app.name)

    @app.get("/docs")
    def api_docs():
        # Reference serves interactive docs at /docs built from an
        # OpenAPI document (server.rs:84 + the ApiDoc derive at
        # server.rs:40-52). The equivalent machine-readable OpenAPI 3
        # document is generated here from the live route table, tagged
        # with the reference's five tag groups.
        tags = {
            "/": "SensApp", "/publish": "SensApp", "/metrics": "SensApp",
            "/series": "SensApp", "/series/<sensor_id>": "SensApp",
            "/api/v1/query": "SensApp", "/api/v1/query_range": "SensApp",
            "/api/v2/write": "InfluxDB",
            "/api/v1/prometheus_remote_write": "Prometheus",
            "/api/v1/prometheus_remote_read": "Prometheus",
            "/api/v1/admin/vacuum": "Admin",
            "/api/v1/admin/stats": "Admin",
            "/api/v1/admin/retention": "Admin",
            "/api/v1/admin/rollup/refresh": "Admin",
            "/api/v1/rollup": "SensApp",
            "/health": "Health", "/health/live": "Health",
            "/health/ready": "Health",
        }
        paths: dict = {}
        for rule in app.url_map.iter_rules():
            if rule.endpoint == "static" or str(rule) == "/docs":
                continue
            path = str(rule).replace("<", "{").replace(">", "}")
            ops = paths.setdefault(path, {})
            for method in sorted(rule.methods - {"HEAD", "OPTIONS"}):
                ops[method.lower()] = {
                    "tags": [tags.get(str(rule), "SensApp")],
                    "operationId": f"{method.lower()}_{rule.endpoint}",
                    "responses": {"200": {"description": "OK"}},
                }
        return jsonify(
            {
                "openapi": "3.0.3",
                "info": {"title": "SensApp API", "version": "0.3.0"},
                "tags": [
                    {"name": "SensApp", "description": "SensApp API"},
                    {"name": "InfluxDB", "description": "InfluxDB Write API"},
                    {
                        "name": "Prometheus",
                        "description": "Prometheus Remote Write and Read API",
                    },
                    {
                        "name": "Admin",
                        "description": "Administrative operations",
                    },
                    {"name": "Health", "description": "Health check endpoints"},
                ],
                "paths": paths,
            }
        )

    @app.get("/health")
    def health():
        return jsonify({"status": "ok"})

    @app.get("/health/live")
    def health_live():
        # Liveness never touches storage (health.rs:37-44): if the
        # process can respond, it is alive.
        return jsonify({"status": "ok"})

    @app.get("/health/ready")
    def health_ready():
        # Readiness = storage genuinely reachable (health.rs:53-76:
        # calls storage.health_check(), a live DB round trip). The
        # Spark analogue runs a REAL bounded read: the lake root must
        # be listable, and when a sensors dimension exists, one row is
        # fetched through the actual parquet scan — a metadata-only
        # schema probe would report ok for a corrupt or unmounted lake.
        import os as _os

        try:
            _os.listdir(lake.root)  # filesystem round trip
            if _os.path.exists(lake._sensors_path()):
                lake.sensors().limit(1).collect()  # real scan, ≤1 row
            else:
                # Empty lake: prove the session can still run a job.
                spark.range(1).collect()
            return jsonify({"status": "ready", "database": "ok"})
        except Exception as e:  # pragma: no cover - storage fault path
            return (
                jsonify(
                    {
                        "status": "not_ready",
                        "database": "error",
                        "error": str(e),
                    }
                ),
                503,
            )

    @app.post("/publish")
    def publish():
        ctype = (request.content_type or "").split(";")[0].strip()
        body = request.get_data()
        try:
            if ctype == "application/json":
                batch = ingest_senml(spark, body.decode())
            elif ctype in ("application/vnd.apache.arrow.file",
                           "application/vnd.apache.arrow.stream"):
                batch = ingest_arrow(spark, body)
            else:  # CSV is the default (server.rs:195-203)
                import tempfile

                with tempfile.NamedTemporaryFile(
                    "w", suffix=".csv", delete=False
                ) as f:
                    f.write(body.decode())
                    path = f.name
                batch = ingest_csv(spark, path)
        except (SenMLError, CsvFormatError, ValueError) as e:
            return jsonify({"error": str(e)}), 400
        lake.publish(batch)
        return jsonify({"status": "published"})

    @app.post("/api/v2/write")
    def influx_write():
        try:
            batch = ingest_lines(
                spark,
                request.get_data().decode(),
                precision=request.args.get("precision", "ns"),
                bucket=request.args.get("bucket"),
                org=request.args.get("org"),
            )
        except LineProtocolError as e:
            return jsonify({"error": str(e)}), 400
        lake.publish(batch)
        return "", 204  # InfluxDB API returns 204 No Content

    def _verify_prom_headers(version_header: str):
        """Strict Prometheus wire-header validation, mirroring the
        reference's verify_headers (prometheus_write.rs:21-73 and
        prometheus_read.rs:24-77): content-encoding must be snappy,
        content-type must be application/x-protobuf, and the protocol
        version header must be 0.1.0 — each missing/unsupported header
        is a 400 with the same didactic message."""
        enc = request.headers.get("content-encoding")
        if enc is None:
            return "Missing content-encoding header"
        if enc.lower() != "snappy":
            return "Unsupported content-encoding, must be snappy"
        ctype = request.headers.get("content-type")
        if ctype is None:
            return "Missing content-type header"
        if ctype.lower() != "application/x-protobuf":
            return "Unsupported content-type, must be application/x-protobuf"
        version = request.headers.get(version_header)
        if version is None:
            return f"Missing {version_header} header"
        if version != "0.1.0":
            return f"Unsupported {version_header}, must be 0.1.0"
        return None

    @app.post("/api/v1/prometheus_remote_write")
    def prom_write():
        err = _verify_prom_headers("x-prometheus-remote-write-version")
        if err is not None:
            return jsonify({"error": err}), 400
        try:
            batch = ingest_remote_write(spark, request.get_data())
        except (RemoteWriteError, ValueError) as e:
            return jsonify({"error": str(e)}), 400
        lake.publish(batch)
        return "", 204

    @app.post("/api/v1/prometheus_remote_read")
    def prom_read():
        # Response type chosen from accepted_response_types, like
        # reference prometheus_read.rs:105-175: STREAMED_XOR_CHUNKS when
        # the client accepts it, SAMPLES otherwise.
        from sensapp_spark.exporters.prometheus_read import (
            iter_read_request_streamed,
        )
        from sensapp_spark.wire import snappy_codec
        from sensapp_spark.wire.prompb import (
            RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
            decode_read_request,
        )

        err = _verify_prom_headers("x-prometheus-remote-read-version")
        if err is not None:
            return jsonify({"error": err}), 400
        raw_body = request.get_data()
        try:
            _, accepted = decode_read_request(snappy_codec.decompress(raw_body))
            if RESPONSE_TYPE_STREAMED_XOR_CHUNKS in accepted:
                # Genuinely streamed: each ChunkedReadResponse frame is
                # flushed as its query finishes (the request was already
                # decoded above, so malformed payloads 400 before any
                # frame goes out).
                frames = iter_read_request_streamed(
                    raw_body, lake.sensors(), lake.values
                )
                return Response(
                    frames,
                    mimetype=(
                        "application/x-streamed-protobuf; "
                        "proto=prometheus.ChunkedReadResponse"
                    ),
                )
            body = handle_read_request(raw_body, lake.sensors(), lake.values)
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        return Response(
            body,
            mimetype="application/x-protobuf",
            headers={"Content-Encoding": "snappy"},
        )

    def _probe_matched_ids(eq) -> list[str] | None:
        """Bounded dimension probe for the zone-map file-skipping path
        (storage/zonemap.py): when the extended query's selector
        matches at most ZONEMAP_PROBE_MAX sensors, hand their ids to
        ``lake.values`` so the FLOAT fact scan plans over the pruned
        file list instead of every part file in the window. Returns
        None (full scan) for over-cap matches or shapes without a
        selector. Uses the SAME select_sensors the evaluator runs, so
        the restricted scan is exactly the rows evaluation reads —
        including the empty set (absent() still sees the absence).

        Skipped entirely — one driver-side stat, no Spark job — when
        the scanned table version carries no zone-map sidecar: the
        probe's collect() would then buy nothing (round-8 advisor,
        finding 3)."""
        from sensapp_spark.operators.selection import (
            probe_sensor_rows,
            select_sensors,
        )
        from sensapp_spark.storage import zonemap as zm
        from sensapp_spark.storage.lake import resolve_table
        from sensapp_spark.storage.logstore import get_store

        if eq.selector is None:
            return None
        data = resolve_table(lake._values_path(SensorType.FLOAT))
        if data is None or not get_store().exists(
            os.path.join(data, zm.ZONEMAP_NAME)
        ):
            return None
        rows = probe_sensor_rows(
            select_sensors(lake.sensors(), eq.selector.matchers)
        )
        if rows is None:
            return None
        return [r.sensor_id for r in rows]

    def _numeric_types_present():
        """Numeric value tables with a committed version — one pointer
        read each, no Spark jobs. FLOAT is always included so an empty
        lake still plans the canonical empty scan."""
        from sensapp_spark.storage.rollup import RollupStore

        present = [
            st for st in RollupStore._NUMERIC
            if lake.committed_seq(st) is not None
        ]
        return present or [SensorType.FLOAT]

    def _numeric_values(start, end, sensor_ids=None):
        """Integer/Numeric→f64 union for the extended PromQL paths —
        the remote-read P4 semantics
        (exporters/prometheus_read.py:36-68; reference
        src/ingestors/http/prometheus_read.rs:363-409). Before round
        12 these routes scanned FLOAT only, so an Integer counter
        queried through /api/v1/query or /api/v1/query_range silently
        returned no series."""
        from pyspark.sql import functions as F

        out = None
        for st in _numeric_types_present():
            frame = lake.values(
                st, start, end, sensor_ids=sensor_ids
            ).select(
                "sensor_id", "time",
                F.col("value").cast("double").alias("value"),
            )
            out = frame if out is None else out.unionByName(frame)
        return out

    def _pick_rollup(eq, serveable) -> list | None:
        """One (store, stype, grain) per present numeric type whose
        window arithmetic ``serveable(grain)`` accepts — coarsest
        grain first — with each function gated on the minimum rollup
        row-schema version its fold reads (rollup_serve.
        SERVE_MIN_SCHEMA: a pre-upgrade table would fold nulls or
        stale cnt semantics). None when ANY type with data cannot be
        served: a partial serve would silently drop that type's
        series, so the caller falls back to the raw union instead."""
        from sensapp_spark.query.rollup_serve import (
            maintained_grains,
            min_schema_for,
        )
        from sensapp_spark.storage.rollup import RollupStore

        picked = []
        for st in _numeric_types_present():
            got = None
            for g in maintained_grains(lake, st):
                if not serveable(g):
                    continue
                store = RollupStore(lake, grain_s=g)
                if store.committed_schema(st) < min_schema_for(eq.func):
                    continue
                got = (store, st, g)
                break
            if got is None:
                return None
            picked.append(got)
        return picked

    def _rollup_tag(picked) -> str:
        grains = sorted({g for _, _, g in picked})
        return "rollup-" + "+".join(f"{g}s" for g in grains)

    def _finish_instant_vector(out, served_from: str | None = None):
        """Materialize an instant-vector (or binary) result with the
        in-plan INSTANT_ROW_CAP guard: limit(cap+1) caps the collect
        itself, so a pathological-cardinality query returns 400
        instead of OOMing the driver (the query_range discipline,
        extended to its siblings — round-12 review)."""
        cap = INSTANT_ROW_CAP
        rows = [
            row.asDict(recursive=True)
            for row in out.limit(cap + 1).collect()
        ]
        if len(rows) > cap:
            return jsonify({
                "error": f"result exceeds {cap} series; narrow the "
                "matchers or aggregate with a lower-cardinality "
                "grouping"
            }), 400
        resp = jsonify({"result": rows})
        if served_from is not None:
            resp.headers["X-Served-From"] = served_from
        return resp

    @app.get("/api/v1/query")
    def promql_query():
        query = request.args.get("query")
        if not query:
            return jsonify({"error": "missing query parameter"}), 400
        fmt = request.args.get("format", "senml")
        if fmt not in VALID_FORMATS:
            return jsonify({"error": f"invalid format: {fmt}"}), 400
        # Opt-in extension: ?extended=true additionally accepts the
        # aggregation/function classes the reference rejects
        # (rate/increase/*_over_time, sum/avg/… by(label)) and returns
        # the instant vector as JSON. Without the flag the endpoint
        # reproduces the reference's 400s exactly.
        if request.args.get("extended", "").lower() in ("1", "true"):
            from sensapp_spark.query.promql_ext import (
                BinaryQuery,
                data_window,
                evaluate_binary,
                evaluate_extended,
                needs_extended,
                parse_extended_expr,
            )

            try:
                eq = parse_extended_expr(query)
            except PromQLError as e:
                return jsonify({"error": str(e)}), 400
            if isinstance(eq, BinaryQuery):
                from sensapp_spark.query.promql_ext import ScalarOf

                # Load the envelope of both operands' data windows
                # (data_window widens for subquery operands, unwraps
                # scalar() operands, and is (None, None) for constant
                # vectors); each side re-applies its own exact range
                # inside evaluate.
                windows = [
                    data_window(s.eq if isinstance(s, ScalarOf) else s)
                    for s in (eq.left, eq.right)
                    if not isinstance(s, float)
                ]
                windows = [w for w in windows if w[0] is not None]
                start = min((w[0] for w in windows), default=None)
                end = max((w[1] for w in windows), default=None)
                try:
                    out = evaluate_binary(
                        lake.sensors(),
                        _numeric_values(start, end),
                        eq,
                    )
                except PromQLError as e:
                    # Operand-shape rejections raised at evaluation
                    # time (absent/hist/aggregated-inner operands) are
                    # client errors, not 500s.
                    return jsonify({"error": str(e)}), 400
                return _finish_instant_vector(out)
            if needs_extended(eq):
                from sensapp_spark.query.rollup_serve import (
                    evaluate_instant_rollup,
                    rollup_serveable_instant,
                )

                # Auto-route grain-compatible INSTANT evaluations
                # through the maintained rollup (round 12) — the same
                # exactness argument as query_range's served path;
                # ?rollup=0 opts out for A/B. The served evaluation
                # sits in the same try/except PromQLError → 400 as the
                # raw branch: the shared tail (_finish_instant) raises
                # the same validation errors on both paths, and a
                # served 500 where raw answers 400 would make the
                # auto-routing observable as a bug (round-12 advisor).
                out, served_from = None, "raw"
                try:
                    if request.args.get(
                        "rollup", "auto"
                    ).lower() not in ("0", "off", "false"):
                        picked = _pick_rollup(
                            eq,
                            lambda g: rollup_serveable_instant(eq, g),
                        )
                        if picked:
                            store, st, _g = picked[0]
                            out = evaluate_instant_rollup(
                                store, lake.sensors(), eq, stype=st,
                                extra=[(s, t) for s, t, _ in picked[1:]],
                            )
                            served_from = _rollup_tag(picked)
                    if out is None:
                        start, end = data_window(eq)
                        out = evaluate_extended(
                            lake.sensors(),
                            _numeric_values(
                                start, end,
                                sensor_ids=_probe_matched_ids(eq),
                            ),
                            eq,
                        )
                except PromQLError as e:
                    return jsonify({"error": str(e)}), 400
                return _finish_instant_vector(out, served_from)
        try:
            parsed = parse_promql_query(query)
        except PromQLError as e:
            return jsonify({"error": str(e)}), 400
        start = parsed.start_time.replace(tzinfo=None)
        end = parsed.end_time.replace(tzinfo=None)
        # The simple endpoint serves Float series (the reference's
        # fixture path); extend per-type on demand.
        df = query_samples(
            lake.sensors(),
            lake.values(SensorType.FLOAT, parsed.start_time, parsed.end_time),
            parsed.matchers,
            start=start,
            end=end,
        )
        return _export(df, fmt, SensorType.FLOAT)

    @app.get("/series/<sensor_id>")
    def get_series(sensor_id: str):
        fmt = request.args.get("format", "senml")
        if fmt not in VALID_FORMATS:
            return jsonify({"error": f"invalid format: {fmt}"}), 400
        try:
            start = _parse_rfc3339(request.args.get("start"))
            end = _parse_rfc3339(request.args.get("end"))
        except ValueError as e:
            return jsonify({"error": f"bad datetime: {e}"}), 400
        limit = request.args.get("limit", type=int)
        from pyspark.sql import functions as F

        # Column equality, not f-string SQL: the id comes from the URL
        # path and must never be interpolated into an expression.
        meta = (
            lake.sensors()
            .filter(F.col("sensor_id") == sensor_id)
            .collect()
        )
        if not meta:
            return jsonify({"error": "sensor not found"}), 404
        stype = SensorType.from_label(meta[0].type)
        # sensor_ids both filters and FILE-SKIPS via the zone map — on
        # a clustered table this reads ~1 file per month instead of
        # every part file (storage/zonemap.py). values() applies the
        # inclusive time bounds itself; no extra time_range wrapper.
        # ?at_seq= time-travels to an earlier committed version (the
        # lake's retain_generations window) — the ops read for "what
        # did this series hold before that rewrite/delete" (round 10;
        # 410 when the version has been pruned, which is not a client
        # error and not a 404: the series exists, the snapshot is
        # gone).
        # Parse at_seq by hand: Flask's type=int silently returns None
        # on a malformed value, which would serve the CURRENT version
        # with 200 — a time-travel read silently answering from the
        # wrong snapshot. Present-but-not-an-integer is a 400; 410 is
        # reserved for a valid seq whose version has been pruned.
        at_seq_raw = request.args.get("at_seq")
        at_seq = None
        if at_seq_raw is not None:
            try:
                at_seq = int(at_seq_raw)
            except ValueError:
                return jsonify(
                    {"error": f"at_seq must be an integer, got "
                              f"{at_seq_raw!r}"}), 400
        try:
            vals = lake.values(
                stype, start, end, at_seq=at_seq,
                sensor_ids=[sensor_id],
            )
        except VersionNotRetained as e:
            return jsonify({"error": str(e)}), 410
        if limit:
            vals = vals.orderBy("time").limit(limit)
        df = vals.join(F.broadcast(lake.sensors()), "sensor_id", "left")
        return _export(df, fmt, stype)

    @app.get("/metrics")
    def metrics():
        df = metrics_list(
            lake.sensors(),
            name_contains=request.args.get("name"),
            name_regex=request.args.get("name_regex"),
            sensor_type=request.args.get("sensor_type"),
        )
        return jsonify(metrics_catalog(df))

    @app.get("/series")
    def series():
        matchers = None
        selector = request.args.get("selector")
        if selector:
            try:
                matchers = parse_promql_query(selector).matchers
            except PromQLError as e:
                return jsonify({"error": str(e)}), 400
        df = series_list(
            lake.sensors(), metric=request.args.get("metric"), matchers=matchers
        )
        return jsonify(series_catalog(df))

    @app.post("/api/v1/admin/vacuum")
    def vacuum():
        # Compaction is stats-driven (round 10): files_per_month comes
        # from the sidecar's exact per-month row counts instead of a
        # constant — the decision per table rides back in the response.
        decisions = {}
        for stype in SensorType:
            lake.dedup_rewrite(stype)
            d = lake.optimize_auto(stype)
            if d is not None:
                decisions[stype.name.lower()] = d
        return jsonify({"status": "vacuumed", "optimize": decisions})

    # Beyond-reference: partition-grain retention — expire every month
    # partition strictly older than `before` as a METADATA-ONLY commit
    # (storage/lake.py expire_before: hardlinked kept files, filtered
    # zone-map carry, tombstone; zero data reads). The ops call an
    # operator runs on a schedule — typically after checking
    # /api/v1/admin/stats?partitions=1 for what a cutoff would drop.
    def _parse_ts(raw: str) -> dt.datetime:
        """Epoch seconds or ISO-8601 → naive UTC (raises ValueError).

        Naive ISO input is UTC — same contract as _parse_rfc3339 and
        the lake's naive-UTC storage; astimezone() would reinterpret
        it in host-local time and shift a retention cutoff across a
        month boundary. fromtimestamp raises OverflowError/OSError
        (not ValueError) for out-of-range epochs like 1e20, which
        must surface as a 400, not a 500.
        """
        try:
            return dt.datetime.fromtimestamp(
                float(raw), dt.timezone.utc
            ).replace(tzinfo=None)
        except (OverflowError, OSError) as e:
            raise ValueError(f"epoch timestamp out of range: {raw}") from e
        except ValueError:
            parsed = dt.datetime.fromisoformat(raw.replace("Z", "+00:00"))
            if parsed.tzinfo is not None:
                parsed = parsed.astimezone(dt.timezone.utc)
            return parsed.replace(tzinfo=None)

    @app.post("/api/v1/admin/retention")
    def retention():
        raw = request.args.get("before")
        if not raw:
            return jsonify({"error": "missing before parameter "
                            "(ISO timestamp or epoch seconds)"}), 400
        try:
            cutoff = _parse_ts(raw)
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        report = lake.expire_before(cutoff)
        return jsonify({
            "status": "expired",
            "cutoff_month": cutoff.strftime("%Y-%m"),
            "tables": {k.lower(): v for k, v in report.items()},
        })

    # Beyond-reference: continuous aggregates (storage/rollup.py) —
    # the maintained per-sensor bucket quartet a dashboard reads
    # INSTEAD of re-aggregating raw rows. GET serves the committed
    # rollup (or realtime=1: rollup ∪ recomputed live tail); the
    # admin POST is the maintenance tick a scheduler calls. Rows
    # stream JSONL above the threshold with bounded driver memory —
    # the same peek-ahead discipline as every other export.
    @app.post("/api/v1/admin/rollup/refresh")
    def rollup_refresh():
        from sensapp_spark.storage.lake import resolve_table
        from sensapp_spark.storage.rollup import (
            RollupStore,
            SketchRollupStore,
        )

        from sensapp_spark.storage.qrollup import QuantileRollupStore

        try:
            grain = int(request.args.get("grain", "3600"))
            # ?sketch=1 maintains the bucket-keyed SKETCH rollup
            # (per-bucket KMV distinct-series + CMS heavy-hitters),
            # ?quantile=1 the bottom-k value-sample rollup (the
            # opt-in approximate quantile_over_time path, round 13),
            # instead of the quartet.
            if request.args.get("sketch") in ("1", "true"):
                cls = SketchRollupStore
            elif request.args.get("quantile") in ("1", "true"):
                cls = QuantileRollupStore
            else:
                cls = RollupStore
            store = cls(lake, grain_s=grain)
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        out = {}
        for stype in RollupStore._NUMERIC:
            if resolve_table(lake._values_path(stype)) is None:
                continue
            out[stype.name.lower()] = store.refresh(stype)
        return jsonify({"status": "refreshed", "grain_s": grain,
                        "sketch": cls is SketchRollupStore,
                        "quantile": cls is QuantileRollupStore,
                        "tables": out})

    @app.get("/api/v1/rollup")
    def rollup_read():
        from itertools import islice

        from pyspark.sql import functions as F

        from sensapp_spark.exporters.csv_exporter import row_lines
        from sensapp_spark.exporters.text import rfc3339_col
        from sensapp_spark.storage.rollup import RollupStore

        try:
            grain = int(request.args.get("grain", "3600"))
            stype = SensorType[request.args.get("type", "float").upper()]
            store = RollupStore(lake, grain_s=grain)
            store._path(stype)  # numeric-table guard
        except (KeyError, ValueError):
            return jsonify({"error": "unknown type or grain"}), 400
        try:
            start = (
                _parse_ts(request.args["start"])
                if "start" in request.args else None
            )
            end = (
                _parse_ts(request.args["end"])
                if "end" in request.args else None
            )
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        realtime = request.args.get("realtime") in ("1", "true")
        fold = request.args.get("fold")
        if fold is not None:
            try:
                df = store.read_folded(
                    stype, int(fold), start, end, realtime=realtime
                )
            except ValueError as e:
                return jsonify({"error": str(e)}), 400
        elif realtime:
            df = store.read_realtime(stype, start, end)
        else:
            df = store.read(stype, start, end)
        lines = (
            df.orderBy("sensor_id", "bucket")
            .select(
                F.to_json(
                    F.struct(
                        F.col("sensor_id"),
                        rfc3339_col(F.col("bucket")).alias("bucket"),
                        F.col("cnt"),
                        F.col("vsum"),
                        F.col("vmin"),
                        F.col("vmax"),
                    )
                ).alias("line")
            )
        )
        it = row_lines(lines)
        head = list(islice(it, stream_threshold + 1))
        if len(head) <= stream_threshold:
            it.close()
            return Response(
                "".join(ln + "\n" for ln in head),
                mimetype="application/jsonl",
            )

        def resumed(first=head):
            for ln in first:
                yield ln + "\n"
            for ln in it:
                yield ln + "\n"

        return Response(resumed(), mimetype="application/jsonl")

    # Beyond-reference (round 11): one composed maintenance pass —
    # rollup/sketch refresh, stats-driven compaction, zone-map
    # refresh, optional retention — the admin loop a scheduler calls
    # (streaming/maintenance.py runs the same tick continuously).
    @app.post("/api/v1/admin/maintain")
    def admin_maintain():
        from sensapp_spark.streaming.maintenance import (
            MaintenancePlan,
            maintenance_tick,
        )

        def _grains(name, default):
            raw = request.args.get(name)
            if raw is None:
                return default
            return tuple(int(g) for g in raw.split(",") if g.strip())

        try:
            cutoff = (
                _parse_ts(request.args["retain_before"])
                if "retain_before" in request.args else None
            )
            plan = MaintenancePlan(
                rollup_grains=_grains("rollup_grains", (3600,)),
                sketch_grains=_grains("sketch_grains", ()),
                optimize=request.args.get("optimize", "1")
                not in ("0", "false"),
                dedup=request.args.get("dedup") in ("1", "true"),
                retention_before=(
                    (lambda c=cutoff: c) if cutoff is not None else None
                ),
            )
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        report = maintenance_tick(lake, plan)
        return jsonify({
            "status": "maintained",
            "conflicts": report.pop("conflicts", 0),
            "steps": {
                k: (v if isinstance(v, (dict, int, float, str, list))
                    or v is None else str(v))
                for k, v in report.items()
            },
        })

    # Beyond-reference (round 11): the CONTINUOUS sketch rollup's two
    # read shapes — per-bucket distinct-series estimates (the
    # metrics_summary COUNT(DISTINCT sensor_id) dashboard, served from
    # the maintained table instead of a re-scan) and per-bucket
    # heavy-hitter probes for a bounded id list (same 64-id cap as
    # /admin/stats: the probe output is driver-collected).
    def _sketch_store_from_args():
        from sensapp_spark.storage.rollup import SketchRollupStore

        grain = int(request.args.get("grain", "3600"))
        stype = SensorType[request.args.get("type", "float").upper()]
        store = SketchRollupStore(lake, grain_s=grain)
        store._path(stype)  # numeric-table guard
        start = (
            _parse_ts(request.args["start"])
            if "start" in request.args else None
        )
        end = (
            _parse_ts(request.args["end"])
            if "end" in request.args else None
        )
        realtime = request.args.get("realtime") in ("1", "true")
        fold = request.args.get("fold")
        if fold == "auto":
            # Round 12: pick the COARSEST maintained sketch grain
            # instead of making the client know the grains — fewest
            # bucket rows under the response cap, and reading a
            # maintained coarse table beats folding the fine one
            # (maintained-vs-folded equivalence is the sketch fold's
            # invariant; both clip on the same epoch-aligned coarse
            # bucket grid, so no window-alignment caveat applies).
            from sensapp_spark.query.rollup_serve import (
                maintained_grains,
            )

            grains = maintained_grains(lake, stype, sketch=True)
            if grains:
                store = SketchRollupStore(lake, grain_s=grains[0])
            rows = (
                store.read_realtime(stype, start, end)
                if realtime else store.read(stype, start, end)
            )
        elif fold is not None:
            rows = store.read_folded(
                stype, int(fold), start, end, realtime=realtime
            )
        elif realtime:
            rows = store.read_realtime(stype, start, end)
        else:
            rows = store.read(stype, start, end)
        return store, rows

    @app.get("/api/v1/rollup/distinct")
    def rollup_distinct():
        from pyspark.sql import functions as F

        from sensapp_spark.exporters.text import rfc3339_col

        try:
            store, rows = _sketch_store_from_args()
        except (KeyError, ValueError) as e:
            return jsonify({"error": str(e)}), 400
        est = store.distinct_estimates(rows).orderBy("bucket").select(
            rfc3339_col(F.col("bucket")).alias("bucket"),
            "distinct_series",
        )
        # Same driver bound as /rollup/heavy: the bucket axis is the
        # retention window — cap and ask for a window or a fold.
        cap = 100_000
        out = est.limit(cap + 1).collect()
        if len(out) > cap:
            return jsonify({
                "error": f"result exceeds {cap} rows; narrow the "
                "start/end window or fold to a coarser grain"
            }), 400
        return jsonify({"grain": store.grain_s,
                        "buckets": [r.asDict() for r in out]})

    @app.get("/api/v1/rollup/heavy")
    def rollup_heavy():
        from pyspark.sql import functions as F

        from sensapp_spark.exporters.text import rfc3339_col

        ids = [
            s.strip()
            for s in request.args.get("sensor_ids", "").split(",")
            if s.strip()
        ]
        if not ids:
            return jsonify({"error": "missing sensor_ids"}), 400
        if len(ids) > 64:
            return jsonify({"error": "sensor_ids is capped at 64 ids "
                            "per call"}), 400
        try:
            store, rows = _sketch_store_from_args()
        except (KeyError, ValueError) as e:
            return jsonify({"error": str(e)}), 400
        probes = spark.createDataFrame(
            [(s,) for s in ids], "sensor_id string"
        )
        est = store.heavy_hitters(rows, probes).orderBy(
            "bucket", "sensor_id"
        ).select(
            rfc3339_col(F.col("bucket")).alias("bucket"),
            "sensor_id",
            "rows_estimate",
        )
        # Driver-memory bound: ids are capped at 64 but the bucket
        # axis is the retention window (years of hourly buckets × 64
        # ids collects millions of rows). Cap inside the plan and
        # tell the caller to narrow start/end or coarsen with fold=.
        cap = 100_000
        out = est.limit(cap + 1).collect()
        if len(out) > cap:
            return jsonify({
                "error": f"result exceeds {cap} rows; narrow the "
                "start/end window or fold to a coarser grain"
            }), 400
        return jsonify({"grain": store.grain_s,
                        "estimates": [r.asDict() for r in out]})

    # Beyond-reference: table statistics from the FOLDED sidecar
    # sketches — planned IO proportional to files, zero data reads
    # (storage/lake.py sketch_distinct_series / sketch_series_rows).
    # Estimates report null for any table whose sidecar coverage is
    # incomplete (hint-not-authority); per-sensor row estimates are
    # returned only for an explicit bounded id list. Both folds are
    # pinned to ONE committed version per table so a concurrent
    # publish cannot mix versions inside a response.
    @app.get("/api/v1/admin/stats")
    def table_stats():
        ids = [
            s.strip()
            for s in request.args.get("sensor_ids", "").split(",")
            if s.strip()
        ]
        if len(ids) > 64:
            return jsonify({
                "error": "sensor_ids is capped at 64 ids per call — "
                "the probe is driver-side and bounded by design"
            }), 400
        out: dict = {}
        for stype in SensorType:
            seq = lake.committed_seq(stype)
            est = lake.sketch_distinct_series(stype, at_seq=seq)
            entry: dict = {
                "distinct_series_estimate": est,
                "estimated_from": "sidecar-sketch" if est is not None
                else None,
            }
            if ids:
                entry["series_rows_estimate"] = lake.sketch_series_rows(
                    stype, ids, at_seq=seq
                )
            if request.args.get("partitions") in ("1", "true"):
                # Per-month partition stats (round 10): files/rows/time
                # bounds per month from the sidecar + file log alone —
                # zero data reads; null when the sidecar cannot answer
                # completely (same rule as the sketch folds).
                entry["partitions"] = lake.partition_stats(
                    stype, at_seq=seq
                )
            out[stype.name.lower()] = entry
        return jsonify(out)

    # Beyond-reference: GDPR erasure across the star — value rows
    # (tombstoned delete per typed table) AND the dimension row with
    # its labels, in one call (storage/lake.py erase_sensor).
    @app.delete("/series/<sensor_id>")
    def erase_series(sensor_id: str):
        from pyspark.sql import functions as F

        known = (
            lake.sensors()
            .filter(F.col("sensor_id") == sensor_id)
            .limit(1)
            .count()
        )
        if not known:
            return jsonify({"error": "sensor not found"}), 404
        report = lake.erase_sensor(sensor_id)
        return jsonify({"status": "erased", **report})

    # Beyond-reference: Prometheus range queries — evaluate an extended
    # expression at step intervals over [start, end].
    @app.get("/api/v1/query_range")
    def promql_query_range():
        from sensapp_spark.query.promql_ext import (
            BinaryQuery,
            evaluate_range,
            evaluate_range_binary,
            parse_extended_expr,
        )

        query = request.args.get("query")
        if not query:
            return jsonify({"error": "missing query parameter"}), 400

        def parse_time(name):
            raw = request.args.get(name)
            if raw is None:
                raise ValueError(f"missing {name} parameter")
            try:
                return dt.datetime.fromtimestamp(
                    float(raw), dt.timezone.utc
                ).replace(tzinfo=None)
            except (OverflowError, OSError) as e:
                raise ValueError(
                    f"{name} epoch timestamp out of range"
                ) from e
            except ValueError:
                # Naive ISO input is UTC (the API-wide contract) —
                # astimezone() on a naive value would reinterpret it
                # in host-local time.
                parsed = dt.datetime.fromisoformat(
                    raw.replace("Z", "+00:00")
                )
                if parsed.tzinfo is not None:
                    parsed = parsed.astimezone(dt.timezone.utc)
                return parsed.replace(tzinfo=None)

        try:
            start = parse_time("start")
            end = parse_time("end")
            raw_step = request.args.get("step", "60")
            try:
                step = float(raw_step)
            except ValueError:
                from sensapp_spark.query.promql_ext import _duration_ms

                step = _duration_ms(raw_step) / 1000.0
            if step <= 0 or end < start:
                raise ValueError("step must be > 0 and end >= start")
            # Explicit parse anchor so the selector's `offset` can be
            # derived exactly (offset = anchor − selector end).
            now_parse = dt.datetime.now(dt.timezone.utc)
            eq = parse_extended_expr(query, now=now_parse)
        except (ValueError, PromQLError) as e:
            return jsonify({"error": str(e)}), 400

        rollup_on = request.args.get("rollup", "auto").lower() not in (
            "0", "off", "false"
        )
        # ?approx=1: the user's EXPLICIT opt-in to approximate
        # quantile serving from the bottom-k sample rollup; notes
        # collected per served operand surface as the X-Approx header.
        approx_on = request.args.get("approx", "").lower() in (
            "1", "true"
        )
        approx_notes: list[str] = []

        def _scan_bounds(seq):
            """Raw-scan window for ONE vector operand — lookback +
            offset behind [start, end], widened for subquery reach
            and fixed-@ anchors (whose window may lie entirely
            outside the step range)."""
            lookback = seq.selector.end_time - seq.selector.start_time
            if seq.sub_inner is not None:
                lookback += dt.timedelta(seconds=seq.sub_range_s)
            offset = max(
                dt.timedelta(0), now_parse - seq.selector.end_time
            )
            lo, hi = start - lookback - offset, end
            if seq.at_fixed:
                def _naive(t: dt.datetime) -> dt.datetime:
                    if t.tzinfo is not None:
                        t = t.astimezone(
                            dt.timezone.utc
                        ).replace(tzinfo=None)
                    return t

                lo = min(lo, _naive(seq.selector.start_time) - (
                    dt.timedelta(seconds=seq.sub_range_s)
                    if seq.sub_inner is not None else dt.timedelta(0)
                ))
                hi = max(hi, _naive(seq.selector.end_time))
            return lo, hi

        def _raw_side(seq):
            lo, hi = _scan_bounds(seq)
            # Integer/Numeric→f64 union (round 12): integer counters
            # appear in range queries exactly as in remote-read.
            return evaluate_range(
                lake.sensors(),
                _numeric_values(
                    lo, hi, sensor_ids=_probe_matched_ids(seq)
                ),
                seq,
                start=start, end=end, step_seconds=step, now=now_parse,
            )

        def _rollup_side(seq):
            """The maintained-rollup frame for one operand when its
            window arithmetic is grain-compatible (for EVERY numeric
            type holding data — a partial serve would drop the
            unserved type's series), else None."""
            if not rollup_on:
                return None
            from sensapp_spark.query.rollup_serve import (
                evaluate_range_quantile,
                evaluate_range_rollup,
                maintained_grains,
                quantile_rollup_serveable,
                rollup_serveable,
            )

            picked = _pick_rollup(
                seq,
                lambda g: rollup_serveable(seq, g, start, step, now_parse),
            )
            if picked:
                store, st, _g = picked[0]
                frame = evaluate_range_rollup(
                    store, lake.sensors(), seq,
                    start=start, end=end, step_seconds=step,
                    now=now_parse, stype=st,
                    extra=[(s, t) for s, t, _ in picked[1:]],
                )
                return frame, _rollup_tag(picked)
            # APPROXIMATE quantile/mad serving (round 13): only
            # behind the user's explicit ?approx=1, only for
            # quantile_over_time / mad_over_time, only when a
            # bottom-k sample rollup (storage/qrollup.py) is
            # maintained and grain-compatible for EVERY numeric type
            # with data. The response self-describes via X-Approx —
            # the exact raw path is never silently substituted.
            if not (
                approx_on
                and getattr(seq, "func", None)
                in ("quantile_over_time", "mad_over_time")
            ):
                return None
            from sensapp_spark.storage.qrollup import QuantileRollupStore

            qpicked = []
            for st in _numeric_types_present():
                got = None
                for g in maintained_grains(lake, st, quantile=True):
                    if quantile_rollup_serveable(
                        seq, g, start, step, now_parse
                    ):
                        got = (QuantileRollupStore(lake, grain_s=g), st, g)
                        break
                if got is None:
                    return None
                qpicked.append(got)
            store, st, _g = qpicked[0]
            frame = evaluate_range_quantile(
                store, lake.sensors(), seq,
                start=start, end=end, step_seconds=step,
                now=now_parse, stype=st,
                extra=[(s, t) for s, t, _ in qpicked[1:]],
            )
            k = QuantileRollupStore.K
            approx_notes.append(
                f"{seq.func}: bottom-k sample (k={k}), rank "
                f"error ~ 1/sqrt(k) = {1 / k ** 0.5:.3f}; exact for "
                f"windows holding <= {k} samples"
            )
            return frame, _rollup_tag(qpicked) + "-quantile-approx"

        if isinstance(eq, BinaryQuery):
            # Range-query binary operations (round 11) — each vector
            # operand independently picks the maintained rollup when
            # grain-compatible; X-Served-From reports the blend.
            served_tags: list[str] = []

            def side_frame(seq):
                hit = _rollup_side(seq)
                if hit is not None:
                    frame, tag = hit
                    served_tags.append(tag)
                    return frame
                served_tags.append("raw")
                return _raw_side(seq)

            try:
                out = evaluate_range_binary(
                    lake.sensors(), None, eq,
                    start=start, end=end, step_seconds=step,
                    now=now_parse, side_eval=side_frame,
                )
            except PromQLError as e:
                return jsonify({"error": str(e)}), 400
            served_from = (
                served_tags[0]
                if len(set(served_tags)) == 1
                else "mixed(" + ",".join(served_tags) + ")"
            )
            return _finish_query_range(
                out, served_from,
                approx_note="; ".join(approx_notes) or None,
            )
        if eq.selector is None:
            # Constant vectors (vector()/time()/argless date funcs)
            # have no sample window; evaluate_range rejects them with
            # the didactic message.
            return jsonify(
                {
                    "error": "constant expressions in range queries are "
                    "not supported; evaluate them as instant queries."
                }
            ), 400
        # Auto-route grain-compatible range queries through the
        # MAINTAINED continuous aggregate (query/rollup_serve.py):
        # exact — the rollup's edge quartet makes closed windows fold
        # precisely from half-open buckets — so no opt-in is needed,
        # only an opt-out (?rollup=0) for A/B verification. The served
        # plan reads rollup buckets (∪ recomputed live tail), never
        # the raw value table; X-Served-From says which path answered.
        hit = _rollup_side(eq)
        if hit is not None:
            out, served_from = hit
        else:
            served_from = "raw"
            try:
                out = _raw_side(eq)
            except PromQLError as e:
                # Shapes evaluate_range rejects (histogram_quantile
                # etc.) are client errors, not 500s.
                return jsonify({"error": str(e)}), 400
        return _finish_query_range(
            out, served_from,
            approx_note="; ".join(approx_notes) or None,
        )

    def _finish_query_range(out, served_from: str,
                            approx_note: str | None = None):
        # ISO-format the step timestamp explicitly (Flask would render
        # datetime values as RFC-822 strings).
        from pyspark.sql import functions as F

        out = out.withColumn(
            "t", F.date_format("t", "yyyy-MM-dd'T'HH:mm:ss")
        )
        cap = QUERY_RANGE_ROW_CAP
        rows = [
            row.asDict(recursive=True)
            for row in out.limit(cap + 1).collect()
        ]
        if len(rows) > cap:
            return jsonify({
                "error": f"result exceeds {cap} points; increase the "
                "step, narrow the time range, or export raw samples "
                "via /series"
            }), 400
        if request.args.get("format") == "matrix":
            # Prometheus-style matrix: one entry per series with its
            # label set and the (t, value) samples in step order.
            series: dict = {}
            for d in rows:
                t, v = d.pop("t"), d.pop("value")
                metric: dict = {}
                lbls = d.pop("labels", None)
                if isinstance(lbls, dict):
                    metric.update(lbls)
                elif lbls is not None:
                    metric["labels"] = lbls
                name = d.pop("name", None)
                if name is not None:
                    metric["__name__"] = name
                metric.update(
                    {k: str(val) for k, val in d.items() if val is not None}
                )
                key = json.dumps(metric, sort_keys=True)
                series.setdefault(
                    key, {"metric": metric, "values": []}
                )["values"].append([t, v])
            for entry in series.values():
                entry["values"].sort(key=lambda tv: tv[0])
            resp = jsonify(
                {
                    "status": "success",
                    "data": {
                        "resultType": "matrix",
                        "result": list(series.values()),
                    },
                }
            )
            resp.headers["X-Served-From"] = served_from
            if approx_note:
                resp.headers["X-Approx"] = approx_note
            return resp
        resp = jsonify({"result": rows})
        resp.headers["X-Served-From"] = served_from
        if approx_note:
            resp.headers["X-Approx"] = approx_note
        return resp

    # Beyond-reference: Prometheus HTTP-API label browsing (the
    # response envelope is Prometheus' {"status","data"} shape).
    # Cardinality safety (round 7): both routes collect a DISTINCT set
    # to the driver, so a high-cardinality dimension (a uuid-valued
    # label) could balloon the response and the driver heap. ``limit=``
    # caps the result (Prometheus' own HTTP-API parameter); the default
    # of 1000 keeps the worst case bounded, ``limit=0`` means
    # unlimited for operators who really want the full set. The LIMIT
    # lands inside the Spark plan (sorted for determinism), so the
    # driver never materializes more than the cap.
    DEFAULT_LABEL_LIMIT = 1000

    def _label_limit():
        limit = request.args.get("limit", type=int)
        if limit is None:
            return DEFAULT_LABEL_LIMIT
        if limit < 0:
            raise ValueError("limit must be >= 0")
        return limit or None  # 0 → unlimited

    @app.get("/api/v1/labels")
    def labels():
        from sensapp_spark.operators.catalog import label_names

        try:
            limit = _label_limit()
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        df = label_names(lake.sensors()).orderBy("label")
        if limit:
            df = df.limit(limit)
        return jsonify(
            {"status": "success", "data": [r.label for r in df.collect()]}
        )

    @app.get("/api/v1/label/<name>/values")
    def label_values_route(name):
        from sensapp_spark.operators.catalog import label_values

        try:
            limit = _label_limit()
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        df = label_values(lake.sensors(), name).orderBy("value")
        if limit:
            df = df.limit(limit)
        return jsonify(
            {"status": "success", "data": [r.value for r in df.collect()]}
        )

    return app
