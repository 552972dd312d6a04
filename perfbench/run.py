"""Gateway benchmark: per-route latency of ``create_app`` on a built lake.

    python3 perfbench/run.py --workload dashboard|fleet --seed N \\
        --seconds S --trace 0|1

Builds a lake through ``SensorLake.publish``, runs a maintenance tick and
warms the lake up with one request per route class; ``setup_s`` is the
time all of that takes in the freshly started JVM. It then drives
``create_app(spark, lake)`` in-process with the Flask test client in a
closed loop with one client. Spark runs on ``local[<cores>]``. Each run
issues a fixed number of requests (``rate * seconds`` in whole blocks of
the mix), so two commits compare the same n and the same tail
percentile. Every response is checked against DuckDB after the timed
window (``oracle.py``). The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. In a traced run every other request is traced, and the
traced/untraced latency ratio is reported as the tracing overhead.

All scratch state (lakes, Spark and Python temp files) lives under
``.perfbench/`` in the repository root and is removed at exit; the
traced run leaves its spans in ``.perfbench/spans-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(OUT_DIR, "work")

SCALE = 0.1
LAYOUT = {"dashboard": "dense", "fleet": "sparse"}
# Requests per second of --seconds, rounded to whole blocks of the mix.
# Sized so that one run measures about --seconds on a 4-core machine at
# the commit that added the benchmark; fixed, so every commit issues the
# same requests.
RATE = {"dashboard": 1.0, "fleet": 0.8}
# The maintenance tick the setup runs: the dashboard keeps the hourly
# rollup; the fleet lake keeps none (its queries bypass it) and keeps
# its clustered layout, so the tick only refreshes zone maps.
TICK = {"dashboard": "/api/v1/admin/maintain?optimize=0",
        "fleet": "/api/v1/admin/maintain?optimize=0&rollup_grains="}
# The gated metrics. A run holds 13 to 20 reads, and their median moved
# with the host's load more than the closed-loop rate over every request
# did; read_p50_ms is printed with the route lines.
END_TO_END = {
    "setup_s": "s",
    "requests_per_s": "req/s",
}


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SENSAPP_DRIVER_MEMORY", "2g")
    # No JVM may write its perf-data file to /tmp: neither the driver nor
    # the launcher JVM spark-submit starts first. The driver JVM compiles
    # with C1 only: in a fresh JVM the C2 compiler threads kept one to two
    # cores busy through the first minute of requests, so the timed
    # requests shared the machine with the compiler and their latency
    # followed the host's load.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    java_opts += " -XX:TieredStopAtLevel=1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def percentile_tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest nearest-rank percentile with at least 10 samples
    beyond it, as (percentile, value); None when that percentile would
    not exceed the median (fewer than 20 samples)."""
    n = len(xs)
    if n < 20:
        return None
    k = n - 10
    return math.floor(100 * k / n), sorted(xs)[k - 1]


def _log(line: str) -> None:
    print(line, flush=True)


class Bench:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 trace: bool, fx, rollup: bool = True):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rollup = rollup
        self.fx = fx
        self.records: list[dict] = []
        self.acked: list = []  # acknowledged write requests, in order
        self.tracer = None

    # -- streams ----------------------------------------------------------

    def count(self) -> int:
        """Requests in the timed loop: ``rate * seconds``, rounded to
        whole blocks of the workload's request mix."""
        from perfbench import traffic

        block = len(traffic.DASHBOARD_BLOCK if self.workload == "dashboard"
                    else traffic.FLEET_BLOCK)
        return block * max(1, round(RATE[self.workload] * self.seconds / block))

    def stream(self, seed: int, n: int) -> list:
        from perfbench import traffic

        if self.workload == "dashboard":
            return traffic.dashboard(self.fx, seed, n, self.rollup)
        return traffic.fleet(self.fx, seed, n)

    # -- setup --------------------------------------------------------------

    def build(self):
        """Lake build and maintenance tick; returns the lake, a client and
        the seconds taken."""
        from perfbench import fixture
        from sensapp_spark.server.app import create_app

        root = os.path.join(WORK, "lake")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        lake = fixture.build_lake(self.spark, root, self.fx)
        client = create_app(self.spark, lake).test_client()
        resp = client.post(TICK[self.workload])
        if resp.status_code != 200:
            raise RuntimeError(f"maintenance tick failed: {resp.get_data()!r}")
        return lake, client, time.perf_counter() - t0

    def warm_up(self, client) -> float:
        """One request per route class, from a seed no run uses (on fleet
        the write is batch 0 and stays in the lake, acknowledged)."""
        from perfbench import traffic

        pool = self.stream(10_000 + self.seed, 16)
        if self.workload == "fleet":
            pool.insert(0, traffic.WriteStream(self.fx, 10_000 + self.seed).next())
        routes, stream = set(), []
        for req in pool:
            if not isinstance(req, traffic.AfterWrite) and req.route not in routes:
                routes.add(req.route)
                stream.append(req)
        t0 = time.perf_counter()
        records: list[dict] = []
        self._client_loop(client, stream, records)
        took = time.perf_counter() - t0
        for rec in records:
            if rec["status"] >= 300:
                raise RuntimeError(f"warm-up {rec['req'].url} failed: "
                                   f"{rec['body'][:300]!r}")
        return took

    def setup(self):
        """Build the lake, tick, warm up. Returns the build and warm-up
        seconds, the lake and its client."""
        lake, client, build_s = self.build()
        return build_s, self.warm_up(client), lake, client

    # -- timed loop ---------------------------------------------------------

    @staticmethod
    def _send(client, req):
        t0 = time.perf_counter()
        resp = client.open(req.url, method=req.method, data=req.body,
                           headers=req.headers)
        body = resp.get_data()
        took = time.perf_counter() - t0
        return resp.status_code, dict(resp.headers), body, took

    def _client_loop(self, client, stream: list, records: list[dict]) -> None:
        from perfbench import traffic

        sc = self.spark.sparkContext
        for i, item in enumerate(stream):
            if isinstance(item, traffic.AfterWrite):
                item = traffic.resolve_after_write(item, self.acked[-1])
            rid = f"req-{len(records)}"
            traced = self.tracer is not None and i % 2 == 1
            if self.tracer is not None:
                sc.setJobGroup(rid, rid)
            if traced:
                self.tracer.begin_request(rid)
            error = None
            try:
                status, headers, body, took = self._send(client, item)
            except Exception as e:  # noqa: BLE001 — a failed request
                status, headers, body, took = 599, {}, repr(e).encode(), 0.0
                error = f"raised {e!r}"
            if traced:
                self.tracer.end_request(route=item.route)
            rec = {
                "rid": rid, "route": item.route,
                "req": item, "status": status, "headers": headers,
                "body": body, "lat": took, "traced": traced,
                "bytes": len(body), "served": headers.get("X-Served-From"),
                "rows": item.rows if status < 300 else 0, "error": error,
            }
            records.append(rec)
            if item.route == "ingest" and status < 300:
                self.acked.append(item)

    def run(self, client) -> float:
        stream = self.stream(self.seed, self.count())
        t0 = time.perf_counter()
        self._client_loop(client, stream, self.records)
        return time.perf_counter() - t0

    # -- checking -----------------------------------------------------------

    def check(self, lake) -> tuple[list[str], int]:
        """Check every response. Returns one line per failure and the
        number of failures that are not a single response's."""
        from perfbench import oracle
        from perfbench.traffic import WRITE_T0

        orc = oracle.Oracle(self.fx.rows)
        orc.set_written([row for req in self.acked for row in req.written])
        failures = []
        for rec in self.records:
            why = rec["error"] or orc.check(rec["req"], rec["status"],
                                            rec["headers"], rec["body"])
            rec["ok"] = why is None
            if why:
                failures.append(f"{rec['route']} {rec['req'].url[:160]}: {why}")
        if self.workload == "fleet":
            from sensapp_spark.datamodel.types import SensorType

            want = sum(req.rows for req in self.acked)
            got = lake.values(SensorType.FLOAT, start=WRITE_T0).count()
            if got != want:
                failures.append(f"written rows: lake holds {got}, "
                                f"acknowledged {want}")
                return failures, 1
        return failures, 0


def summarize(records: list[dict], wall: float) -> dict:
    """Per-route latency stats and the run-level rates."""
    routes: dict[str, list[dict]] = {}
    for r in records:
        routes.setdefault(r["route"], []).append(r)
    out = {}
    for route, recs in sorted(routes.items()):
        lat = [r["lat"] * 1000 for r in recs if r.get("ok")]
        half = len(recs) // 2
        first = [r["lat"] * 1000 for r in recs[:half] if r.get("ok")]
        second = [r["lat"] * 1000 for r in recs[half:] if r.get("ok")]
        tail = percentile_tail(lat)
        out[route] = {
            "n": len(recs),
            "failures": sum(not r.get("ok") for r in recs),
            "p50_ms": statistics.median(lat) if lat else None,
            "tail_pct": tail[0] if tail else None,
            "tail_ms": tail[1] if tail else None,
            "first_half_p50_ms": statistics.median(first) if first else None,
            "second_half_p50_ms": statistics.median(second) if second else None,
        }
    reads = [r["lat"] * 1000 for r in records
             if r.get("ok") and r["route"] not in ("ingest", "maintain")]
    tail = percentile_tail(reads)
    acked_rows = sum(r["rows"] for r in records if r["route"] == "ingest")
    return {
        "routes": out,
        "read_p50": statistics.median(reads) if reads else None,
        "read_mean": statistics.fmean(reads) if reads else None,
        "read_tail": tail,
        "requests_per_s": sum(r.get("ok", False) for r in records) / wall,
        "ingest_rows_per_s": acked_rows / wall,
        "failed_ratio": (sum(not r.get("ok") for r in records)
                         / max(1, len(records))),
    }


def overhead_pct(records: list[dict]) -> float:
    """Traced vs untraced median latency as one percentage: the geometric
    mean of the per-route ratios, over routes with at least 3 requests
    on each side (every route when none has)."""
    by_route: dict[str, dict[bool, list[float]]] = {}
    for r in records:
        if r.get("ok"):
            by_route.setdefault(r["route"], {True: [], False: []})[
                r["traced"]].append(r["lat"])
    sides = [lat for lat in by_route.values() if lat[True] and lat[False]]
    sides = [lat for lat in sides
             if min(len(lat[True]), len(lat[False])) >= 3] or sides
    if not sides:
        return 0.0
    logs = [math.log(statistics.median(lat[True]) / statistics.median(lat[False]))
            for lat in sides]
    return 100 * (math.exp(sum(logs) / len(logs)) - 1)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


def start_spark():
    from sensapp_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def execute(bench: Bench) -> dict:
    """Setup, timed loop and checks for one run; returns the result."""
    from perfbench import fixture, trace

    build_s, warm_s, lake, client = bench.setup()
    shape = fixture.lake_shape(lake)
    if bench.trace:
        bench.tracer = trace.Tracer()
        trace.install(bench.tracer)
    try:
        wall = bench.run(client)
    finally:
        if bench.tracer is not None:
            bench.tracer.uninstall()
    trace.drain_listener(bench.spark)
    leaked = list(bench.spark.sparkContext.statusTracker().getActiveJobsIds())
    failures, extra = bench.check(lake)
    if leaked:
        failures.append(f"Spark jobs still active after the run: {leaked}")
        extra += len(leaked)
    summary = summarize(bench.records, wall)
    result = {"build_s": build_s, "warm_s": warm_s, "shape": shape,
              "summary": summary, "failures": failures,
              "attempted": len(bench.records),
              "failed": sum(not r["ok"] for r in bench.records) + extra}
    if bench.tracer is not None:
        traced = []
        for r in bench.records:
            if r["traced"]:
                r["spark"] = trace.spark_counts(bench.spark, r["rid"])
                traced.append(r)
        layer = trace.per_layer(bench.tracer, traced)
        layer["trace.overhead_pct"] = overhead_pct(bench.records)
        result["per_layer"] = layer
        os.makedirs(OUT_DIR, exist_ok=True)
        bench.tracer.dump(os.path.join(OUT_DIR, f"spans-{bench.workload}.jsonl"))
    return result


def end_to_end(result: dict) -> dict:
    s = result["summary"]
    return {
        "setup_s": result["build_s"] + result["warm_s"],
        "requests_per_s": s["requests_per_s"],
    }


def report(bench: Bench, result: dict, session_s: float, cores: int) -> dict:
    """Print the human-readable report; return the final JSON object."""
    from perfbench.trace import PER_LAYER_UNITS

    s = result["summary"]
    clients = f"1 client x{bench.count()} requests"
    _log(f"workload {bench.workload} seed {bench.seed} seconds {bench.seconds}"
         f" trace {int(bench.trace)}: closed loop, {clients},"
         f" Spark local[{cores}]")
    _log(f"lake shape: {json.dumps(result['shape'], sort_keys=True)}")
    _log(f"session start {session_s:.2f} s; lake build and tick "
         f"{result['build_s']:.2f} s; warm-up {result['warm_s']:.2f} s")

    def ms(v):
        return "-" if v is None else f"{v:.1f}"

    for route, st in s["routes"].items():
        _log(f"{route}_p50_ms {ms(st['p50_ms'])} ms (n {st['n']}, "
             f"failures {st['failures']})")
        _log(f"{route}_tail_ms {ms(st['tail_ms'])} ms ("
             + (f"p{st['tail_pct']}" if st["tail_ms"] else "needs n >= 20")
             + ")")
        _log(f"{route} drift: first-half p50 {ms(st['first_half_p50_ms'])} ms,"
             f" second-half p50 {ms(st['second_half_p50_ms'])} ms")
    _log(f"read_p50_ms {ms(s['read_p50'])} ms; "
         f"read_mean_ms {ms(s['read_mean'])} ms")
    _log(f"ingest_rows_per_s {s['ingest_rows_per_s']:.1f} rows/s")
    _log(f"failed_ratio {s['failed_ratio']:.4f} ratio "
         f"({result['failed']} of {result['attempted']})")
    if s["read_tail"]:
        _log(f"read tail: p{s['read_tail'][0]} "
             f"{s['read_tail'][1]:.1f} ms over all reads")
    for line in result["failures"][:20]:
        _log(f"FAILED {line}")
    if bench.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in end_to_end(result).items()}
    for k, m in metrics.items():
        _log(f"metric {k} = {m['value']} {m['unit']}")
    missing = [k for k, m in metrics.items() if m["value"] is None]
    return {
        "correct": not result["failures"] and not missing,
        "attempted": result["attempted"],
        "failed": result["failed"] + len(missing),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sensapp_spark")):
        print("perfbench: run from a checkout that holds sensapp_spark/",
              file=sys.stderr)
        return 2
    _prepare_env()
    from perfbench import fixture

    # The fixture (pure Python) is generated while the JVM starts.
    with ThreadPoolExecutor(1) as pool:
        fx = pool.submit(fixture.make_fixture, LAYOUT[args.workload], SCALE)
        t0 = time.perf_counter()
        spark, cores = start_spark()
        session_s = time.perf_counter() - t0
        fx = fx.result()
    try:
        bench = Bench(spark, args.workload, args.seed, args.seconds,
                      bool(args.trace), fx)
        result = execute(bench)
        final = report(bench, result, session_s, cores)
    finally:
        _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
