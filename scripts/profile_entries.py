"""Per-entry profiler for the query registry.

For each registry entry (filtered by substring args) it times DataFrame
CONSTRUCTION (driver-side eager work: temp-lake builds, refresh ticks,
training collects) separately from the noop-sink EXECUTION,
and counts the Spark jobs, stages and tasks each phase ran, from the
status tracker. The counts repeat exactly from run to run, so
structural claims (fewer redundant executions) hold even when walls
wobble.

  python scripts/profile_entries.py [--sf DIR] [--repeats 2] [name ...]
      one JSON line per entry and repeat, then a summary line (median
      repeat per entry, slowest first).
  --plans DIR
      also write ``DIR/<name>.txt`` with ``explain('formatted')`` so
      plan-shape claims (Exchange count, join strategy, PushedFilters)
      are pinned to files.
  --conf KEY --a A --b B
      same-session interleaved A/B of a runtime SQL conf: every repeat
      runs each entry with KEY=A, then KEY=B, and the summary is per
      value (plan files get a ``_KEY=value`` suffix).

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR`` and the session runs on
``local[$SPARK_GRAFT_CPUS]`` (default 32), as in ``bench.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sensapp_spark.plans.queries import QUERIES  # noqa: E402
from sensapp_spark.session import get_spark  # noqa: E402


def _new_jobs(spark, after: int) -> list[int]:
    """Ids of the jobs started after job ``after``. The listener bus is
    drained first: the status tracker is fed asynchronously and would
    otherwise miss the last job's events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    return [j for j in tracker.getJobIdsForGroup(None) if j > after]


def _stages_tasks(spark, jids: list[int]) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in jids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        stages += len(info.stageIds)
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return stages, tasks


def profile_entry(spark, fn, sf_dir: str) -> dict:
    """Build ``fn(spark, sf_dir)``, then run it into the noop sink; wall
    seconds and job/stage/task counts for each phase."""
    before = max(_new_jobs(spark, -1), default=-1)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    built = _new_jobs(spark, before)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    ran = _new_jobs(spark, max(built, default=before))
    b_stages, b_tasks = _stages_tasks(spark, built)
    e_stages, e_tasks = _stages_tasks(spark, ran)
    return {
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "total_s": round(t2 - t0, 3),
        "build_jobs": len(built),
        "build_stages": b_stages,
        "build_tasks": b_tasks,
        "exec_jobs": len(ran),
        "exec_stages": e_stages,
        "exec_tasks": e_tasks,
    }


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=sf_env, required=sf_env is None)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--conf", metavar="KEY")
    ap.add_argument("--a")
    ap.add_argument("--b")
    ap.add_argument("only", nargs="*")
    args = ap.parse_args()
    if args.conf and (args.a is None or args.b is None):
        ap.error("--conf needs --a and --b")
    arms = (args.a, args.b) if args.conf else (None,)
    names = [
        n for n in QUERIES
        if not args.only or any(s in n for s in args.only)
    ]

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="sensapp-profile-entries",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warm JVM + footers (same as bench.py).
    next(iter(QUERIES.values()))(spark, args.sf).count()

    def use(arm) -> dict:
        if arm is None:
            return {}
        spark.conf.set(args.conf, arm)
        return {args.conf: arm}

    runs: dict[tuple, list[dict]] = {}
    for rnd in range(args.repeats):
        for name in names:
            for arm in arms:
                tag = use(arm)
                rec = {"name": name, **tag, "round": rnd,
                       **profile_entry(spark, QUERIES[name], args.sf)}
                runs.setdefault((arm, name), []).append(rec)
                print(json.dumps(rec))
                sys.stdout.flush()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            for arm in arms:
                suffix = "".join(f"_{k}={v}" for k, v in use(arm).items())
                path = os.path.join(args.plans, f"{name}{suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(formatted_plan(QUERIES[name](spark, args.sf)))

    for arm in arms:
        rows = []
        for name in names:
            recs = sorted(runs[(arm, name)], key=lambda r: r["total_s"])
            rows.append(recs[(len(recs) - 1) // 2])
        rows.sort(key=lambda r: -r["total_s"])
        print(json.dumps({
            "metric": "profile_entries",
            **({"conf": args.conf, "value": arm} if args.conf else {}),
            "total": round(sum(r["total_s"] for r in rows), 2),
            "build_total": round(sum(r["build_s"] for r in rows), 2),
            "exec_total": round(sum(r["exec_s"] for r in rows), 2),
            "top": rows[:15],
        }))
    spark.stop()


if __name__ == "__main__":
    main()
