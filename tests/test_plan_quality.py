"""Physical-plan regression tests: the scale-critical plan properties
(broadcast joins, pushdown, partial top-K, no Python in the hot path)
asserted explicitly so a refactor can't silently regress them."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType
from sensapp_spark.ingest.csv_importer import IngestBatch
from sensapp_spark.operators import LabelMatcher, MatcherType, query_samples
from sensapp_spark.storage.lake import SensorLake


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("plans_lake")))
    sensors = spark.createDataFrame(
        [(f"u{i}", "metric", "Float", None, None, {"host": f"h{i}"})
         for i in range(4)],
        SENSOR_SCHEMA,
    )
    rows = [
        (f"u{i}", dt.datetime(2024, m, 1), float(i * m))
        for i in range(4) for m in (1, 2, 3)
    ]
    values = spark.createDataFrame(
        rows, "sensor_id string, time timestamp, value double")
    lake.publish(IngestBatch(sensors=sensors, values={SensorType.FLOAT: values}))
    return lake


def _query(lake, **kw):
    return query_samples(
        lake.sensors(), lake.values(SensorType.FLOAT, kw.get("start"), kw.get("end")),
        [LabelMatcher("__name__", "metric", MatcherType.EQUAL)], **kw)


def test_selection_uses_broadcast_semi_join(lake):
    plan = plan_of(_query(lake))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # The fact scan must not be shuffled for the join: no
    # ShuffledHashJoin/SortMergeJoin anywhere in the selection pipeline.
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_no_python_in_query_hot_path(lake):
    plan = plan_of(_query(lake, limit=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


def test_limit_uses_window_group_limit(lake):
    plan = plan_of(_query(lake, limit=5))
    assert "WindowGroupLimit" in plan


def test_time_range_prunes_month_partitions(lake):
    df = _query(lake, start=dt.datetime(2024, 3, 1))
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    assert "month" in plan
    # And the time predicate reaches the parquet reader.
    assert "PushedFilters" in plan and "time" in plan


def test_full_scan_reads_value_columns_only(lake):
    # Column pruning: a projection of (sensor_id, value) must not read
    # the time column from parquet.
    df = lake.values(SensorType.FLOAT).select("sensor_id", "value")
    plan = plan_of(df)
    scan_line = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "value" in scan_line and "time" not in scan_line.split("ReadSchema")[1]


def test_whole_stage_codegen_covers_selection(lake):
    df = _query(lake)
    df.collect()  # AQE shows codegen spans only in the final plan
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # Whole-stage-codegen stages print as "*(n)" markers; the filter,
    # window, and both joins must all sit inside codegen'd stages.
    assert "*(" in plan
    for op in ("Project", "Filter", "BroadcastHashJoin"):
        assert any(
            "*(" in line and op in line for line in plan.splitlines()
        ), f"{op} not inside a codegen stage"


def test_catalog_aggregate_has_partial_agg(lake):
    from sensapp_spark.operators.catalog import metrics_summary

    plan = plan_of(metrics_summary(lake.sensors()))
    # Partial aggregation before the exchange (map-side combine).
    assert plan.count("HashAggregate") >= 2


def test_exact_dedup_shuffles_hashes_not_text(spark):
    from sensapp_spark.pipeline.dedup import dedup_exact

    docs = spark.createDataFrame(
        [(1, "some long document text " * 50, "en", "s", 100)],
        "doc_id long, text string, lang string, source string, n_chars long")
    plan = plan_of(dedup_exact(docs))
    # Map-side combine: a partial HashAggregate below the exchange whose
    # output carries only (fp, partial min/count) — the text column never
    # crosses the wire.
    partial = next(line for line in plan.splitlines()
                   if "HashAggregate" in line and "partial_" in line)
    assert plan.index(partial) > plan.index("Exchange")  # below the shuffle
    out_cols = partial.split("output=[")[1]
    assert "text" not in out_cols and "fp" in out_cols


def test_asof_join_is_single_shuffle_no_join_node(spark):
    from sensapp_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1))], "k string, time timestamp")
    right = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1.0)],
        "k string, time timestamp, value double")
    plan = plan_of(asof_join(left, right, on=["k"]))
    # The union+window formulation must not plan a join at all — and the
    # whole alignment must cost exactly one hash exchange on the key.
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sessionize_is_single_shuffle(spark):
    from sensapp_spark.operators.timeseries import sessionize

    events = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1))], "k string, time timestamp")
    plan = plan_of(sessionize(events, on=["k"]))
    # lag + running sum share one (key, time) sort: one exchange, one Sort.
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") <= 1 or plan.count("[Sort") <= 1


def test_promql_ext_agg_two_shuffles_no_big_join(spark):
    from sensapp_spark.query.promql_ext import (
        evaluate_extended,
        parse_extended,
    )

    sensors = spark.createDataFrame(
        [("s1", "m", "Float", None, None, {"region": "r1"})],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )
    values = spark.createDataFrame(
        [("s1", dt.datetime(2024, 1, 1), 1.0)],
        "sensor_id string, time timestamp, value double")
    eq = parse_extended("sum by (region) (rate(m[1h]))",
                        dt.datetime(2024, 2, 1))
    plan = plan_of(evaluate_extended(sensors, values, eq))
    # Sample-sized data crosses exactly one exchange (per-series rate);
    # the second exchange groups the series-sized instant vector. All
    # joins against the dimension must be broadcast.
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_range_query_single_sample_shuffle(spark):
    from sensapp_spark.query.promql_ext import (
        evaluate_range,
        parse_extended,
    )

    sensors = spark.createDataFrame(
        [("s1", "m", "Float", None, None, {"region": "r1"})],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )
    values = spark.createDataFrame(
        [("s1", dt.datetime(2024, 1, 10), 1.0)],
        "sensor_id string, time timestamp, value double")
    eq = parse_extended("rate(m[1h])", dt.datetime(2024, 2, 1))
    df = evaluate_range(
        sensors, values, eq,
        start=dt.datetime(2024, 1, 1),
        end=dt.datetime(2024, 1, 31),
        step_seconds=3600,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Sample-sized data (post-explode) crosses exactly ONE exchange —
    # the (sensor, step) reduction; metadata joins stay broadcast.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    from sensapp_spark.pipeline.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>")
    plan = plan_of(ivf_assign(emb, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]))
    # Nearest-centroid assignment must be a pure projection: no exchange,
    # no join, no Python.
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Round-4 scale regressions: no planner-chosen broadcast of
# explode-derived frames, and bucket-clique guards stay bounded.
# ---------------------------------------------------------------------------

def _broadcast_over_explode(plan: str) -> int:
    """Count BroadcastExchange nodes whose build subtree contains a
    Generate (explode): the static size estimate below an explode is
    unreliable, so such a broadcast is an OOM cliff at corpus scale
    (observed live on the 10× dry run before the round-4 fixes)."""
    lines = plan.splitlines()
    bad = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" :+-"))
        sub = []
        for nxt in lines[i + 1:]:
            nind = len(nxt) - len(nxt.lstrip(" :+-"))
            if nind <= indent:
                break
            sub.append(nxt)
        if "Generate" in "\n".join(sub):
            bad += 1
    return bad


@pytest.fixture(scope="module")
def docs_small(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).cache()


def test_no_broadcast_of_explode_derived_frames(spark, docs_small):
    from sensapp_spark.pipeline.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
    )
    from sensapp_spark.pipeline.text import tfidf_top_term

    for df in (
        jaccard_pairs(docs_small),
        minhash_lsh_candidates(docs_small),
        tfidf_top_term(docs_small),
    ):
        assert _broadcast_over_explode(plan_of(df)) == 0


def test_lsh_bucket_guard_emits_star_edges(spark):
    """A mass-duplicated cluster larger than max_bucket must produce
    O(cluster) candidate pairs (star edges), not O(cluster²) cliques,
    while keeping the cluster connected for components."""
    from sensapp_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        neardup_components,
    )

    n = 60
    docs = spark.createDataFrame(
        [(i, f"the same near identical boilerplate text copy {i % 2}", "en",
          "s", 40) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = minhash_lsh_candidates(docs, max_bucket=10)
    rows = pairs.count()
    # Clique would be ~n²/2 = 1770; star edges are ≤ n per band.
    assert rows < 4 * n, f"bucket guard failed: {rows} pairs"
    comp = neardup_components(pairs.select("doc_a", "doc_b"))
    # All 60 docs still collapse into the duplicate clusters.
    assert comp.count() == n
    assert comp.select("component").distinct().count() <= 2


def test_embedding_bucket_guard_bounds_pairs(spark):
    from sensapp_spark.pipeline.similarity import embedding_neardup_pairs

    n = 50
    vec = [1.0] + [0.0] * 63
    emb = spark.createDataFrame(
        [(i, [v + i * 1e-6 for v in vec], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    guarded = embedding_neardup_pairs(emb, threshold=0.5, max_bucket=10)
    exact = embedding_neardup_pairs(emb, threshold=0.5, max_bucket=None)
    g, e = guarded.count(), exact.count()
    assert e == n * (n - 1) // 2  # clique
    assert g == n - 1, f"star guard failed: {g}"  # hub→member
    # Star pairs carry the real pairwise cosine (unfiltered
    # connectivity edges — here the vectors are near-identical, so the
    # cosines are ~1 regardless).
    assert guarded.filter(F.col("cosine") > 0.99).count() == n - 1


def test_registry_wide_join_shapes(spark):
    """Every registry entry's executed plan must stay free of cartesian
    products, and SortMergeJoin / nested-loop joins may only appear on
    the known-sound allowlist (SMJ on high-cardinality keys;
    text_terms' intentional broadcast 1-row scalar cross join). This
    pins the whole registry against the class of regression where a
    planner choice serializes a quadratic expansion onto one reducer
    (caught live on the embedding clique join at 10x)."""
    import __spark_entry__ as mod

    # promql_ext_range_query (round 11): the `binary` arm's one-to-one
    # per-step join keys on the high-cardinality (labels, t) composite
    # over two ALREADY-REDUCED series×steps frames — the same
    # SMJ-on-reduced-frames class as virtual_sensor_join; AQE converts
    # it to a broadcast join when a side is dashboard-small.
    allowed_smj = {"virtual_sensor_join", "gapfill_1h",
                   "promql_ext_range_query"}
    # text_terms/sample_split carry lm_perplexity's broadcast one-row
    # vocabulary scalar (1 each); promql_ext_instant carries the two
    # absent() arms' 1-row × LIMIT-1 anti joins (both sides bounded to
    # one row by construction — a nested loop over them is one
    # comparison). The allowance is a COUNT per entry, not a blanket
    # waiver, so an accidental nested-loop join sneaking into any other
    # arm of these families still fails the gate (advisor finding,
    # round 6).
    # promql_ext_binary_ratio's 3: the scalar_div arm's broadcast
    # one-row scalar(sum(...)) reduction, plus the round-11
    # global_ratio arm's TWO empty-key joins (sum(b)+sum(c) nested,
    # then sum(a)/…) — every side is a one-row global aggregate by
    # construction, so each nested loop is one comparison.
    allowed_bnlj = {"text_terms": 2, "sample_split": 1,
                    "promql_ext_instant": 2,
                    "promql_ext_binary_ratio": 3}
    sf = "/root/testdata/sf0.001"
    offences = []
    for name, fn in mod.queries().items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offences.append(f"{name}: CartesianProduct")
        if "SortMergeJoin" in plan and name not in allowed_smj:
            offences.append(f"{name}: SortMergeJoin")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        if bnlj > allowed_bnlj.get(name, 0):
            offences.append(
                f"{name}: {bnlj} BroadcastNestedLoopJoin(s), "
                f"allowed {allowed_bnlj.get(name, 0)}"
            )
    assert not offences, offences


def test_binary_ratio_shares_operands(spark):
    """promql_ext_binary_ratio's seven cases repeat their operands
    (rate(click[31d]) in all of them); the entry's operand memo builds
    each once and checkpoints it, so the union reads parquet only inside
    the checkpointed operands and no branch re-scans the samples. Counted
    on the formatted plan, without executing it. Without sharing the
    same plan holds 65 parquet scans and 159 exchanges at sf0.001."""
    import contextlib
    import io

    import __spark_entry__ as mod
    from tests.conftest import SF_SMOKE

    df = mod.queries()["promql_ext_binary_ratio"](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Scan parquet") == 0
    assert plan.count("Exchange") == 30
