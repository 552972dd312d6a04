"""Product-quantization ANN (pipeline/pq.py): deterministic sub-codebook
fit, ADC scoring from codes alone, two-stage exact re-rank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sensapp_spark.pipeline.pq import (
    PQ_KSUB,
    PQ_M,
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from sensapp_spark.pipeline.similarity import cosine_topk, hyperplanes

EMB = "/root/testdata/sf0.001/embeddings.parquet"
Q = hyperplanes(1, 64)[0]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


def test_codebooks_shape_and_determinism(emb):
    b1 = pq_codebooks(emb)
    b2 = pq_codebooks(emb)
    assert b1 == b2
    assert len(b1) == PQ_M
    for book in b1:
        assert 1 <= len(book) <= PQ_KSUB
        assert [c for c, _ in book] == sorted(c for c, _ in book)
        assert all(len(v) == 64 // PQ_M for _, v in book)


def test_encode_codes_in_range(emb):
    books = pq_codebooks(emb)
    valid = [set(c for c, _ in b) for b in books]
    rows = pq_encode(emb, books).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == PQ_M
        for mi, c in enumerate(r.codes):
            assert c in valid[mi]


def test_adc_approximates_and_rerank_recovers(emb):
    exact = {r.vec_id for r in cosine_topk(emb, Q, 20).collect()}
    adc = {r.vec_id for r in pq_topk(emb, Q, k=20).collect()}
    rr_rows = pq_topk(emb, Q, k=20, rerank=100).collect()
    rr = {r.vec_id for r in rr_rows}
    # ADC alone is a coarse 64x-compressed signal; the two-stage search
    # must recover most of the exact set (floor measured with margin).
    assert len(adc & exact) / 20 >= 0.1
    assert len(rr & exact) / 20 >= 0.5
    assert len(rr & exact) > len(adc & exact)
    # Re-ranked scores ARE exact cosines: spot-check the top row.
    top = rr_rows[0]
    want = {
        r.vec_id: r.cosine for r in cosine_topk(emb, Q, 500).collect()
    }
    assert top.score == pytest.approx(want[top.vec_id], abs=1e-6)


def test_rerank_candidates_come_from_adc(emb):
    cand = {r.vec_id for r in pq_topk(emb, Q, k=100).collect()}
    rr = {r.vec_id for r in pq_topk(emb, Q, k=20, rerank=100).collect()}
    assert rr <= cand


def test_dim_validation(emb):
    with pytest.raises(ValueError, match="dimensions"):
        pq_topk(emb, [0.1, 0.2], k=5)
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, m=7)


def test_pq_plan_stays_jvm_side(emb):
    """The ADC projection must stay codegen/JVM: no Python eval, no
    shuffle before the TakeOrdered."""
    plan = pq_topk(emb, Q, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


# -- driver-local training gate (round 14) ------------------------------------

def test_driver_local_training_matches_distributed(emb):
    """collect_train_vectors feeds every training driver-locally below
    the size gate; artifacts must be BIT-IDENTICAL to the distributed
    collects (IVF centroids / SQ stats are exact min-max/first-N; the
    PQ Lloyd mean re-runs the identical fold + HALF_UP round-6)."""
    from sensapp_spark.pipeline.similarity import (
        collect_train_vectors,
        ivf_centroids,
    )
    from sensapp_spark.pipeline.sq import sq_stats

    train = collect_train_vectors(emb)
    assert train is not None and train == sorted(train)
    assert ivf_centroids(emb, train=train) == ivf_centroids(emb)
    assert pq_codebooks(emb, train=train) == pq_codebooks(emb)
    assert sq_stats(emb, train=train) == sq_stats(emb)


def test_collect_train_vectors_gate(emb):
    """Above the threshold the collect returns None — callers keep the
    distributed training path (corpus never lands on the driver)."""
    from sensapp_spark.pipeline.similarity import collect_train_vectors

    assert collect_train_vectors(emb, threshold=3) is None


def test_round6_py_matches_spark(spark):
    """The Python round twin must agree with the engine's round(x, 6)
    on representative values including HALF_UP ties and negatives."""
    from sensapp_spark.pipeline.pq import _round6_py

    vals = [
        0.0000005, -0.0000005, 1.2345675, -1.2345675, 0.1 + 0.2,
        123.45678949999, -0.061, 1e-7, 2.5e-6, 0.9999995,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r.r for r in df.select(F.round("x", 6).alias("r")).collect()
    ]
    assert got == [_round6_py(v) for v in vals]


def test_sql_array_lit_renders_non_finite_doubles(spark):
    """NaN and ±inf have no numeric SQL literal; ``sql_array_lit`` must
    render them as string casts, or ``F.expr`` fails to parse the array
    (a NaN centroid coordinate or SQ scale would break the plan)."""
    import math

    from sensapp_spark.pipeline.similarity import sql_array_lit

    vals = [math.nan, math.inf, -math.inf, 1.5]
    col = sql_array_lit(vals).alias("a")
    df = spark.range(1).select(col)
    assert dict(df.dtypes)["a"] == "array<double>"
    got = df.first().a
    assert math.isnan(got[0]) and got[1:] == vals[1:]
