"""Registry helpers shared by many entries: the per-session input memo
(plans/testdata.py) and the all-futures wait of the concurrent
maintenance entries (plans/queries.py)."""

from __future__ import annotations

import concurrent.futures as cf

import pytest

from sensapp_spark.plans.pipeline_queries import _docs
from sensapp_spark.plans.queries import _await_all
from tests.conftest import SF_SMOKE

TZ = "spark.sql.session.timeZone"


def test_memo_hit_restores_session_confs(spark):
    """A memo HIT must still re-apply the registry's session confs: a
    caller that switched the session time zone after the first load
    would otherwise bucket the next entry's timestamps in local time."""
    _docs(spark, SF_SMOKE)
    try:
        spark.conf.set(TZ, "America/New_York")
        _docs(spark, SF_SMOKE)
        assert spark.conf.get(TZ) == "UTC"
    finally:
        spark.conf.set(TZ, "UTC")


def test_memo_is_per_session(spark):
    """Frames are memoized per session: a second session never receives
    a frame bound to the first (whose ``id`` it could reuse)."""
    other = spark.newSession()
    assert _docs(spark, SF_SMOKE) is _docs(spark, SF_SMOKE)
    theirs = _docs(other, SF_SMOKE)
    assert theirs is not _docs(spark, SF_SMOKE)
    assert theirs.sparkSession is other
    assert _docs(other, SF_SMOKE) is theirs


def test_await_all_primary_error_follows_futures_order():
    """Every future fails: the raised error is ``futures[0]``'s, and the
    others ride it as notes, in list order."""
    futures = []
    for i in range(20):
        f = cf.Future()
        f.set_exception(ValueError(f"job {i}"))
        futures.append(f)
    with pytest.raises(ValueError) as info:
        _await_all(futures)
    assert info.value is futures[0].exception()
    notes = info.value.__notes__
    assert len(notes) == 19
    for i, note in enumerate(notes, start=1):
        assert repr(futures[i].exception()) in note
