"""The per-entry profiler (scripts/profile_entries.py) on one registry
entry, so the script cannot silently rot."""

from __future__ import annotations

import importlib.util
import os

from sensapp_spark.plans.queries import QUERIES
from tests.conftest import SF_SMOKE

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "profile_entries.py",
)


def _profiler():
    spec = importlib.util.spec_from_file_location("profile_entries", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_entry_counts_jobs(spark):
    rec = _profiler().profile_entry(
        spark, QUERIES["embedding_kmeans"], SF_SMOKE
    )
    assert rec["exec_jobs"] >= 1
    for phase in ("build", "exec"):
        for unit in ("jobs", "stages", "tasks"):
            assert rec[f"{phase}_{unit}"] >= 0
        assert rec[f"{phase}_s"] >= 0
    assert rec["exec_stages"] >= rec["exec_jobs"]
