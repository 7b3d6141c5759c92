"""Run every registered query against the DuckDB oracle at sf0.001 —
a local, stricter replica of the driver's t2 correctness gate. Each
face's plan first passes the plan lint (tools/plan_lint.py)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tests.oracle_util import assert_matches_oracle
from tools.plan_lint import verdicts

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


def test_every_query_has_an_oracle():
    assert set(_QUERIES) == set(_ORACLES)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, name):
    df = _QUERIES[name](spark, SF_SMALL)
    flagged = [pat for pat, why in verdicts(name, df) if why is None]
    assert not flagged, f"{name}: plan-lint findings not in ALLOWLIST: {flagged}"
    assert_matches_oracle(df, _ORACLES[name], SF_SMALL, name=name)


def test_building_a_face_releases_the_previous_faces_cache(spark):
    """A face's persisted intermediates stay cached until the next
    registered face is built, which clears the session cache first."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    _QUERIES["x122_kmv_distinct"](spark, SF_SMALL).collect()
    assert not cache.isEmpty()
    _QUERIES["q01_avg_fare_by_airline"](spark, SF_SMALL)
    assert cache.isEmpty()
