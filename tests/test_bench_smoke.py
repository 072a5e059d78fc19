"""Bench smoke: a bench list that names a missing query, or a bench
query that cannot execute, must fail the default test tier (a bench
query that threw on regenerated fixtures once killed a whole bench run).

``tests/test_oracle_parity.py`` executes every registered query, but the
slowest parity checks (``SLOW_ORACLE``) run only in the ``heavy`` tier.
The bench queries among them get a ``.count()`` here, so the default
tier executes every bench query.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from solarflare_etl_pipeline_spark.registry import load_all
from tests.test_oracle_parity import SLOW_ORACLE


SPECS = load_all()


@pytest.mark.parametrize("name", bench.BENCH_QUERIES)
def test_bench_query_registered(name):
    """Every bench name must resolve to a registered spec."""
    assert name in SPECS, f"bench.py names unregistered query {name!r}"


@pytest.mark.parametrize("name", sorted(set(bench.BENCH_QUERIES) & SLOW_ORACLE))
def test_heavy_parity_bench_query_executes(spark, sf_dir, name):
    """A bench query whose parity test is heavy-tier still runs here."""
    assert SPECS[name].spark(spark, sf_dir).count() > 0


def test_bench_canary_subset():
    """The drift canary must stay a subset of the bench list (a canary
    entry missing from BENCH_QUERIES would silently shrink the
    cross-round normalizer)."""
    missing = [q for q in bench.CANARY_QUERIES if q not in bench.BENCH_QUERIES]
    assert not missing, f"canary queries not in bench list: {missing}"
