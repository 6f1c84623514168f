"""Property-based check: latest_per_key equals a
straightforward python argmax reference on arbitrary inputs."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from adsb_clickhouse_spark.operators.latest import latest_per_key

BASE = datetime(2026, 1, 15, 12, 0, 0)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),        # key
        st.integers(min_value=0, max_value=50),       # version offset (s)
        st.integers(min_value=0, max_value=50),       # tiebreak offset (s)
        st.integers(min_value=0, max_value=1000),     # payload
    ),
    min_size=1,
    max_size=30,
)


def _reference(rows):
    best = {}
    for k, v, t, p in rows:
        cur = best.get(k)
        if cur is None or (v, t) > (cur[0], cur[1]):
            best[k] = (v, t, p)
    # ambiguity: equal (version, tiebreak) with different payloads — the
    # operator may keep either; the property only asserts on unambiguous keys
    ambiguous = set()
    for k, v, t, p in rows:
        b = best[k]
        if (v, t) == (b[0], b[1]) and p != b[2]:
            ambiguous.add(k)
    return best, ambiguous


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_latest_per_key_matches_reference(spark_global, rows):
    spark = spark_global
    df = spark.createDataFrame(
        [
            (f"k{k}", BASE + timedelta(seconds=v), BASE + timedelta(seconds=t), p)
            for k, v, t, p in rows
        ],
        "icao24 string, scrape_time timestamp, ingestion_time timestamp, v int",
    )
    best, ambiguous = _reference(rows)
    out = {r["icao24"]: r for r in latest_per_key(df).collect()}
    assert set(out) == {f"k{k}" for k in best}
    for k, (v, t, p) in best.items():
        got = out[f"k{k}"]
        assert got["scrape_time"] == BASE + timedelta(seconds=v)
        if k not in ambiguous:
            assert got["v"] == p


# session fixture alias usable inside @given (function-scoped fixtures are
# incompatible with hypothesis)
import pytest


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark
