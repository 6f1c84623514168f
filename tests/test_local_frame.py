"""local_frame: the package's one way to build a driver-side DataFrame.

Parity with ``spark.createDataFrame(<list>, schema)`` (rows and schema)
for every type the package passes, the plan shape (a ``LocalRelation``
that runs no Spark job), and a scan that keeps every other construction
path out of the package."""

from __future__ import annotations

import ast
import pathlib
from datetime import datetime, timedelta, timezone

import pytest

from adsb_clickhouse_spark.config import GLOBAL_OPENSKY, LOCAL
from adsb_clickhouse_spark.schemas import raw_schema
from adsb_clickhouse_spark.session import local_frame
from adsb_clickhouse_spark.sources.fixtures import raw_rows

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "adsb_clickhouse_spark"

T0 = datetime(2026, 3, 29, 0, 30, 0, 123456)  # a DST switch day in Europe

CASES = {
    "scalars": (
        "a long, b int, c double, d boolean, e string",
        [
            (1, 2, 1.5, True, "x"),
            (-(2**62), -(2**31), -0.25, False, ""),
            (None, None, None, None, None),
        ],
    ),
    "array_double": (
        "id long, v array<double>",
        [(1, [1.0, -2.5, 3e300]), (2, []), (3, None), (4, [None, 0.5])],
    ),
    "timestamps": (
        "t timestamp, s string",
        [
            (T0, "naive"),
            (T0 + timedelta(hours=3), "naive, after the switch"),
            (datetime(2026, 1, 15, 12, 0, tzinfo=timezone.utc), "aware"),
            (None, "null"),
        ],
    ),
    "empty": ("a long, v array<double>, t timestamp", []),
}


def _assert_same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("case", sorted(CASES))
def test_rows_and_schema_match_create_data_frame(spark, non_utc_tz, case):
    schema, rows = CASES[case]
    _assert_same(spark, rows, schema)


@pytest.mark.parametrize("cfg", [LOCAL, GLOBAL_OPENSKY], ids=lambda c: c.name)
def test_raw_batch_matches_create_data_frame(spark, non_utc_tz, cfg):
    _assert_same(spark, raw_rows(cfg, n_aircraft=5, n_scrapes=2), raw_schema(cfg))


def test_verification_still_raises(spark):
    schema = raw_schema(LOCAL)
    row = raw_rows(LOCAL, n_aircraft=1, n_scrapes=1, with_edges=False)[0]
    row[schema.fieldNames().index("scrape_time")] = None
    with pytest.raises(ValueError):
        local_frame(spark, [row], schema)
    with pytest.raises(TypeError):
        local_frame(spark, [("not a long",)], "a long")


def test_local_relation_runs_no_job(spark, spark_jobs):
    schema, rows = CASES["scalars"]
    df = local_frame(spark, rows, schema)
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    assert spark_jobs("local_frame_collect", df.collect) == 0
    # the probe sees jobs: the list path runs one for the same collect
    listed = spark.createDataFrame(rows, schema)
    assert spark_jobs("create_data_frame_collect", listed.collect) >= 1


def _constructions_outside_local_frame(path: pathlib.Path) -> list[str]:
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("createDataFrame", "parallelize")
            and not (path == PACKAGE / "session.py" and func == "local_frame")
        ):
            found.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {node.func.attr}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return found


def test_package_builds_local_frames_one_way():
    found = [hit for p in sorted(PACKAGE.rglob("*.py")) for hit in _constructions_outside_local_frame(p)]
    assert found == [], "build driver-side frames with session.local_frame: " + ", ".join(found)
