"""Plan-quality regression tests: the physical plans we shipped are the
plans we keep — filter pushdown, column pruning, broadcast joins, no
Python eval on hot paths, partition pruning on history scans."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from adsb_clickhouse_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    Q.load_all()
    return Q.REGISTRY[name].spark(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_and_columns_pruned(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # only the 7 needed columns are read, not all 11
    read = plan.split("ReadSchema: struct<")[1].split(">")[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q05_joins_are_broadcast(spark):
    plan = _plan(spark, "q05_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_no_python_eval_on_relational_paths(spark):
    for name in ["q01_pricing_summary", "q03_order_revenue", "adsb_latest_per_key",
                 "dedup_simhash", "text_quality", "sim_knn_bruteforce",
                 "text_token_stats", "text_langid", "text_winnow_fingerprint"]:
        plan = _plan(spark, name)
        assert "EvalPython" not in plan, name


def test_substring_dedup_coverage_is_window_free(spark):
    """The duplicated-substring coverage pass must stay the array-side
    merged-interval projection (zip_with over the sorted start array —
    the OR-chain shape is the documented rejected prior): no Window
    operator (a window buys the same answer for an extra doc_id sort)
    and no Python."""
    from adsb_clickhouse_spark.operators.dedup import duplicated_substring_stats

    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h x y")],
        "doc_id long, text string",
    )
    plan = (
        duplicated_substring_stats(d, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "EvalPython" not in plan


def test_stride_sample_has_no_single_partition_window(spark, monkeypatch):
    """The exact-stride global numbering must not funnel the table
    through one task (r1's scale-killer). The two-pass implementation
    has NO window operator at all — ordering flows through a parallel
    range-partitioned exchange, in the plan of the numbered layout that
    is checkpointed. At sf0.001 the table would take the driver path,
    so the threshold is pinned to 0."""
    from adsb_clickhouse_spark.operators import latest

    monkeypatch.setattr(latest, "STRIDE_DRIVER_MAX_ROWS", 0)
    events = Q.load_table(spark, SF, "events")
    numbered = []
    checkpoint = type(events).localCheckpoint

    def capture(self, *args, **kwargs):
        numbered.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(events), "localCheckpoint", capture)
    out = latest.stride_sample(events, 4, "event_id")
    (layout,) = numbered
    n_parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert "rangepartitioning(event_id#" in layout and f"ASC NULLS FIRST, {n_parts})" in layout
    assert "Window" not in layout
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()


def test_latest_per_key_uses_partial_aggregation(spark):
    plan = _plan(spark, "adsb_latest_per_key")
    # max_by strategy → two-phase hash aggregate (partial + final), so the
    # shuffle carries one row per key per map task, not the raw stream
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_history_scan_prunes_partitions(spark, tmp_base):
    from adsb_clickhouse_spark.plans import tables

    now = datetime(2026, 1, 15, 12, 0, 0)
    rows = [("a", now - timedelta(days=d), d) for d in range(5)]
    df = spark.createDataFrame(rows, "icao24 string, scrape_time timestamp, v int")
    tables.append_history(df, tmp_base + "/hist")
    scan = tables.read_history(spark, tmp_base + "/hist").filter(
        F.col("scrape_date") == "2026-01-15"
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(scrape_date" in plan
    # pruned scan reads exactly one of the five day-partitions
    assert scan.count() == 1

def test_dsir_clf_branch_plan_codegen_no_python(spark):
    """The classifier scoring branch of text_dsir_select: gram hashing,
    the weight join, and the sigmoid all stay JVM-side — no EvalPython —
    and the node-sized weight table joins as a broadcast."""
    plan = _plan(spark, "text_dsir_select")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_curation_host_rank_join_is_broadcast(spark):
    """The funnel's domain-reputation stage joins the node-sized rank
    table as a BROADCAST onto the corpus — the corpus must not shuffle
    for the dimension lookup."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.curation import curate_documents

    docs = spark.createDataFrame(
        [(i, f"document number {i} with plenty of words to pass gates",
          f"h{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    ranks = spark.createDataFrame(
        [(f"h{i}", 100 + i, 10 + i) for i in range(3)],
        "host string, host_pagerank_fp long, host_trustrank_fp long",
    )
    res = curate_documents(
        docs, lang_col=None, host_col="source", host_ranks=ranks,
        dedup_threshold=0.9,
    )
    plan = res.scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan
