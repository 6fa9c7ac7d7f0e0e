"""Shard-range (date) pruning of the stored index.

Reference: RangeStream.java:377-513 — the query's begin/end dates bound
the shards consulted; index rows outside the range are never scanned.
Here the stored index is hive-partitioned by (field, event_date), so the
date bound is literal partition pruning in the parquet scan.
"""

import pytest
from pyspark.sql import functions as F

from datawave_spark.sources.index_frame import build_index, index_query

QUERY = "EVENT_TYPE == 'click' && ((_Bounded_ = true) && " \
        "(VALUE >= 10 && VALUE <= 60))"


@pytest.fixture(scope="module")
def parts(spark, tables, tmp_path_factory):
    ev = tables["events"]
    path = str(tmp_path_factory.mktemp("idx") / "index_part.parquet")
    build_index(ev, ["event_type", "value"], "event_id",
                date_col="ts", field_types={"VALUE": "number"}) \
        .repartition("field", "event_date") \
        .write.partitionBy("field", "event_date") \
        .mode("overwrite").parquet(path)
    return ev, spark.read.parquet(path)


class TestShardRangePruning:
    def test_same_answer_as_full_scan_with_date_filter(self, parts):
        ev, idx = parts
        lo, hi = "2024-01-03", "2024-01-05"
        served = index_query(
            ev, idx, QUERY, "event_id",
            field_types={"VALUE": "number"},
            fields={"EVENT_TYPE", "VALUE"},
            shard_range=(lo, hi), date_col="ts")
        from datawave_spark.compiler import compile_query
        expect = compile_query(
            ev.filter(F.col("ts").cast("date").between(lo, hi)),
            QUERY, field_types={"VALUE": "number"})
        got = sorted(r.event_id for r in served.select("event_id").collect())
        want = sorted(r.event_id for r in expect.select("event_id").collect())
        assert got == want and len(got) > 0

    def test_index_scan_is_partition_pruned(self, parts):
        ev, idx = parts
        served = index_query(
            ev, idx, QUERY, "event_id",
            field_types={"VALUE": "number"},
            fields={"EVENT_TYPE", "VALUE"},
            shard_range=("2024-01-03", "2024-01-05"), date_col="ts")
        plan = served._jdf.queryExecution().executedPlan().toString()
        # the event_date bound must reach the index scan as a PARTITION
        # filter (pruned at file-listing time), not a post-scan Filter
        assert "PartitionFilters" in plan
        import re
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert any(re.search(r"event_date", ln) for ln in pf), pf

    def test_shard_range_requires_date_col(self, parts):
        ev, idx = parts
        with pytest.raises(ValueError, match="date_col"):
            index_query(ev, idx, QUERY, "event_id",
                        shard_range=("2024-01-03", "2024-01-05"))


class TestDatelessIndexShardRange:
    def test_null_date_index_rows_survive_the_prune(self, spark, tables):
        # an index built WITHOUT date_col stores event_date NULL: the
        # shard bound must KEEP those rows (no pruning possible) — the
        # events-side date filter still bounds the answer, so results
        # equal the date-filtered full scan instead of silently empty
        ev = tables["events"]
        idx = build_index(ev, ["event_type", "value"], "event_id",
                          field_types={"VALUE": "number"})
        served = index_query(
            ev, idx, QUERY, "event_id",
            field_types={"VALUE": "number"},
            fields={"EVENT_TYPE", "VALUE"},
            shard_range=("2024-01-03", "2024-01-05"), date_col="ts")
        from datawave_spark.compiler import compile_query
        from pyspark.sql import functions as F
        expect = compile_query(
            ev.filter(F.col("ts").cast("date")
                      .between("2024-01-03", "2024-01-05")),
            QUERY, field_types={"VALUE": "number"})
        assert served.count() == expect.count() > 0

    def test_events_fetch_is_partition_pruned(self, spark, tables,
                                              tmp_path_factory):
        """VERDICT r9 #2: on a date-partitioned events table the
        post-index document fetch must partition-prune on the SAME
        shard_range bound as the index scan (the document-range
        narrowing after RangeStream.java:377-513) — PartitionFilters
        on BOTH scans, and identical answers to the unpruned path."""
        ev = tables["events"]
        root = tmp_path_factory.mktemp("evd")
        ev_path = str(root / "events_bydate.parquet")
        ev.withColumn("event_date", F.col("ts").cast("date")) \
            .repartition("event_date") \
            .write.partitionBy("event_date").mode("overwrite") \
            .parquet(ev_path)
        ev_bydate = spark.read.parquet(ev_path)
        idx_path = str(root / "index_part.parquet")
        build_index(ev, ["event_type", "value"], "event_id",
                    date_col="ts", field_types={"VALUE": "number"}) \
            .repartition("field", "event_date") \
            .write.partitionBy("field", "event_date") \
            .mode("overwrite").parquet(idx_path)
        idx = spark.read.parquet(idx_path)
        lo, hi = "2024-01-03", "2024-01-05"
        served = index_query(
            ev_bydate, idx, QUERY, "event_id",
            field_types={"VALUE": "number"},
            fields={"EVENT_TYPE", "VALUE"},
            shard_range=(lo, hi), date_col="ts",
            event_date_col="event_date")
        plan = served._jdf.queryExecution().executedPlan().toString()
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln
              and "event_date" in ln]
        # both the index scan AND the events scan carry the bound as a
        # partition filter — count the scans whose PartitionFilters
        # mention event_date with a real range predicate
        bounded = [ln for ln in pf if ">=" in ln or "GreaterThanOrEqual"
                   in ln]
        assert len(bounded) >= 2, plan[:4000]
        # answers match the unpruned full-scan path
        from datawave_spark.compiler import compile_query
        expect = compile_query(
            ev.filter(F.col("ts").cast("date").between(lo, hi)),
            QUERY, field_types={"VALUE": "number"})
        got = sorted(r.event_id for r in served.select("event_id").collect())
        want = sorted(r.event_id
                      for r in expect.select("event_id").collect())
        assert got == want and len(got) > 0


def _plan_nodes(df) -> list[str]:
    """Physical operator names of ``df``'s executed plan, one per line."""
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m.group(1) for m in
            (re.match(r"^[\s:|+\-*]*(\w+)", ln) for ln in plan.splitlines())
            if m]


ONE_PASS_QUERIES = {
    "2-leaf": "EVENT_TYPE == 'click' && VALUE > 100",
    "5-leaf": "EVENT_TYPE == 'click' && VALUE > 100 && USER_ID < 10 "
              "&& !(USER_ID == 3) && VALUE < 300",
    "12-leaf": "(EVENT_TYPE == 'click' || EVENT_TYPE == 'view' "
               "|| EVENT_TYPE == 'error') && (USER_ID == 1 || USER_ID == 2 "
               "|| USER_ID == 3 || USER_ID == 4 || USER_ID == 5) "
               "&& VALUE > 10 && VALUE < 320 && !(USER_ID == 9) "
               "&& !(EVENT_TYPE =~ 'sig.*')",
    "negation-rooted": "!(EVENT_TYPE == 'click') || VALUE > 300",
}


class TestOnePassPlanShape:
    """RangeStream in one pass: whatever the leaf count, an all-indexed
    query's plan is ONE shuffle aggregation over the index (a partial +
    final aggregate pair) and ONE join — the events fetch — instead of
    a distinct per term and a join per AND/NOT."""

    @pytest.fixture(scope="class")
    def indexed(self, tables):
        ev = tables["events"]
        ft = {"VALUE": "number", "USER_ID": "number"}
        idx = build_index(ev, ["event_type", "value", "user_id"],
                          "event_id", field_types=ft)
        return ev, idx, ft

    @pytest.mark.parametrize("name", list(ONE_PASS_QUERIES))
    def test_one_aggregate_one_join(self, indexed, name):
        from datawave_spark.compiler import compile_query
        ev, idx, ft = indexed
        q = ONE_PASS_QUERIES[name]
        served = index_query(ev, idx, q, "event_id", field_types=ft,
                             fields={"EVENT_TYPE", "VALUE", "USER_ID"})
        nodes = _plan_nodes(served)
        aggs = [n for n in nodes if n.endswith("Aggregate")]
        joins = [n for n in nodes
                 if n.endswith("Join") or n == "CartesianProduct"]
        assert len(aggs) == 2 and len(joins) == 1, nodes
        want = compile_query(ev, q, field_types=ft)
        got = sorted(r.event_id for r in served.select("event_id").collect())
        assert got == sorted(r.event_id
                             for r in want.select("event_id").collect())
        assert got
