"""Guards for the round-12 optimizations: size-adaptive spread(),
Arrow-backed driver-local frames, selector semi-join without the
full-width distinct shuffle, and graph-scoped pagerank shuffle width.
Same genre as test_r11_plan_shapes — the plan shape IS the claim."""

import pytest
from pyspark.sql import functions as F


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestSpreadSizing:
    def test_tiny_input_gets_floor_not_full_width(self, spark):
        """A kilobyte-sized frame must still spread (Exchange present —
        the single-split pathology fix survives) but to the size floor,
        not one partition per core."""
        from datawave_spark.util import _SPREAD_MIN_PARTS, spread
        cap = spark.sparkContext.defaultParallelism
        if cap <= _SPREAD_MIN_PARTS:
            pytest.skip("needs defaultParallelism above the floor")
        df = spark.range(100).select(F.col("id"))
        out = spread(df, sized=True)
        n = out.rdd.getNumPartitions()
        assert n >= _SPREAD_MIN_PARTS
        assert n < cap, "tiny input spread to full cluster width"

    def test_explicit_override_wins(self, spark):
        from datawave_spark.util import spread
        df = spark.range(100)
        assert spread(df, min_partitions=6).rdd.getNumPartitions() == 6

    def test_wide_frame_untouched(self, spark):
        """spread() must never SHRINK parallelism (the 100 TB no-op
        contract)."""
        from datawave_spark.util import spread
        cap = spark.sparkContext.defaultParallelism
        wide = spark.range(1000).repartition(cap + 4)
        assert spread(wide) is wide


class TestLocalFrame:
    def test_values_match_classic_path(self, spark):
        from datawave_spark.util import local_frame
        rows = [(1, "a"), (2, None), (3, "c")]
        schema = "id bigint, name string"
        got = sorted(local_frame(spark, rows, schema).collect())
        want = sorted(spark.createDataFrame(rows, schema).collect())
        assert got == want

    def test_generator_survives_arrow_failure(self, spark, monkeypatch):
        """The classic-path fallback must see every row even when the
        input is a generator the failed Arrow attempt already read."""
        import pandas as pd
        from datawave_spark.util import local_frame
        real = spark.createDataFrame

        def arrow_fails(data, schema=None):
            if isinstance(data, pd.DataFrame):
                raise TypeError("injected Arrow conversion failure")
            return real(data, schema)

        monkeypatch.setattr(spark, "createDataFrame", arrow_fails)
        rows = ((i, str(i)) for i in range(5))
        got = sorted(local_frame(spark, rows, "id bigint, name string")
                     .collect())
        assert [tuple(r) for r in got] == [(i, str(i)) for i in range(5)]

    def test_empty_rows(self, spark):
        from datawave_spark.util import local_frame
        out = local_frame(spark, [], "id bigint")
        assert out.count() == 0
        assert out.schema.simpleString() == "struct<id:bigint>"


class TestSelectorJoinPath:
    def test_no_distinct_shuffle_on_selector_side(self, spark):
        """The semi-join selector frame is deduped driver-side: the
        executed plan must not contain the old full-width
        distinct (HashAggregate + Exchange hashpartitioning) under the
        broadcast build side — that shuffle over parallelized slices
        was the whole 5.4 s cost of the 2000-selector key."""
        from datawave_spark.plans.selectors import selector_query
        df = spark.range(1000).select(F.col("id").alias("user_id"))
        out = selector_query(df, "user_id", list(range(0, 400, 2)),
                             in_threshold=10)
        plan = _executed(out)
        assert "LeftSemi" in plan
        assert "hashpartitioning" not in plan, (
            "selector-side distinct shuffle is back")

    def test_duplicate_and_unhashable_selectors(self, spark):
        from datawave_spark.plans.selectors import selector_query
        df = spark.range(10).select(F.col("id").alias("user_id"))
        dup = selector_query(df, "user_id", [1, 1, 2] * 10, in_threshold=2)
        assert sorted(r.user_id for r in dup.collect()) == [1, 2]


class TestPagerankScopedWidth:
    def test_conf_restored_and_ranks_stable(self, spark):
        from datawave_spark.operators.components import pagerank
        before = spark.conf.get("spark.sql.shuffle.partitions")
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
            "src string, dst string")
        ranks = {r.node: r.rank for r in pagerank(e, iters=3).collect()}
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        assert abs(sum(ranks.values()) - 1.0) < 1e-9
