"""Plan-quality regression tests: these assert on the PHYSICAL PLAN —
pushdown reaching parquet, broadcasts chosen, shuffle counts bounded,
bucketed joins shuffle-free — because at 100 TB the plan shape IS the
performance."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from datawave_spark.plans.metrics import plan_counters
from datawave_spark.util import salted_join, write_bucketed

SF = "/root/testdata/sf0.001"


class TestPushdown:
    def test_jexl_filter_pushes_to_parquet(self, spark):
        df = entrymod.queries()["jexl_eq_range"](spark, SF)
        c = plan_counters(df)
        pushed = " ".join(c["pushed_filters"])
        assert "event_type" in pushed and "value" in pushed
        assert c["n_shuffles"] == 0  # pure filter+project: no shuffle

    def test_column_pruning(self, spark):
        df = entrymod.queries()["jexl_eq_range"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the 4 needed columns (3 projected + 1 filter-only) are read;
        # the unused ts/props columns are pruned from the scan
        import re
        schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
        assert "props" not in schema and "ts" not in schema
        assert "event_type" in schema and "value" in schema

    def test_return_fields_prune_scan(self, spark):
        # the returnFields whitelist must reach the scan: ReadSchema
        # holds only the projected columns + the filter column
        df = entrymod.queries()["projection_query"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re
        schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
        assert "event_id" in schema and "value" in schema
        assert "props" not in schema and "user_id" not in schema

    def test_disallowed_fields_dropped(self, spark):
        from datawave_spark.plans import QueryPlanner
        from datawave_spark.sources.parquet import read_parquet
        ev = read_parquet(spark, f"{SF}/events.parquet")
        res = QueryPlanner(ev).plan("EVENT_TYPE == 'view'",
                                    disallowed_fields=["PROPS"])
        assert "props" not in res.df.columns
        assert "event_id" in res.df.columns

    def test_negated_leaf_does_not_break_pushdown_of_siblings(self, spark):
        from datawave_spark.compiler import compile_query
        from datawave_spark.sources.parquet import read_parquet
        ev = read_parquet(spark, f"{SF}/events.parquet")
        df = compile_query(ev, "EVENT_TYPE == 'click' && !(USER_ID == 3)")
        pushed = " ".join(plan_counters(df)["pushed_filters"])
        assert "event_type" in pushed


class TestPreparedAssets:
    def test_geo_prefix_predicates_push_to_stored_table(self, spark):
        # the accelerated bbox must emit StartsWith on the STORED
        # geohash column (row-group-skippable), not a derived substring
        df = entrymod.queries()["geo_bbox_accelerated"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "StartsWith(geohash" in plan
        assert ".prepared" in plan  # reads the materialized asset

    def test_circle_prefix_predicates_push_to_stored_table(self, spark):
        df = entrymod.queries()["geo_circle_accelerated"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "StartsWith(geohash" in plan
        assert ".prepared" in plan

    def test_index_frame_partition_prunes_on_field(self, spark):
        df = entrymod.queries()["index_driven_query"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # field is a hive partition of the prepared index: equality
        # terms prune to one field directory
        assert "PartitionFilters: [isnotnull(field" in plan
        assert ".prepared" in plan

    def test_facet_table_partition_prunes_on_field(self, spark):
        # the ingest-precomputed facet table is hive-partitioned by
        # field; a one-field facet lookup must prune, not scan+filter
        df = entrymod.queries()["facet_table_lookup"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "PartitionFilters: [isnotnull(field" in plan

    def test_content_reads_only_tf_map_columns(self, spark):
        # content:phrase consumes the STORED tf map; the scan must not
        # read the raw text or the (excerpt-only) token array — at
        # 100 TB reading those columns would triple the scan bytes
        import re
        df = entrymod.queries()["content_phrase"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas and all("text_tokens" not in s and "text_scores" not in s
                               for s in schemas)
        assert any("text_tf" in s for s in schemas)

    def test_excerpt_is_pure_projection_over_stored_tokens(self, spark):
        # excerpts slice the ingest-stored token array around stored
        # hit offsets: zero shuffles, zero re-tokenization
        df = entrymod.queries()["excerpt_term"](spark, SF)
        c = plan_counters(df)
        assert c["n_shuffles"] == 0

    def test_lsh_from_sets_bounded_shuffles(self, spark):
        # signatures/bands are row-wise over the stored shingle sets:
        # the whole LSH query is the bucket groupBy + candidate distinct
        # (+ AQE may add exchanges for the verify joins when it skips
        # broadcasting); there must be no cartesian anywhere
        df = entrymod.queries()["dedup_minhash_lsh"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        c = plan_counters(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert c["n_shuffles"] <= 5

    def test_knn_join_blocked_has_no_cartesian(self, spark):
        # round-3 verdict flagged knn_join's crossJoin: the blocked and
        # LSH-probe variants must candidate-generate via equi-joins only
        for key in ("ann_knn_join_blocked", "ann_knn_join_lsh"):
            df = entrymod.queries()[key](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, key
            assert "BroadcastNestedLoopJoin" not in plan, key

    def test_ngram_pairs_hot_gram_cap_in_plan(self, spark):
        # the registered entry must run the df-capped path (the skew
        # guard): the gram self-join input carries the df<=cap semi-join
        df = entrymod.queries()["dedup_ngram_pairs"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_reverse_index_pushes_startswith(self, spark):
        # trailing-wildcard terms read the STORED reverse index
        # (shardReverseIndex parity): the prefix test must reach parquet
        # as a pushed StartsWith on the stored value column, with the
        # field directory partition-pruned
        df = entrymod.queries()["reverse_index_suffix"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "PushedFilters" in plan and "StartsWith(value,pu" in plan
        assert "PartitionFilters: [isnotnull(field" in plan

    def test_normalized_at_rest_equality_pushes_bare_predicate(self, spark):
        # typed lc equality against the normalized-at-rest table must be
        # a pushable EqualTo on the raw stored column — NOT lower(col)
        df = entrymod.queries()["normalized_lc_query"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "EqualTo(source,src7)" in plan
        assert "lower" not in plan

    def test_capped_index_partition_prunes_on_field(self, spark):
        # term lookups against the capped global index prune to the
        # field's hive directory (the index-organized-table read)
        df = entrymod.queries()["capped_index_query"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "PartitionFilters: [isnotnull(field" in plan

    def test_date_index_hint_partition_prunes_shards(self, spark):
        # a range on the semantic LOAD_DATE (not the shard date) must
        # consult the date index and land as event_date IN (...) in the
        # scan's PartitionFilters — RangeStream's shards-and-days hint
        df = entrymod.queries()["date_index_range"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "PartitionFilters" in plan
        import re
        pf = re.search(r"PartitionFilters: \[([^\]]*)", plan).group(1)
        assert "event_date" in pf and (" IN " in pf or "event_date#" in pf)

    def test_planner_injects_date_index_hint(self, spark):
        # the planner itself must consult the date index for load-date
        # conjuncts and emit the partition filter
        df = entrymod.queries()["date_index_planned"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re
        pf = re.search(r"PartitionFilters: \[([^\]]*)", plan)
        assert pf and "event_date" in pf.group(1)

    def test_planner_date_hint_ignores_or_branches(self, spark):
        # a load-date term under OR must NOT prune (it doesn't
        # constrain all results)
        from datawave_spark.plans import QueryPlanner
        from datawave_spark.sources.prepared import (date_index,
                                                     sharded_events)
        ev = spark.read.parquet(sharded_events(spark, SF))
        didx = date_index(spark, SF)
        qp = QueryPlanner(ev, date_index=didx)
        res = qp.plan(
            "filter:betweenLoadDates(LOAD_DATE, '2024-01-10', "
            "'2024-01-11') || EVENT_TYPE == 'click'")
        clicks = ev.filter("event_type = 'click'").count()
        assert res.df.count() >= clicks

    def test_date_index_empty_hint_short_circuits(self, spark):
        from datawave_spark.sources.date_index import prune_by_date_index
        from datawave_spark.sources.prepared import (date_index,
                                                     sharded_events)
        ev = spark.read.parquet(sharded_events(spark, SF))
        didx = date_index(spark, SF)
        out = prune_by_date_index(ev, didx, "LOAD_DATE", "load_date",
                                  "2031-01-01", "2031-01-02")
        assert out.count() == 0

    def test_ssdeep_reads_stored_hash_asset(self, spark):
        # the similarity entry must read the ingest-materialized hash
        # table, not tokenize the corpus: no posexplode/generator and
        # no raw documents scan in the plan
        df = entrymod.queries()["ssdeep_similarity"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "documents.parquet" not in plan

    def test_ann_lsh_probes_stored_signature_column(self, spark):
        # the LSH probe is an IN filter on the STORED sig column (pushes
        # to parquet); signatures must not be recomputed in-plan
        df = entrymod.queries()["ann_lsh_topk"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "In(sig" in plan

    def test_ann_ivf_partition_prunes_probed_clusters(self, spark):
        # the IVF corpus is hive-partitioned by stored cluster id: an
        # n_probe query must prune to the probed directories
        df = entrymod.queries()["ann_ivf_topk"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert "PartitionFilters: [ivf_cluster" in plan \
            or "PartitionFilters: [isnotnull(ivf_cluster" in plan

    def test_ssdeep_single_candidate_equijoin(self, spark):
        # candidate generation is ONE equi-join on the ngram tuple —
        # no cross join anywhere in the plan
        from datawave_spark.operators.ssdeep import ssdeep_similarity_join
        df = spark.createDataFrame(
            [(1, "96:abcdefghijklmnop:abcdefgh"),
             (2, "96:abcdefghijklmnoq:abcdefgh")], "id int, ssdeep string")
        out = ssdeep_similarity_join(df, df, "ssdeep", "id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestJoinStrategy:
    def test_small_dims_broadcast(self, spark):
        df = entrymod.queries()["tpch_q5_regional"](spark, SF)
        c = plan_counters(df)
        assert c["n_broadcasts"] >= 2  # nation + region at minimum

    def test_groupby_single_shuffle(self, spark):
        df = entrymod.queries()["groupby_type"](spark, SF)
        assert plan_counters(df)["n_shuffles"] == 1

    def test_unique_single_shuffle(self, spark):
        df = entrymod.queries()["unique_user_day"](spark, SF)
        assert plan_counters(df)["n_shuffles"] == 1


class TestSkewAndBuckets:
    def test_salted_join_matches_plain(self, spark):
        fact = spark.range(0, 2000).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v"))
        dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (3, "d")],
                                    "k long, name string")
        plain = fact.join(dim, "k").groupBy("name").count()
        salted = salted_join(fact, dim, "k").groupBy("name").count()
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, salted.collect()))

    def test_bucketed_join_has_no_shuffle(self, spark, tmp_path_factory):
        import shutil
        for t in ("bt_a", "bt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        a = spark.range(0, 1000).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("x"))
        b = spark.range(0, 1000).select(F.col("id").alias("k"),
                                        (F.col("id") * 3).alias("y"))
        write_bucketed(a, "bt_a", "k", buckets=8)
        write_bucketed(b, "bt_b", "k", buckets=8)
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        c = plan_counters(joined)
        assert c["n_shuffles"] == 0, "bucketed equi-join must not shuffle"
        assert joined.count() == 1000


class TestRegexIndexExpansion:
    def test_regex_becomes_pushable_in_filter(self, spark):
        # the regex must be gone from the scan: expansion produced
        # concrete equality values the parquet scan can push (In/Or)
        df = entrymod.queries()["regex_index_expansion"](spark, SF)
        c = plan_counters(df)
        pushed = " ".join(c["pushed_filters"])
        assert "event_type" in pushed
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "RLike" not in plan       # no evaluation-phase regex left

    def test_threshold_overflow_keeps_regex(self, spark):
        from datawave_spark.compiler.rewrite import expand_regex_from_index
        from datawave_spark.jexl.parser import parse as jexl
        from datawave_spark.sources.prepared import index_frame
        idx = index_frame(spark, SF)
        # user_id has far more than 3 distinct values → stays a regex
        node = expand_regex_from_index(jexl("USER_ID =~ '.*'"), idx,
                                       max_expansion=3)
        assert node == jexl("USER_ID =~ '.*'")

    def test_negated_regex_not_expanded(self, spark):
        from datawave_spark.compiler.rewrite import expand_regex_from_index
        from datawave_spark.jexl.parser import parse as jexl
        from datawave_spark.sources.prepared import index_frame
        idx = index_frame(spark, SF)
        node = expand_regex_from_index(jexl("!(EVENT_TYPE =~ 's.*')"), idx)
        assert node == jexl("!(EVENT_TYPE =~ 's.*')")

    def test_zero_match_regex_compiles_false(self, spark):
        from datawave_spark.compiler.rewrite import (
            expand_regex_from_index, prune)
        from datawave_spark.jexl.ast import Literal
        from datawave_spark.jexl.parser import parse as jexl
        from datawave_spark.sources.prepared import index_frame
        idx = index_frame(spark, SF)
        node = prune(expand_regex_from_index(
            jexl("EVENT_TYPE =~ 'zzz.*'"), idx))
        assert node == Literal(False)

    def test_unindexed_field_left_alone(self, spark):
        from datawave_spark.compiler.rewrite import expand_regex_from_index
        from datawave_spark.jexl.parser import parse as jexl
        from datawave_spark.sources.prepared import index_frame
        idx = index_frame(spark, SF)
        node = expand_regex_from_index(jexl("PROPS =~ 'x.*'"), idx)
        assert node == jexl("PROPS =~ 'x.*'")


class TestGeowaveRectFastPath:
    def test_point_typed_rect_query_has_no_python_udf(self, spark):
        # GeoType field × axis-rect POLYGON → pure JVM bbox predicate
        df = entrymod.queries()["geowave_polygon"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_geometry_rows_still_use_exact_udf(self, spark):
        # polygon-valued rows cannot take the bbox shortcut
        df = entrymod.queries()["geowave_polygon_data"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan

    def test_axis_rect_detection(self):
        from datawave_spark.functions._geowave_purepy import _is_axis_rect
        rect = [(-20.0, -10.0), (60.0, -10.0), (60.0, 40.0), (-20.0, 40.0),
                (-20.0, -10.0)]
        assert _is_axis_rect(rect)
        tri = [(0.0, 0.0), (4.0, 0.0), (2.0, 3.0), (0.0, 0.0)]
        assert not _is_axis_rect(tri)
        # 4 unique points, right x/y sets, but not the 4 corners
        diamond = [(0.0, -1.0), (1.0, 0.0), (0.0, 1.0), (-1.0, 0.0),
                   (0.0, -1.0)]
        assert not _is_axis_rect(diamond)


class TestDateIndexGuards:
    def test_uncovered_date_field_means_no_pruning(self, spark):
        # a load-date conjunct over a field the index was NOT built for
        # must not produce an empty hint (which would zero the result)
        from datawave_spark.plans import QueryPlanner
        from datawave_spark.sources.prepared import (date_index,
                                                     sharded_events)
        ev = spark.read.parquet(sharded_events(spark, SF))
        didx = date_index(spark, SF)
        ev2 = ev.withColumn("activity_date", F.col("load_date"))
        qp = QueryPlanner(ev2, date_index=didx)
        res = qp.plan("filter:betweenLoadDates(ACTIVITY_DATE, "
                      "'2024-01-10', '2024-01-14') && EVENT_TYPE == 'click'")
        want = ev2.filter(
            "activity_date between '2024-01-10' and '2024-01-14' "
            "and event_type = 'click'").count()
        assert res.df.count() == want > 0


class TestPQPlans:
    def test_pq_scan_has_no_python_and_rerank_prunes(self, spark):
        # ADC scoring must be pure JVM (no BatchEvalPython / ArrowEval
        # in the scan), and the rerank's float-table access must be a
        # semi join on the shortlist, never a full-scan sort.  The raw
        # PQ shortlist has no gated entry (folded behind ann_pq_rerank),
        # so build it from the operator directly.
        import numpy as np
        from datawave_spark.operators import similarity
        from datawave_spark.sources import prepared
        from datawave_spark.entries import _query_vec
        bdf = prepared.embedding_pq_codebooks(spark, SF)
        rows = bdf.orderBy("subspace", "centroid_id").collect()
        sub = len(rows[0].centroid)
        books = np.array([r.centroid for r in rows]).reshape(16, 16, sub)
        encoded = prepared.embedding_pq(spark, SF)
        df = similarity.pq_topk(encoded, "vec_id", books,
                                _query_vec(SF), k=10)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        rr = entrymod.queries()["ann_pq_rerank"](spark, SF)
        rplan = rr._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in rplan
        assert "CartesianProduct" not in rplan


class TestVisibilityPushdown:
    def test_fast_path_isin_reaches_parquet(self, spark, tmp_path_factory):
        from datawave_spark.visibility import filter_by_auths
        d = tmp_path_factory.mktemp("vis")
        spark.createDataFrame(
            [(i, "A&B" if i % 2 else "C") for i in range(100)],
            "id long, visibility string").write.parquet(str(d / "t"))
        df = filter_by_auths(spark.read.parquet(str(d / "t")), {"A", "B"})
        c = plan_counters(df)
        pushed = " ".join(c["pushed_filters"])
        assert "visibility" in pushed
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_degraded_path_stays_distributed(self, spark, tmp_path_factory):
        # above the cap the filter is an Arrow-batched UDF — still a
        # scan+filter, no collect-shaped plan (no Sort/GlobalLimit)
        from datawave_spark.visibility import filter_by_auths
        d = tmp_path_factory.mktemp("vis2")
        spark.createDataFrame(
            [(i, f"L{i}") for i in range(100)],
            "id long, visibility string").write.parquet(str(d / "t"))
        df = filter_by_auths(spark.read.parquet(str(d / "t")), {"L3"},
                             distinct_cap=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
        assert df.count() == 1


class TestPolygonAccel:
    def test_convex_polygon_pushes_prefixes_no_python(self, spark):
        df = entrymod.queries()["geowave_polygon_accelerated"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "StartsWith(geohash" in plan
        assert ".prepared" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_non_convex_ring_raises(self, spark):
        from datawave_spark.functions.geohash import (
            polygon_filter_accelerated)
        from datawave_spark.sources.prepared import geo_events
        ev = geo_events(spark, SF)
        with pytest.raises(ValueError, match="non-convex"):
            polygon_filter_accelerated(
                ev, "lat", "lon",
                [(0, 0), (10, 0), (5, 5), (10, 10), (0, 10)])

    def test_matches_exact_ray_cast(self, spark):
        """The accelerated convex path must agree with the generic
        geowave ray-cast evaluation on the same triangle."""
        from pyspark.sql import functions as F
        from datawave_spark.compiler import compile_query
        from datawave_spark.functions.geohash import (
            polygon_filter_accelerated)
        from datawave_spark.sources.prepared import geo_events
        ev = geo_events(spark, SF)
        # sf0.001 lat values live in [-80, -66] — pick a triangle
        # that actually covers that band
        tri = [(-170.0, -80.0), (170.0, -80.0), (0.0, -60.0)]
        accel = {r.event_id for r in polygon_filter_accelerated(
            ev, "lat", "lon", tri).collect()}
        pts = ev.withColumn("GEO", F.concat_ws(
            ",", F.col("lat"), F.col("lon")))
        exact = {r.event_id for r in compile_query(
            pts, "geowave:intersects(GEO, "
            "'POLYGON((-170 -80, 170 -80, 0 -60, -170 -80))')").collect()}
        assert accel == exact and accel


class TestZOrderQuery:
    def test_both_range_predicates_push_to_stored_zorder(self, spark):
        df = entrymod.queries()["zorder_two_axis_query"](spark, SF)
        c = plan_counters(df)
        pushed = " ".join(c["pushed_filters"])
        assert "value" in pushed and "user_id" in pushed
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".prepared" in plan
        assert c["n_shuffles"] == 0


class TestSketchAndSplitPlans:
    def test_hash_split_zero_shuffle(self, spark):
        """The split column is a codegen'd CASE over an md5 prefix —
        no exchange may appear."""
        from datawave_spark.operators.curation import hash_split
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.2})
        assert plan_counters(out)["n_shuffles"] == 0

    def test_hll_sketch_two_shuffles_no_udf(self, spark):
        """melt -> (field,bucket) register max -> field rollup: two
        exchanges, all JVM (no Python eval nodes)."""
        from datawave_spark.operators.sketches import hll_estimate
        ev = spark.read.parquet(f"{SF}/events.parquet")
        out = hll_estimate(ev, ["user_id", "event_type"], b=8)
        c = plan_counters(out)
        assert c["n_shuffles"] <= 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_cms_lookup_broadcasts_probes(self, spark):
        """Probe set is tiny: the sketch join must not be a cartesian
        and the whole lookup stays JVM-side."""
        from datawave_spark.operators.sketches import cms_sketch, cms_lookup
        ev = spark.read.parquet(f"{SF}/events.parquet")
        out = cms_lookup(cms_sketch(ev, "event_type"), ["click", "x"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_semantic_dedup_no_cartesian_when_blocked(self, spark):
        from datawave_spark.operators.dedup import semantic_dedup
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        out = semantic_dedup(emb, "embedding", "vec_id",
                             threshold=0.35, block_col="label")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_exact_substring_dedup_plan_shape(self, spark):
        """Window agg + dup join + island merge, all JVM: no Python
        eval nodes, no cartesian, and the final hash-key agg keeps a
        partial (map-side) stage so hot boilerplate windows cannot
        skew a reducer."""
        from datawave_spark.operators.dedup import exact_substring_dedup
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = exact_substring_dedup(docs, k=10, min_count=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "partial_count" in plan  # combiner on the window hash

    def test_orc_scan_pushes_filters_and_prunes_columns(self, spark):
        """ORC is a first-class scan provider: the entry's filter and
        projection must reach the ORC scan like they do for parquet."""
        df = entrymod.queries()["orc_reader_query"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re
        # the scan NODE must be ORC — the Location path alone contains
        # 'orc_events', so match the FileScan format, not the path
        assert re.search(r"FileScan orc|OrcScan", plan)
        # plan_counters' pattern survives the 100-char metadata
        # truncation that drops the closing bracket
        pushed = " ".join(plan_counters(df)["pushed_filters"])
        assert "event_type" in pushed and "value" in pushed
        schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
        assert "user_id" not in schema  # unused column pruned

    def test_bigram_backoff_all_joins_broadcast(self, spark):
        """The three LM joins are vocabulary-bounded: every one must be
        a broadcast, never a sort-merge shuffle of the token stream."""
        df = entrymod.queries()["text_bigram_backoff"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") + \
            plan.count("BroadcastNestedLoopJoin") >= 3

    def test_budget_select_single_stratum_shuffle(self, spark):
        """Per-stratum budget selection: one exchange for the stratum
        window, nothing else (the scorer is zero-shuffle column work)."""
        df = entrymod.queries()["curation_budget_select"](spark, SF)
        c = plan_counters(df)
        assert c["n_shuffles"] <= 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestRound5Plans:
    def test_normalized_list_no_udf_no_shuffle(self, spark):
        """List-normalizer predicates are pure array expressions:
        no Python eval node, no exchange — the filter runs inside the
        scan's codegen stage."""
        df = entrymod.queries()["normalized_list_query"](spark, SF)
        c = plan_counters(df)
        assert c["n_shuffles"] == 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_federated_catalog_pushdown_per_branch(self, spark):
        """Each deployment's scan keeps its own parquet pushdown; the
        union adds no shuffle and the pruned documents datatype
        contributes no scan."""
        df = entrymod.queries()["federated_catalog_query"](spark, SF)
        c = plan_counters(df)
        assert c["n_scans"] == 2          # two event roots, no documents scan
        assert c["n_shuffles"] == 0
        pushed = " ".join(c["pushed_filters"])
        assert "event_type" in pushed and "value" in pushed

    def test_rebalance_mix_corpus_pass_is_scan_filter(self, spark):
        """After the bounded strata aggregate, the corpus pass is a
        bare filter over the scan: no join, no persist, no shuffle.
        Cache cleared first: another module's cached documents frame
        would be substituted into this scan by the cache manager and
        read as a persist rebalance_mix never did."""
        from datawave_spark.operators.curation import rebalance_mix
        spark.catalog.clearCache()
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = rebalance_mix(docs, "doc_id", "source", "n_chars",
                            {"src0": 0.5, "src1": 0.5})
        c = plan_counters(out)
        assert c["n_shuffles"] == 0 and c["n_broadcasts"] == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan

    def test_ssdeep_join_no_forced_broadcast_of_sizes(self, spark):
        """The similarity join must not CartesianProduct, and the
        parsed-hash frame is persisted exactly once per side."""
        from datawave_spark.operators.ssdeep import (
            ssdeep_similarity_join, text_fixture_hashes)
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        hashes = text_fixture_hashes(docs)
        out = ssdeep_similarity_join(
            hashes.filter(F.col("doc_id") < 10), hashes,
            "ssdeep", "doc_id", max_repeated=0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan   # persisted parse reused

    def test_token_ids_single_broadcast_no_shuffle(self, spark):
        """Tokenize-to-ids: the corpus never shuffles — posexplode in
        the scan stage, ONE broadcast join against the vocab-sized id
        table, no sort-merge exchange of the token stream."""
        df = entrymod.queries()["text_token_ids"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_pagerank_round_plan_and_truncated_lineage(self, spark):
        """The per-round plan (inspected UN-checkpointed, because the
        public function returns a checkpoint scan that hides it):
        vertex-keyed hash joins only — the sole nested-loop join is
        the broadcast of the 1-row dangling-mass aggregate, never a
        CartesianProduct."""
        from datawave_spark.operators.components import (_pagerank_round,
                                                         pagerank)
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
            "src string, dst string").persist()
        nodes = (e.select(F.col("src").alias("node"))
                 .union(e.select(F.col("dst").alias("node"))).distinct())
        deg = (e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
               .withColumnRenamed("src", "node"))
        ranks = nodes.select("node", F.lit(0.25).alias("rank"))
        rnd = _pagerank_round(nodes, e, deg, ranks, 4, 0.85)
        plan = rnd._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1  # dang only
        # lineage truncated: the public function returns a checkpoint
        # scan, not an iters-deep join tree
        out = pagerank(e, iters=2)
        oplan = out._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in oplan or "LocalTableScan" in oplan
        e.unpersist()

    def test_chunk_documents_zero_shuffle_no_udf(self, spark):
        """Chunking is pure array codegen inside the scan stage."""
        df = entrymod.queries()["text_chunk_documents"](spark, SF)
        c = plan_counters(df)
        assert c["n_shuffles"] == 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_pack_sequences_broadcast_vocab_bounded_shuffles(self, spark):
        """Sequence assembly: the vocab join must stay broadcast and
        the corpus-keyed work is the doc re-assembly + stratum window
        + bin groupBy — a handful of exchanges, never a cartesian."""
        df = entrymod.queries()["text_pack_sequences"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        c = plan_counters(df)
        assert c["n_shuffles"] <= 5

    def test_bpe_encode_broadcast_segmentation(self, spark):
        """Encoding never shuffles the corpus: the segmentation join
        must be a broadcast, with no sort-merge exchange."""
        df = entrymod.queries()["text_bpe_encode"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_federated_edge_pushdown_per_branch(self, spark):
        """Each deployment's edge scan keeps its own parquet pushdown;
        the tagged union adds no shuffle."""
        df = entrymod.queries()["federated_edge_query"](spark, SF)
        c = plan_counters(df)
        assert c["n_shuffles"] == 0
        assert c["n_scans"] == 2
        # the precondition pushes into BOTH branches' scans; the
        # SINK/SOURCE predicates sit above the edge fan-out generator
        # (they filter a derived column), so they are not scan filters
        pushed = " ".join(c["pushed_filters"])
        assert pushed.count("GreaterThan(value,50.0)") == 2


class TestGlobalPlanLint:
    """EVERY registered entry, two scale-safety invariants (the
    per-entry pins above check stronger properties for chosen plans;
    this is the safety net that new entries cannot slip past):

    - no CartesianProduct anywhere (the documented eval-set-only exact
      paths are allowlisted, each with a registered blocked/probed
      alternative);
    - no row-at-a-time Python eval EVER (BatchEvalPython), and
      Arrow-batched Python (ArrowEval/MapInPandas/FlatMapGroupsInPandas)
      only where a codec or real geometry genuinely needs it.
    """

    # eval-set-only exact paths; each has a registered scale variant
    CARTESIAN_OK = {
        "ann_knn_join",          # vs ann_knn_join_blocked / _lsh
        "dedup_embedding_pairs", # IVF/label-blocked variant registered
    }
    ARROW_OK = {
        # multimodal codecs (stdlib PNG/JPEG/WAV decode, resize, frames)
        "multimodal_decode", "multimodal_frame_sample",
        "multimodal_png_decode", "multimodal_jpeg_decode",
        "multimodal_wav_decode",
        "multimodal_resize", "multimodal_binary_ingest",
        # XML dump parsing (no native XML source in this container)
        "xml_reader_query", "wikipedia_ingest",
        # real ray-cast geometry over bbox-pruned survivors
        "geowave_polygon_data",
        # r9 gate keys for the remaining geowave ops — same
        # bbox-prune → exact-geometry pandas-UDF split
        "geowave_covers_data", "geowave_within_data",
        "geowave_overlaps_data", "geowave_crosses_line",
        # DocumentGrouper per-document pairing (genuinely per-document
        # custom logic, DocumentGrouper.java:118) — the cross-document
        # combine is still a Catalyst groupBy over partials
        "document_grouper_query",
    }

    # entries whose returned frame is a post-execution scan (memory
    # sink / checkpoint): building them runs the whole workload and
    # the inspected plan would be a vacuous Scan ExistingRDD anyway —
    # their real plans are pinned by dedicated tests above
    VACUOUS_PLAN = {
        "edge_pagerank",
        "streaming_window_counts", "streaming_session_windows",
        "streaming_interval_join", "streaming_stateful_dedup",
        "streaming_dedup_watermark", "streaming_flagmaker_ingest",
        "streaming_push_results",
    }

    def test_every_entry_plan_is_scale_safe(self, spark):
        import __spark_entry__ as em
        failures = []
        for i, (key, fn) in enumerate(sorted(em.queries().items())):
            if key in self.VACUOUS_PLAN:
                continue
            if i % 40 == 0:
                spark.catalog.clearCache()   # bound accumulated persists
            try:
                df = fn(spark, SF)
                plan = df._jdf.queryExecution().executedPlan().toString()
            except Exception as e:          # noqa: BLE001 — report key
                failures.append((key, f"plan build failed: {e}"))
                continue
            if "CartesianProduct" in plan and key not in self.CARTESIAN_OK:
                failures.append((key, "CartesianProduct"))
            if "BatchEvalPython" in plan:
                failures.append((key, "row-at-a-time Python eval"))
            if (("ArrowEvalPython" in plan or "MapInPandas" in plan
                 or "FlatMapGroupsInPandas" in plan)
                    and key not in self.ARROW_OK):
                failures.append((key, "unexpected Python stage"))
        assert not failures, failures

    def test_schema_evolution_pushdown_survives_merge(self, spark):
        """mergeSchema must not cost pushdown or pruning: the value
        filter reaches the scan and early partitions surface the
        late-arriving column as NULL."""
        df = entrymod.queries()["schema_evolution_query"](spark, SF)
        c = plan_counters(df)
        # the exact comparison, not just IsNotNull(value) — mergeSchema
        # type-widening inserting a cast is the classic pushdown killer
        assert "GreaterThan(value,100.0)" in " ".join(c["pushed_filters"])
        from datawave_spark.sources.parquet import read_evolving
        from datawave_spark.sources.prepared import evolving_events
        ev = read_evolving(spark, evolving_events(spark, SF))
        assert "session_id" in ev.columns and "props" in ev.columns
        early = ev.filter("event_date < '2024-01-16'")
        assert early.filter(F.col("session_id").isNotNull()).count() == 0
        assert early.count() > 0

    @pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
    def test_read_evolving_sees_column_of_later_partition(self, spark,
                                                          tmp_path, uri):
        """The merged-schema memo must not pin a schema it cannot
        fingerprint: a ``file://`` root lists as no files to the
        driver-side walk, so a column a later partition adds has to
        show on the next read, as it does for the plain path."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datawave_spark.sources.parquet import read_evolving
        store = tmp_path / "store"
        (store / "d=1").mkdir(parents=True)
        pq.write_table(pa.table({"id": [1], "name": ["a"]}),
                       str(store / "d=1" / "part-0.parquet"))
        root = f"file://{store}" if uri else str(store)
        assert "extra" not in read_evolving(spark, root).columns
        (store / "d=2").mkdir()
        pq.write_table(pa.table({"id": [2], "name": ["b"], "extra": [7]}),
                       str(store / "d=2" / "part-0.parquet"))
        ev = read_evolving(spark, root)
        assert "extra" in ev.columns
        assert sorted((r.id, r.extra) for r in ev.collect()) == [
            (1, None), (2, 7)]


class TestSketchEntryPlans:
    def test_grouped_hll_register_merge_is_map_side(self, spark):
        # the register groupBy IS the sketch merge: partial_max must
        # run below its exchange (each task ships <= m register rows at
        # any corpus size) and the estimate math stays pure JVM
        df = entrymod.queries()["cardinality_hll"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_max(rho" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        c = plan_counters(df)
        assert c["n_shuffles"] <= 2     # register merge + per-field fold

    def test_facet_cardinality_sketch_broadcasts(self, spark):
        # the per-facet-value sketch table is facet-sized: it must
        # BROADCAST to the count side, never shuffle-join it, and both
        # halves keep the map-side partial aggregation
        df = entrymod.queries()["facet_with_cardinality"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "partial_max(rho" in plan
        assert "CartesianProduct" not in plan
