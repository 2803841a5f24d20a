"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the plans at any scale — filter/column pushdown into parquet
scans, broadcast joins for small dims, partial (map-side) aggregation, and
no cartesian products in the blocking join.
"""

import re

from pyspark.sql import functions as F

from table_annotation_spark.operators import relational as rel

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


class TestPushdown:
    def test_filter_pushdown_into_scan(self, spark):
        df = rel.pricing_agg(spark, SF)
        plan = plan_of(df)
        assert "PushedFilters" in plan
        # the quantity predicate must reach the parquet scan
        assert "GreaterThan(l_quantity" in plan

    def test_column_pruning(self, spark):
        df = rel.pricing_agg(spark, SF)
        plan = plan_of(df)
        # ReadSchema must NOT include unused columns like l_shipdate/l_tax
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema
        assert "l_shipdate" not in read_schema[0]
        assert "l_suppkey" not in read_schema[0]

    def test_projection_only_reads_needed_columns(self, spark):
        df = (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .select("l_orderkey", "l_quantity")
            .where(F.col("l_quantity") > 5)
        )
        plan = plan_of(df)
        line = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "l_orderkey" in line and "l_quantity" in line
        assert "l_extendedprice" not in line


class TestJoinStrategies:
    def test_star_join_broadcasts_dims(self, spark):
        plan = plan_of(rel.star_join(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_band_selfjoin_is_hash_join_on_brand(self, spark):
        plan = plan_of(rel.band_selfjoin(spark, SF))
        # equi-part on brand keeps it a hash join; the band predicate is a
        # post-join filter, NOT a cartesian product
        assert "CartesianProduct" not in plan
        assert "Join" in plan

    def test_blocking_join_no_cartesian(self, spark, kg):
        from table_annotation_spark.operators import lookup as lk

        labels, _ = kg
        m = spark.createDataFrame([("paris",), ("pulp fiction",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels)
        plan = plan_of(pairs)
        assert "CartesianProduct" not in plan


class TestAggregation:
    def test_partial_aggregation(self, spark):
        plan = plan_of(rel.pricing_agg(spark, SF))
        # map-side combine: two HashAggregate nodes (partial + final)
        assert plan.count("HashAggregate") >= 2

    def test_whole_stage_codegen_active(self, spark):
        # formatted mode marks codegen-compiled operators with a '*' prefix
        plan = plan_of(rel.pricing_agg(spark, SF))
        assert "* HashAggregate" in plan
        assert "* Filter" in plan


class TestBucketing:
    def test_bucketed_edges_join_without_exchange(self, spark, kg, tmp_path):
        """kg_edges bucketed by subj: an aggregation keyed on subj reads
        pre-bucketed data with NO Exchange before the final agg."""
        from table_annotation_spark.sources import kg_build

        _, edges = kg
        bucketed = kg_build.write_bucketed(edges, "kg_edges_bucketed", "subj", 4)
        agg = bucketed.groupBy("subj").count()
        plan = plan_of(agg)
        # bucketed scan satisfies the hash partitioning requirement: the only
        # acceptable plan has no shuffle Exchange between scan and aggregate
        assert "Exchange hashpartitioning(subj" not in plan
        assert "Scan parquet" in plan


class TestCCJobBudget:
    """The CC loop's driver-action diet: with the change flag folded into
    each round's own groupBy, a converged run submits exactly
    (2 init + rounds + probes) jobs — no per-check shuffle-join jobs."""

    def test_cc_job_count_is_bounded(self, spark):
        from pyspark.sql import functions as F

        from table_annotation_spark.operators.materialize import (
            connected_components,
        )

        # chain 1-2-3-4 plus isolated pair 10-11: diameter 3 → labels stop
        # changing after round 3; check_every=2 probes at rounds 2 and 4
        edges = spark.createDataFrame(
            [("1", "2"), ("2", "3"), ("3", "4"), ("10", "11")], ["src", "dst"]
        )
        sc = spark.sparkContext
        sc.setJobGroup("cc-budget", "cc job budget test")
        try:
            cc = connected_components(edges, max_iter=8, check_every=2)
            got = {(r["node"], r["component"]) for r in cc.collect()}
        finally:
            sc.setJobGroup(None, None)
        assert got == {
            ("1", "1"), ("2", "1"), ("3", "1"), ("4", "1"),
            ("10", "10"), ("11", "10"),
        }
        jobs = sc.statusTracker().getJobIdsForGroup("cc-budget")
        # 2 init checkpoints + 4 round checkpoints (converged flag seen at
        # the round-4 probe) + 2 limit(1) probes + 1 final collect = 9;
        # allow +2 slack for limit-probe job splitting, never the old
        # per-check join+count pattern (which added a multi-stage job per
        # probe on top of this budget)
        assert 7 <= len(jobs) <= 11, f"unexpected CC job count: {len(jobs)}"


class TestRollupPivotShapes:
    def test_rollup_is_single_expand_aggregate(self, spark):
        """ROLLUP must compile to ONE scan + Expand + hash aggregate, not a
        union of per-level aggregations (which would re-scan lineitem 3x at
        100 TB)."""
        plan = plan_of(rel.rollup_pricing(spark, SF))
        assert "Expand" in plan
        # formatted mode prints each node in the tree AND the details
        # section — count detail headers "(n) Scan parquet" for node count
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        # still map-side combinable: partial + final aggregate pair
        assert plan.count("HashAggregate") >= 2

    def test_rollup_levels_are_consistent(self, spark):
        rows = rel.rollup_pricing(spark, SF).collect()
        grand = [r for r in rows if r["l_returnflag"] is None
                 and r["l_linestatus"] is None]
        leaves = [r for r in rows if r["l_returnflag"] is not None
                  and r["l_linestatus"] is not None]
        subtotals = [r for r in rows if r["l_returnflag"] is not None
                     and r["l_linestatus"] is None]
        assert len(grand) == 1
        assert grand[0]["n_items"] == sum(r["n_items"] for r in leaves)
        assert grand[0]["sum_price_cents"] == sum(
            r["sum_price_cents"] for r in leaves)
        for s in subtotals:
            flag_leaves = [r for r in leaves
                           if r["l_returnflag"] == s["l_returnflag"]]
            assert s["n_items"] == sum(r["n_items"] for r in flag_leaves)

    def test_cube_is_single_expand_aggregate(self, spark):
        """CUBE (4 grouping sets) must also compile to ONE scan + Expand +
        hash aggregate — 4 per-set re-scans is the failure mode at 100 TB."""
        plan = plan_of(rel.cube_pricing(spark, SF))
        assert "Expand" in plan
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert plan.count("HashAggregate") >= 2

    def test_cube_lattice_is_consistent(self, spark):
        """grouping_id partitions the lattice; every level must re-sum to
        the same grand total, and gid — not NULL-sniffing — identifies the
        level."""
        rows = rel.cube_pricing(spark, SF).collect()
        by_gid = {}
        for r in rows:
            by_gid.setdefault(r["gid"], []).append(r)
        assert set(by_gid) == {0, 1, 2, 3}
        assert len(by_gid[3]) == 1
        grand = by_gid[3][0]
        for gid in (0, 1, 2):
            assert sum(r["n_items"] for r in by_gid[gid]) == grand["n_items"]
            assert sum(r["sum_qty"] for r in by_gid[gid]) == grand["sum_qty"]
        # gid bit semantics: bit0 = linestatus aggregated, bit1 = returnflag
        for r in by_gid[1]:
            assert r["l_returnflag"] is not None and r["l_linestatus"] is None
        for r in by_gid[2]:
            assert r["l_returnflag"] is None and r["l_linestatus"] is not None

    def test_pivot_is_one_aggregate_no_extra_scan(self, spark):
        """Explicit-values pivot: one scan, one partial+final aggregate,
        and NO extra job to discover the pivot values."""
        plan = plan_of(rel.pivot_orders(spark, SF))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert plan.count("HashAggregate") >= 2

    def test_pivot_row_sums_match_group_counts(self, spark):
        rows = rel.pivot_orders(spark, SF).collect()
        o = spark.read.parquet(f"{SF}/orders.parquet")
        totals = {
            r["o_orderpriority"]: r["n"]
            for r in o.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n")).collect()
        }
        for r in rows:
            assert (r["n_status_f"] + r["n_status_o"] + r["n_status_p"]
                    == totals[r["o_orderpriority"]])


class TestAntiSemiDistinctShapes:
    def test_anti_join_prunes_right_to_key(self, spark):
        """left_anti must scan only the join key + filter column from
        orders (pushed price predicate) — reading anything else for a
        pure membership test is wasted IO at 100 TB."""
        plan = plan_of(rel.anti_join_customers(spark, SF))
        m = re.search(r"ReadSchema[^\n]*o_custkey[^\n]*", plan)
        assert m, plan
        assert "o_orderdate" not in m.group(0)
        assert "o_orderpriority" not in m.group(0)
        assert re.search(r"PushedFilters[^\n]*o_totalprice", plan), plan
        assert "LeftAnti" in plan

    def test_anti_join_counts_complement(self, spark):
        rows = rel.anti_join_customers(spark, SF).collect()
        c = spark.read.parquet(f"{SF}/customer.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet")
        n_without = sum(r["n_custs_no_big_order"] for r in rows)
        big_custs = (
            o.where(F.col("o_totalprice") > rel.ANTI_PRICE_FLOOR)
            .select("o_custkey").distinct()
        )
        n_with = c.join(big_custs, c.c_custkey == F.col("o_custkey")).count()
        assert n_without > 0  # predicate tuned to be non-vacuous at every SF
        assert n_without + n_with == c.count()

    def test_semi_join_pushes_quantity_filter(self, spark):
        """The l_quantity predicate must reach the lineitem scan, and the
        semi join must not multiply orders rows."""
        plan = plan_of(rel.semi_join_orders(spark, SF))
        assert re.search(r"PushedFilters[^\n]*l_quantity", plan), plan
        assert "LeftSemi" in plan
        n_heavy = sum(
            r["n_heavy_orders"]
            for r in rel.semi_join_orders(spark, SF).collect()
        )
        o = spark.read.parquet(f"{SF}/orders.parquet")
        assert n_heavy <= o.count()

    def test_hll_estimate_within_rsd_of_exact_twin(self, spark):
        """approx_count_distinct (the 100 TB plan) lands within its
        configured relative standard deviation of rel_distinct_agg's
        exact counts — the sketch is validated, not trusted."""
        exact = {
            r["l_returnflag"]: (r["n_parts"], r["n_supps"], r["n_orders"])
            for r in rel.distinct_agg(spark, SF).collect()
        }
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        approx = {
            r["l_returnflag"]: (r["a_parts"], r["a_supps"], r["a_orders"])
            for r in li.groupBy("l_returnflag").agg(
                F.approx_count_distinct("l_partkey", 0.02).alias("a_parts"),
                F.approx_count_distinct("l_suppkey", 0.02).alias("a_supps"),
                F.approx_count_distinct("l_orderkey", 0.02).alias("a_orders"),
            ).collect()
        }
        assert exact.keys() == approx.keys()
        for flag, ex in exact.items():
            for e, a in zip(ex, approx[flag]):
                # 0.02 rsd -> allow 5 sigma plus integer slack on tiny groups
                assert abs(a - e) <= max(3, 0.10 * e), (flag, e, a)


class TestKmeansAssign:
    def test_broadcast_centroids_no_window_argmin(self, spark):
        """The E step must broadcast the k centroids (BroadcastNestedLoop
        over corpus x k) and express argmin as a partial-aggregable
        min(struct(dist, clabel)) — a Window sort would shuffle full
        embedding rows, the wrong plan at 100 TB."""
        from table_annotation_spark.operators import similarity as sim

        plan = plan_of(sim.kmeans_assign(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan
        assert "Window" not in plan
        # argmin groupBy is map-side combined: partial + final pair on
        # top of the centroid agg's own pair
        assert plan.count("HashAggregate") >= 4

    def test_ivf_probe_plan(self, spark):
        """IVF search: inverted-list build = broadcast-NLJ x k + min-struct
        argmin (no full-corpus Window); the probe join must BROADCAST the
        (queries x nprobe) side — the corpus is never self-joined."""
        from table_annotation_spark.operators import similarity as sim

        plan = plan_of(sim.ann_ivf_topk(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan
        # exactly one Window: the final per-query top-k re-rank (plus the
        # tiny nprobe rank over queries x k) — never over corpus embeddings
        assert plan.count("SortMergeJoin") == 0

    def test_assignment_conserves_vectors(self, spark):
        from table_annotation_spark.operators import similarity as sim

        rows = sim.kmeans_assign(spark, SF).collect()
        n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
        assert sum(r["n_vecs"] for r in rows) == n
        # one Lloyd step over label-seeded centroids keeps the diagonal
        # dominant on the label-clustered synthetic embeddings
        diag = sum(
            r["n_vecs"] for r in rows
            if r["true_label"] == r["assigned_label"]
        )
        assert diag * 2 > n // 2


class TestPrepPlan:
    def test_preprocess_has_no_exchange(self, spark, src_df):
        """Prep is one Python pass per document: its executed plan must not
        shuffle (no Exchange of any kind)."""
        from table_annotation_spark.operators.preprocessing import preprocess

        df = preprocess(src_df)
        assert df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in executed
        assert "Exchange" not in executed


class TestLookupPlan:
    def test_scoring_is_one_map_in_pandas(self, spark, kg):
        """Lookup scoring (L5-L8) is one pandas pass per mention: the
        executed plan has no Window and no Python UDF, and exactly one
        MapInPandas."""
        from table_annotation_spark.operators import lookup as lk

        labels, _ = kg
        m = spark.createDataFrame(
            [("paris",), ("pulp fiction",), ("titanc",)], ["mention_norm"]
        )
        df = lk.score_candidates(lk.candidate_pairs(m, labels), lk.token_idf(labels))
        assert df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in executed
        assert "ArrowEvalPython" not in executed
        assert "BatchEvalPython" not in executed
        assert executed.count("MapInPandas") == 1


class TestAnnotationPlan:
    def test_kernel_input_runs_no_python_udf(self, spark, src_df, kg):
        """Literal matching (C7) runs inside the annotation kernel: no plan
        that building and evaluating the packed kernel input executes has a
        Python UDF node. The KG-side frames are lazy checkpoints whose plans
        run as their own SQL executions, so every execution since the build
        started is checked, not only the packed frame's own plan."""
        from table_annotation_spark.operators import lookup as lk
        from table_annotation_spark.operators.annotation import build_inputs
        from table_annotation_spark.operators.preprocessing import (
            body_cells, column_meta, preprocess,
        )
        from table_annotation_spark.sources import kg_build

        def plans():
            store = spark._jsparkSession.sharedState().statusStore().executionsList()
            return {store.apply(i).executionId(): store.apply(i).physicalPlanDescription()
                    for i in range(store.size())}

        labels, edges = kg
        prep = preprocess(src_df).localCheckpoint(eager=True)
        body = body_cells(prep).localCheckpoint(eager=True)
        classes = lk.classify_columns(column_meta(prep), body).localCheckpoint(eager=True)
        cand, _ = lk.lookup(body, classes, labels, lk.token_idf(labels))
        cand = cand.localCheckpoint(eager=True)
        before = set(plans())
        df = build_inputs(cand, body, classes, edges, kg_build.degrees(edges))
        assert df.where("kind = 'lit_edge'").count()
        assert df.collect()
        new = [p for i, p in plans().items() if i not in before]
        assert new
        for p in new:
            assert "ArrowEvalPython" not in p
            assert "BatchEvalPython" not in p
