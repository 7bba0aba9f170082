"""Physical-plan regression tests: the properties that make these
operators survive a 100x scale-up are plan-shape properties — filter
pushdown into the parquet scan, column pruning, broadcast for small
dims, and map-side partial aggregation with exactly one shuffle. These
tests pin them so a refactor can't silently trade one away."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan_of(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanShape:
    def test_filter_pushdown_reaches_scan(self, spark):
        p = plan_of(spark, "filter_numeric")
        pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "GreaterThan(l_quantity,30.0)" in pushed
        # the display truncates long filter lists — the second predicate's
        # prefix is enough to prove it reached the scan
        assert "GreaterThan(l_e" in pushed

    def test_column_pruning_reaches_scan(self, spark):
        p = plan_of(spark, "filter_numeric")
        schema = p.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
        # 4 needed columns only — not lineitem's full width
        for c in ("l_orderkey", "l_linenumber", "l_quantity",
                  "l_extendedprice"):
            assert c in schema
        assert "l_comment" not in schema and "l_shipdate" not in schema

    def test_select_pushdown(self, spark):
        p = plan_of(spark, "select_project")
        assert "GreaterThan(p_size,20)" in p
        schema = p.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
        assert schema.count(":") == 3  # exactly 3 columns scanned

    def test_semi_join_broadcasts_filter_side(self, spark):
        p = plan_of(spark, "join_semi")
        assert "BroadcastHashJoin" in p and "LeftSemi" in p
        # the big probe side must NOT shuffle (the filter side's dedup
        # aggregate may — it's the small side, pre-broadcast)
        assert "Exchange hashpartitioning(o_" not in p

    def test_summarize_is_single_shuffle_with_partials(self, spark):
        p = plan_of(spark, "summarize_basic")
        assert p.count("Exchange hashpartitioning") == 1
        # partial + final aggregation (map-side combine)
        assert p.count("HashAggregate") >= 2 or \
            p.count("ObjectHashAggregate") >= 2

    def test_whole_stage_codegen_in_exact_paths(self, spark):
        for name in ("filter_numeric", "summarize_stats3", "text_tokens"):
            p = plan_of(spark, name)
            # codegen'd operators print with a "*(stage)" prefix; AQE
            # plans defer that until execution, so only assert it on the
            # non-adaptive ones
            if "AdaptiveSparkPlan" not in p:
                assert "*(" in p, name
            # no Python evaluation in reference-parity exact paths
            assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name

    def test_salted_join_no_global_skew_point(self, spark):
        """The salted join must shuffle on (key, salt) — never on the bare
        key — so a hot key fans out across ``salt`` reducers; and the big
        side must not be broadcast."""
        p = plan_of(spark, "join_salted")
        # the join condition itself carries the salt
        join_line = next(ln for ln in p.splitlines() if "HashJoin" in ln)
        assert "__salt" in join_line, join_line
        # the BIG (doc_id-carrying) side never shuffles: its only plan
        # nodes are scan/filter/project feeding the join. Any exchange in
        # this plan belongs to the tiny per-key aggregate side.
        for frag in p.split("Exchange hashpartitioning(")[1:]:
            args = frag.split(")", 1)[0]
            assert "doc_id" not in args, args

    def test_format_number_stays_codegen(self, spark):
        p = plan_of(spark, "format_number")
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # pure projection over the scan: no shuffle at all
        assert "Exchange" not in p

    def test_numeric_classes_stays_codegen(self, spark):
        p = plan_of(spark, "filter_numeric_classes")
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "Exchange" not in p

    def test_gopher_quality_single_pass_no_python(self, spark):
        p = plan_of(spark, "text_gopher_quality")
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "Exchange" not in p
        # one scan reading exactly (doc_id, text)
        schema = p.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
        assert "doc_id" in schema and "text" in schema
        assert "n_chars" not in schema

    def test_weighted_sample_is_takeordered(self, spark):
        # the A-Res weighted reservoir must plan as per-partition top-k +
        # driver merge, NOT a global sort
        p = plan_of(spark, "sample_weighted_det")
        assert "TakeOrderedAndProject" in p
        assert "Exchange rangepartitioning" not in p

    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Same-bucketed tables join with ZERO shuffle on either side —
        the write-once-join-forever pre-partitioning path for repeated
        big-big joins (sources/buckets.py)."""
        from tsv_utils_spark.sources.buckets import (
            bucketed_join,
            write_bucketed,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet") \
            .select("o_orderkey", "o_custkey", "o_totalprice")
        cust = spark.read.parquet(f"{SF}/customer.parquet") \
            .select("c_custkey", "c_mktsegment") \
            .withColumnRenamed("c_custkey", "o_custkey")
        try:
            write_bucketed(orders, "orders_b", ["o_custkey"], 8,
                           path=str(tmp_path / "ob"))
            write_bucketed(cust, "cust_b", ["o_custkey"], 8,
                           path=str(tmp_path / "cb"))
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = bucketed_join(spark, "orders_b", "cust_b", ["o_custkey"])
            p = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in p
            assert "Exchange" not in p, p
            # (Spark still inserts per-task Sorts unless each bucket is a
            # single file whose ordering it trusts — cheap, task-local,
            # and nothing like the shuffle this layout eliminates)
            # correctness: equals the plain join
            plain = orders.join(cust, "o_custkey")
            assert j.count() == plain.count()
            # bucket-local aggregation: groupBy on the bucket key also
            # needs no shuffle
            agg = spark.read.table("orders_b").groupBy("o_custkey").count()
            pa = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in pa, pa
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS orders_b")
            spark.sql("DROP TABLE IF EXISTS cust_b")

    def test_partitioned_write_prunes_directories(self, spark, tmp_path):
        """partitionBy layout: a predicate on the partition key becomes a
        PartitionFilter — non-matching directories are never read."""
        from tsv_utils_spark.sources.buckets import write_partitioned

        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "lang", "n_chars")
        out = str(tmp_path / "docs_by_lang")
        write_partitioned(docs, out, ["lang"])
        scan = spark.read.parquet(out).where("lang = 'en'")
        p = scan._jdf.queryExecution().executedPlan().toString()
        pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "lang" in pf and "en" in pf, p
        # and the data filter list does NOT re-check lang (pruned, not
        # filtered)
        assert scan.count() == docs.where("lang = 'en'").count()

    def test_sketch_pipeline_shuffles_only_blobs(self, spark):
        from tsv_utils_spark.plans import SketchSpec, sketch_agg

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        df = sketch_agg(li, ["l_returnflag"],
                        [SketchSpec("hll", "l_partkey", "uc")])
        p = df._jdf.queryExecution().executedPlan().toString()
        # one shuffle between level-1 partials and the level-2 merge
        assert p.count("Exchange hashpartitioning") == 1
        # the scan projects only the key + hashed input, not full rows
        schema = p.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
        assert "l_returnflag" in schema and "l_partkey" in schema
        assert "l_extendedprice" not in schema

    def test_sketch_level1_is_the_arrow_kernel(self, spark):
        """Every sketch_agg shape runs level 1 as ONE mapInArrow kernel
        right below the merge exchange: 0, 1 and 4 keys, salt mode (its
        own salt exchange sits below the kernel) and the size-gated
        weighted count-min pre-aggregation. Level 2 is the merge
        mapInArrow over a key sort over a REPARTITION_BY_NUM exchange
        into spark.sql.shuffle.partitions partitions (1 for 0 keys),
        for sketch_partials and sketch_rollup too — no pandas anywhere."""
        import tsv_utils_spark.plans.quantiles as Q
        from pyspark.sql import functions as F

        from tsv_utils_spark.plans import (
            SketchSpec,
            sketch_agg,
            sketch_partials,
            sketch_rollup,
        )

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        for k in ("k2", "k3", "k4"):
            li = li.withColumn(k, F.col("l_linestatus"))
        specs = [SketchSpec("hll", "l_partkey", "uc"),
                 SketchSpec("kll", "l_quantity", "q")]
        cm = [SketchSpec("cm", "l_linestatus", "m", {"finalize": "mode"})]

        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def level1(df):
            plan = df._jdf.queryExecution().executedPlan()
            if plan.nodeName() == "AdaptiveSparkPlan":
                plan = plan.initialPlan()  # exchanges already placed
            nodes = []
            while True:  # the merge is the root's left-most spine
                nodes.append(plan)
                if plan.children().isEmpty():
                    return nodes
                plan = plan.children().apply(0)

        def check(nodes, label, n_keys=1):
            spine = [n.nodeName() for n in nodes]
            assert "FlatMapGroupsInPandas" not in spine, (label, spine)
            assert "MapInPandas" not in spine, (label, spine)
            top = spine.index("MapInArrow")
            want = ["MapInArrow", "Exchange"] if n_keys == 0 else \
                ["MapInArrow", "Sort", "Exchange"]
            assert spine[top:top + len(want)] == want, (label, spine)
            ex = nodes[top + len(want) - 1]
            assert ex.shuffleOrigin().toString() == "REPARTITION_BY_NUM", \
                (label, ex.toString())
            assert ex.outputPartitioning().numPartitions() == \
                (1 if n_keys == 0 else n_shuffle), (label, ex.toString())
            below = spine[top + len(want):]
            below = [n for n in below if n != "Project"]
            assert below[0] == "MapInArrow", (label, spine)

        shapes = {
            "0 keys": sketch_agg(li, [], specs),
            "1 key": sketch_agg(li, ["l_returnflag"], specs),
            "4 keys": sketch_agg(li, ["l_returnflag", "k2", "k3", "k4"],
                                 specs),
            "salt": sketch_agg(li, ["l_returnflag"], specs, mode="salt",
                               salt_partitions=4),
        }
        old = Q.MIN_INPUT_BYTES
        try:
            Q.MIN_INPUT_BYTES = 0
            shapes["weighted cm"] = sketch_agg(li, ["l_returnflag"], cm)
        finally:
            Q.MIN_INPUT_BYTES = old
        for label, df in shapes.items():
            check(level1(df), label, n_keys=0 if label == "0 keys" else 1)
        salt = [n.nodeName() for n in level1(shapes["salt"])]
        assert salt.count("Exchange") == 2, salt
        wcm = [n.nodeName() for n in level1(shapes["weighted cm"])]
        l1 = len(wcm) - 1 - wcm[::-1].index("MapInArrow")
        assert wcm[l1 + 1] == "HashAggregate", wcm

        # the blob-table forms merge through the same kernel
        blobs = sketch_partials(li, ["l_returnflag", "l_linestatus"], specs)
        check(level1(blobs), "sketch_partials")
        for fin in (True, False):
            rolled = sketch_rollup(blobs, ["l_returnflag"], specs,
                                   finalize=fin)
            spine = [n.nodeName() for n in level1(rolled)]
            assert spine.count("MapInArrow") == 3, spine
            check(level1(rolled), f"sketch_rollup finalize={fin}")
