"""Physical-plan assertions: the scale promises in the operator docstrings,
pinned so a refactor can't silently regress them (SURVEY §4).

These parse `.explain`-style output (queryExecution.executedPlan / formatted
explain) rather than timing anything — plan shape is deterministic, timings
are not.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_f1_window_filter_pushed_to_parquet_scan(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_f1_window_events(spark, SF))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThanOrEqual(ts" in plan


def test_span_projection_prunes_parquet_columns(spark):
    # a 3-column projection of the 6-column events table must not read the
    # other columns from parquet (ReadSchema carries only what's selected)
    import __spark_entry__ as e

    plan = formatted(e.q_f1_window_events(spark, SF))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_a2_aggregation_is_partial_then_final(spark):
    # map-side combine: HashAggregate(partial) below the exchange,
    # HashAggregate(final) above — the reference's reduceByKey shape
    import __spark_entry__ as e

    plan = formatted(e.q_a2_agg_lineitem(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    # partial aggregate must appear BEFORE (deeper than) the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def _node_ids(plan: str, op: str) -> list[int]:
    import re

    return [int(m.group(1)) for m in re.finditer(rf"^\((\d+)\) {op}", plan, re.M)]


def test_linker_pipeline_has_single_span_exchange(spark):
    """The core pipeline promises ONE shuffle of span-scale data (the
    repartition by trace_key); the post-linker A2 aggregate exchanges only
    link-cardinality rows. Formatted-plan node ids are assigned bottom-up,
    so exchanges ABOVE the Python stage (link-cardinality) have larger ids."""
    import __spark_entry__ as e

    plan = formatted(e.q_dependency_links(spark, SF))
    pandas_ids = _node_ids(plan, "MapInPandas")
    assert len(pandas_ids) == 1
    exchanges = _node_ids(plan, "Exchange")
    above = [i for i in exchanges if i > pandas_ids[0]]
    assert len(above) == 1  # exactly the A2 aggregate's link-sized exchange


def _exchanges_below_kernel(df) -> list[str]:
    """→ the ``Arguments`` line of each Exchange below the plan's one
    MapInPandas (formatted-plan node ids are assigned bottom-up)."""
    import re

    plan = formatted(df)
    [kernel] = _node_ids(plan, "MapInPandas")
    args = re.findall(r"^\((\d+)\) Exchange\n(?:.*\n)*?Arguments: (.*)$", plan, re.M)
    return [a for i, a in args if int(i) < kernel]


def test_daily_job_shuffles_spans_once(spark):
    """The job the CLI runs (D1 dedupe on) moves its spans through ONE
    exchange: ``dedupe_spans`` partitions on trace_key, one of its identity
    columns, so its dropDuplicates plans no exchange of its own and the
    linker's ``repartition(trace_key)`` is removed as redundant. The
    registered replay query chains the same two operators."""
    import __spark_entry__ as e
    from zipkin_dependencies_spark.plans.job import DependencyLinksJob, JobConfig
    from zipkin_dependencies_spark.testdata import derived_spans

    # checkpointed, so the fixture's own derivation adds no exchange
    spans = derived_spans(spark, SF).localCheckpoint(eager=True)
    job = DependencyLinksJob(spark, JobConfig(day="1996-03-15", spans_path="unused"))
    [span_exchange] = _exchanges_below_kernel(job.links(spans))
    assert span_exchange.startswith("hashpartitioning(trace_key#")
    assert "REPARTITION_BY_COL" in span_exchange

    # the replay query derives its spans with a window over l_orderkey
    replayed = e.q_dedupe_replayed_links(spark, SF)
    [span_exchange] = [a for a in _exchanges_below_kernel(replayed) if "trace_key#" in a]
    assert span_exchange.startswith("hashpartitioning(trace_key#")
    assert "REPARTITION_BY_COL" in span_exchange


def _plan_nodes(plan):
    """Pre-order walk of a physical plan, stepping into query stages."""
    yield plan
    if plan.nodeName() in ("ShuffleQueryStage", "ResultQueryStage"):
        yield from _plan_nodes(plan.plan())
        return
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _repartition_exchanges(df):
    """→ [(origin, numPartitions)] of the df's user-requested exchanges."""
    plan = df._jdf.queryExecution().executedPlan().executedPlan()
    return [
        (n.shuffleOrigin().toString(), n.numPartitions())
        for n in _plan_nodes(plan)
        if n.nodeName() == "Exchange" and "REPARTITION" in n.shuffleOrigin().toString()
    ]


def test_kernel_exchanges_start_per_core_and_aqe_coalesces_them(spark):
    """Both Python kernels' span exchanges (the flagship linker's and
    trace_paths') are column-only repartitions: they start at one
    partition per core or more even when spark.sql.shuffle.partitions is
    narrower (session.get_spark's floor), and AQE coalesces them. In the
    daily job, the dedupe's and the linker's trace_key repartitions get
    the same raised width, so they still collapse into one."""
    import __spark_entry__ as e
    from zipkin_dependencies_spark.functions import normalize_spans
    from zipkin_dependencies_spark.operators.paths import trace_paths
    from zipkin_dependencies_spark.plans.job import DependencyLinksJob, JobConfig
    from zipkin_dependencies_spark.session import get_spark, scoped_conf
    from zipkin_dependencies_spark.testdata import derived_spans

    cores = spark.sparkContext.defaultParallelism
    narrow = max(1, cores // 2)
    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(narrow)}):
        try:
            # re-applies the factory's settings to the running session
            assert get_spark(shuffle_partitions=narrow) is spark
            job = DependencyLinksJob(spark, JobConfig(day="1996-03-15", spans_path="unused"))
            for df in (
                e.q_dependency_links(spark, SF),
                trace_paths(normalize_spans(derived_spans(spark, SF))),
                job.links(derived_spans(spark, SF)),
            ):
                [(origin, width)] = _repartition_exchanges(df)
                assert origin == "REPARTITION_BY_COL"
                assert width >= cores
                df.collect()
                final = df._jdf.queryExecution().executedPlan().executedPlan()
                reads = [
                    n for n in _plan_nodes(final)
                    if n.nodeName() == "AQEShuffleRead"
                    and n.child().plan().shuffleOrigin().toString() == origin
                ]
                assert len(reads) == 1 and reads[0].isCoalescedRead()
        finally:
            spark.conf.unset(initial)


def test_sessionize_reuses_one_user_exchange(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_sessionize_events(spark, SF))
    # lag window + running-sum window + final aggregate all partition by
    # user_id: Catalyst plans ONE hashpartitioning exchange on user_id
    assert len(_node_ids(plan, "Exchange")) == 1
    assert plan.count("Window") >= 2


def test_sampling_is_scan_side_filter_no_shuffle(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_hash_sample(spark, SF))
    assert "Exchange" not in plan  # pure filter: no exchange at all


def test_cosine_topk_broadcasts_queries_not_corpus(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_cosine_topk(spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_dependency_links_whole_stage_codegen_on_relational_stages(spark):
    import __spark_entry__ as e

    df = e.q_a2_agg_lineitem(spark, SF)
    df.collect()  # AQE exposes codegen subtrees only in the executed plan
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen subtrees" in codegen
    assert not codegen.startswith("Found 0 WholeStageCodegen")


def test_curation_pipeline_is_one_plan_one_exchange(spark):
    # quality/language gates inline into the scan; the keep-best window's
    # fingerprint exchange is the ONLY shuffle; sampling filters above it
    import __spark_entry__ as e

    plan = formatted(e.q_curation_pipeline(spark, SF))
    assert len(_node_ids(plan, "Exchange")) == 1

def test_near_dup_clusters_lsh_has_no_fullcorpus_shingle_selfjoin(spark):
    """The 100 TB guarantee of the LSH-routed near-dup pipeline: shingles are
    never a join key (no exploded-shingle self-join anywhere in the plan —
    a hot shingle can't quadratic-blow-up a bucket); the exact Jaccard runs
    as array_intersect on candidate pairs only. The exact twin keeps the
    explode-join by design — asserted too, so the marker stays honest."""
    from zipkin_dependencies_spark.llm.cluster import lsh_verified_pairs
    from zipkin_dependencies_spark.llm.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(0, "some text about sparks"), (1, "some text about sparks")],
        "doc_id long, text string",
    )
    lsh_plan = formatted(lsh_verified_pairs(docs, k=3, threshold=0.5))
    assert "explode(shingles" not in lsh_plan
    assert "array_intersect" in lsh_plan

    exact_plan = formatted(ngram_jaccard_pairs(docs, k=3, threshold=0.5))
    assert "explode(shingles" in exact_plan

def test_heavy_discovery_samples_not_full_scan(spark):
    """The heavy-key pre-pass aggregates a SAMPLE, not the full span table:
    the discovery plan has a Sample node under its aggregate — at 100 TB a
    second full span-scale aggregation just to find a handful of skewed
    keys is the bug, not the feature."""
    from zipkin_dependencies_spark.functions import normalize_spans
    from zipkin_dependencies_spark.operators.link import _heavy_trace_keys
    from zipkin_dependencies_spark.testdata import derived_spans

    df = _heavy_trace_keys(normalize_spans(derived_spans(spark, SF)), 100)
    plan = formatted(df)
    assert "Sample" in plan
    assert plan.index("HashAggregate") < plan.index("Sample")

def test_decontaminate_broadcasts_benchmark_no_corpus_shuffle(spark):
    """The 100 TB contract of decontamination: the benchmark digest set is
    broadcast and the training corpus is never exchanged — the overlap join
    runs scan-side. The only exchange in the plan is the per-doc hit
    aggregation (doc-id cardinality), never a corpus-side repartition."""
    import __spark_entry__ as e

    plan = formatted(e.q_decontaminate(spark, SF))
    assert "BroadcastExchange" in plan


def test_repetition_score_is_pure_projection(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_repetition_score(spark, SF))
    assert "Exchange" not in plan

def test_curation_v2_broadcasts_contamination_never_corpus(spark):
    """curate_v2's composition promise: the scrub + three gates inline into
    the scan; the benchmark digest set and the contaminated-id set join in
    as broadcasts; only the decontamination hit-count and the keep-best
    window exchange data — corpus-scale repartitions stay out of the plan."""
    import __spark_entry__ as e

    plan = formatted(e.q_curation_pipeline_v2(spark, SF))
    assert "BroadcastExchange" in plan
    # budget: two round-robin parallelism floors feeding the scrub kernels,
    # the decontamination hit-count agg, and the keep-best window — a
    # bounded handful, not one per pipeline "step"
    # budget: three scrub-stage parallelism floors (gated ×2 branches +
    # benchmark), the hit-count agg, the keep-best window
    assert len(_node_ids(plan, "Exchange")) <= 6
    assert plan.count("RoundRobinPartitioning") <= 3


def test_asof_join_single_key_exchange(spark):
    """The as-of join is the union+window decomposition: exactly one
    Exchange (hash by the join key), never a nested-loop inequality join."""
    import __spark_entry__ as e

    plan = formatted(e.q_asof_attribution(spark, SF))
    assert len(_node_ids(plan, "Exchange")) == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_gate_broadcasts_threshold_no_corpus_shuffle(spark):
    """The percentile threshold joins back as a BROADCAST; the documents
    scan is never hash-exchanged — the only shuffle is the tiny
    (source, score) threshold aggregate."""
    import __spark_entry__ as e

    plan = formatted(e.q_quantile_gate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert len(_node_ids(plan, "Exchange")) == 1


def test_label_centroids_partial_agg_before_exchange(spark):
    """The posexplode never reaches the wire: HashAggregate(partial) sits
    below the single (label, i) exchange."""
    import __spark_entry__ as e

    plan = formatted(e.q_label_centroids(spark, SF))
    agg_ids = _node_ids(plan, "HashAggregate")
    (ex_id,) = _node_ids(plan, "Exchange")
    assert min(agg_ids) < ex_id < max(agg_ids)  # partial below, final above
    assert "partial_" in plan


def test_funnel_and_transitions_single_user_exchange(spark):
    import __spark_entry__ as e

    for q in (e.q_funnel_events, e.q_event_transitions):
        plan = formatted(q(spark, SF))
        assert len(_node_ids(plan, "Exchange")) <= 2  # user (+tiny agg)


def test_window_anomalies_broadcasts_stats(spark):
    """Per-type stats join back broadcast; counts aggregate is map-side
    combined."""
    import __spark_entry__ as e

    plan = formatted(e.q_window_anomalies(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_q5_join_chain_broadcasts_dimensions(spark):
    """The six-table Q5 analog plans every dimension join as a broadcast
    hash join at test scale — no sort-merge exchange of the fact table for
    dimension lookups."""
    import __spark_entry__ as e

    df = e.q_local_supplier_volume(spark, SF)
    df.count()  # AQE-final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bin-bucketed range join must plan as an equi-join (hash join on
    the bin key) — never BroadcastNestedLoopJoin or CartesianProduct, the
    default physical strategies for pure inequality predicates."""
    import __spark_entry__ as e

    plan = formatted(e.q_incident_range_join(spark, SF))
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the deliberate ONE-ROW stats
    # broadcast (the above-average threshold); the data-scale points ×
    # incidents join must be a hash equi-join on the bin key
    assert len(_node_ids(plan, "BroadcastNestedLoopJoin")) <= 1
    hash_joins = (
        _node_ids(plan, "BroadcastHashJoin")
        + _node_ids(plan, "ShuffledHashJoin")
        + _node_ids(plan, "SortMergeJoin")
    )
    assert len(hash_joins) >= 1


def test_collapse_bursts_single_exchange(spark):
    """lag + running-sum numbering + the burst aggregate all share ONE
    (user, type) hash exchange."""
    import __spark_entry__ as e

    plan = formatted(e.q_collapse_bursts(spark, SF))
    assert len(_node_ids(plan, "Exchange")) == 1
    # ...and the burst aggregate reuses that same partitioning: the
    # partial/final HashAggregate pair has NO exchange between them


def test_inverted_index_partial_agg_and_no_occurrence_shuffle(spark):
    """The (token, doc) distinct and the postings aggregate both hash —
    the exchanges carry distinct pairs, and partial aggregation runs below
    the exchange (vocabulary-cardinality shuffle, not token occurrences)."""
    import __spark_entry__ as e

    plan = formatted(e.q_inverted_index(spark, SF))
    assert "partial" in plan  # map-side combine before the exchange
    assert "SortMergeJoin" not in plan  # no join at all in this pipeline


def test_mixing_plan_single_aggregate_no_join(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_mixing_plan(spark, SF))
    assert len(_node_ids(plan, "Exchange")) == 1  # one (source) hash agg
    assert len(_node_ids(plan, r"\S*Join\S*")) == 0


def test_trace_paths_joins_are_narrow_and_bounded(spark):
    """The path build is one trace_key exchange and one mapInPandas chain
    walk — no CartesianProduct, no nested-loop join anywhere, and the
    top-k is TakeOrdered (no global sort of the counts)."""
    import __spark_entry__ as e

    plan = formatted(e.q_top_trace_paths(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q3_q7_analogs_broadcast_dimensions(spark):
    """Q3: the filtered BUILDING customer side broadcasts; Q7: all four
    dimension chains broadcast — lineitem is the only probe side, zero
    sort-merge joins, and Q3's top-10 plans as TakeOrdered."""
    import __spark_entry__ as e

    q3 = formatted(e.q_shipping_priority(spark, SF))
    assert "SortMergeJoin" not in q3
    assert "TakeOrderedAndProject" in q3
    q7 = formatted(e.q_nation_volume_pairs(spark, SF))
    assert "SortMergeJoin" not in q7
    assert len(_node_ids(q7, "BroadcastHashJoin")) >= 4


def test_quality_gates_are_scan_side_projections(spark):
    """Gopher rules and the C4 line filter are pure per-row projections:
    zero exchanges, zero joins — a Scan + Project plan. (The array-lambda
    expressions evaluate JVM-side but outside whole-stage codegen —
    Spark's higher-order functions don't codegen; what matters is that
    nothing crosses to Python and nothing shuffles.) ReadSchema must
    prune to (doc_id, text)."""
    import __spark_entry__ as e

    for q in (e.q_gopher_quality, e.q_c4_line_filter):
        plan = formatted(q(spark, SF))
        assert len(_node_ids(plan, "Exchange")) == 0, plan
        assert len(_node_ids(plan, r"\S*Join\S*")) == 0
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
        assert "lang" not in read_schema and "source" not in read_schema


def test_doc_length_histogram_partial_agg_one_exchange(spark):
    """The histogram shuffles only (source, bucket) pairs: one exchange
    with a partial HashAggregate below it."""
    import __spark_entry__ as e

    plan = formatted(e.q_doc_length_histogram(spark, SF))
    assert len(_node_ids(plan, "Exchange")) == 1
    assert plan.count("HashAggregate") >= 2


def test_zipf_fit_no_global_rank_sort(spark):
    """Rank assignment must come from the broadcast frequency-histogram
    offsets + per-frequency partitioned windows — never a single-partition
    window over the whole vocabulary (Exchange SinglePartition feeding a
    vocabulary-scale Window)."""
    import __spark_entry__ as e

    plan = formatted(e.q_zipf_fit(spark, SF))
    # the only SinglePartition exchanges allowed are the tiny frequency
    # histogram's offset window and the final one-row aggregate; the
    # vocabulary-side window must be hash-partitioned on freq
    assert "partitioning=[freq" in plan.replace(" ", "") or (
        "hashpartitioning(freq" in plan
    ), plan
    assert "BroadcastExchange" in plan  # offsets broadcast back


def test_returned_item_customers_broadcasts_nation_takeordered(spark):
    import __spark_entry__ as e

    plan = formatted(e.q_returned_item_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert len(_node_ids(plan, "BroadcastHashJoin")) >= 1
    assert "CartesianProduct" not in plan


def test_plan_snapshot_regenerates(spark, tmp_path):
    """PLANS.md stays regenerable: the snapshot writer produces a section
    per query with a non-trivial formatted plan (plan construction only —
    nothing executes)."""
    from zipkin_dependencies_spark.plans.snapshot import (
        SNAPSHOT_QUERIES,
        write_plan_snapshot,
    )

    out = str(tmp_path / "PLANS.md")
    write_plan_snapshot(out, sf_dir=SF)
    text = open(out).read()
    for name in SNAPSHOT_QUERIES:
        assert f"## `{name}`" in text
    assert text.count("== Physical Plan ==") == len(SNAPSHOT_QUERIES)


def test_graph_and_having_analogs_plan_shapes(spark):
    """Triangles/clustering: links-cardinality self-joins, never a
    cartesian product. Q18 analog: the HAVING aggregate filters BELOW
    the customer/orders joins (the aggregate's Exchange id is smaller —
    deeper — than every join's), so only rare big orders reach them."""
    import __spark_entry__ as e

    for q in (e.q_service_triangles, e.q_service_clustering):
        plan = formatted(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    plan = formatted(e.q_large_volume_customers(spark, SF))
    agg_ids = _node_ids(plan, "HashAggregate")
    join_ids = _node_ids(plan, r"\S*Join\S*")
    assert agg_ids and join_ids and min(agg_ids) < min(join_ids), plan
    assert "TakeOrderedAndProject" in plan

    semi = formatted(e.q_priority_return_orders(spark, SF))
    assert "LeftSemi" in semi
    anti = formatted(e.q_customers_without_orders(spark, SF))
    assert "LeftAnti" in anti


def test_q11_q12_q20_analog_plan_shapes(spark):
    """Q11 analog: dims + the 25-row national total broadcast — lineitem
    is the only probe side, no sort-merge join. Q12 analog: the ship-date
    window reaches the lineitem scan as a pushed filter (partition-prunable
    at 100 TB), and the lateness test does NOT block the join from being
    planned hash-side. Q20 analog: the part-cardinality totals broadcast
    back; no cartesian anywhere in the chain."""
    import __spark_entry__ as e

    q11 = formatted(e.q_important_part_share(spark, SF))
    assert "SortMergeJoin" not in q11
    assert len(_node_ids(q11, "BroadcastHashJoin")) >= 3

    q12 = formatted(e.q_late_shipment_priority(spark, SF))
    pushed = [l for l in q12.splitlines() if "PushedFilters" in l]
    assert any("1998" in l for l in pushed), q12
    assert "CartesianProduct" not in q12

    q20 = formatted(e.q_dominant_part_suppliers(spark, SF))
    assert "CartesianProduct" not in q20
    assert "BroadcastNestedLoopJoin" not in q20
    assert len(_node_ids(q20, "BroadcastHashJoin")) >= 3


def test_quality_classifier_is_scan_side_single_aggregate(spark):
    """The hashed classifier's docstring claim: text collapses to one
    integer sum per doc inside the scan stage — exactly one Exchange
    (the doc-key aggregate), no join, no window."""
    import __spark_entry__ as e

    plan = formatted(e.q_quality_classifier(spark, SF))
    assert plan.count("Exchange") <= 2  # partial->final agg exchange only
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_bloom_dedupe_broadcasts_filter_never_shuffles_delta(spark):
    """Bloom membership's plan promise: the store collapses to a
    broadcast position set; the delta's verdict join is broadcast,
    never a shuffled (sort-merge) join."""
    import __spark_entry__ as e

    plan = formatted(e.q_bloom_dedupe(spark, SF))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_hashed_embeddings_single_doc_exchange(spark):
    """Feature hashing's plan promise: the token explode never reaches
    the wire — the only exchange carries (doc, 16 cells) aggregate
    state (partial then final), and there is no join."""
    import __spark_entry__ as e

    plan = formatted(e.q_hashed_embeddings(spark, SF))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_zorder_layout_no_join_no_window(spark):
    """Layout audit: pure per-row bit math + a file-cardinality
    aggregate per layout — no join, no window anywhere."""
    import __spark_entry__ as e

    plan = formatted(e.q_zorder_layout(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan


def test_pareto_frontier_windows_are_bucket_bounded(spark):
    """The skyline's plan promise: its Window operators partition by
    the cost bucket (never a global single-partition window), and the
    per-bucket offset table joins in as a broadcast."""
    import __spark_entry__ as e

    plan = formatted(e.q_pareto_frontier(spark, SF))
    assert "Window" in plan
    assert "__bkt" in plan  # bucket key reaches the window partitioning
    assert "BroadcastExchange" in plan


def test_cdc_merge_compaction_is_hash_aggregate_not_window(spark):
    """Latest-wins compaction must be the max_by hash aggregate, not a
    row_number window sort (the Spark-side contract; the oracle is
    allowed the window)."""
    import __spark_entry__ as e

    plan = formatted(e.q_cdc_merge(spark, SF))
    assert "Window" not in plan
    assert "max_by" in plan or "HashAggregate" in plan


def test_aqp_sample_predicate_is_scan_side(spark):
    """The AQP sample must be a filter under the aggregate — no join
    between the sample and exact sides beyond the final 5-row merge
    (both sides are aggregates of the same scan)."""
    import __spark_entry__ as e

    plan = formatted(e.q_aqp_group_means(spark, SF))
    # the only join merges two group-cardinality aggregates
    assert plan.count("SortMergeJoin") <= 1


def test_prefix_filter_candidate_aggregate_is_hash_not_sort(spark):
    """The r08 positional filter's pair aggregate runs on the candidate
    join output — the single widest stage in the plan (91M rows at
    sf0.1). Packing (rn_a, rn_b) into one bigint keeps it a
    HashAggregate with a map-side partial; a max(struct) would force
    SortAggregate + a full Sort of that stage. Also pins (r10 shape):
    the probe-prefix frame is MATERIALIZED once (localCheckpoint — its
    t·n ceiling runs at checkpoint build, so both join sides read
    `Scan ExistingRDD` instead of re-running the explode → frequency →
    window pipeline per side), the index side re-filters it with the
    tighter 2t/(1+t)·n ceiling, and the positional filter survives
    optimization (least(...) >= CEIL above the aggregate)."""
    from zipkin_dependencies_spark.llm.dedup import prefix_filter_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = formatted(prefix_filter_pairs(docs, k=3, threshold=0.6))
    assert "SortAggregate" not in plan
    assert plan.count("partial_max") >= 1  # map-side combine on the pair agg
    # the candidate self-join reads the materialized probe frame on both
    # sides — no duplicated upstream pipeline in the candidate plan (the
    # scans/windows ran once, at checkpoint build)
    assert plan.count("Scan ExistingRDD") >= 2
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    # index ⊆ probe: the index side's re-filter applies its own ceiling
    import re

    refilter = [
        b for b in plan.split("\n\n")
        if b.lstrip().startswith("(")
        and "Filter" in b.split("\n")[0]
        and b.count("CEIL(round(") >= 1
    ]
    assert refilter, "index-side prefix-ceiling re-filter not found"
    # positional filter: m + least(suffixes) >= alpha
    assert re.search(r"least\(.*\)\s*.*>=\s*CEIL", plan) or "least" in plan


def test_bpe_pair_stage_hash_agg_and_takeordered_argmax(spark):
    """BPE's per-round pair stage must be a map-side-combined HashAggregate
    (partial_sum below the pair exchange), and the argmax must plan as
    TakeOrderedAndProject — per-partition top-1, never a global Sort."""
    from zipkin_dependencies_spark.llm.bpe import EOW, pair_counts

    vocab = spark.createDataFrame(
        [(3, ["l", "o", "w", EOW]), (2, ["n", "e", "w", EOW])],
        "wc long, syms array<string>",
    )
    pairs = pair_counts(vocab)
    argmax = pairs.orderBy(
        F.col("pair_count").desc(), "left_sym", "right_sym"
    ).limit(1)
    plan = formatted(argmax)
    assert "TakeOrderedAndProject" in plan
    assert "SortAggregate" not in plan
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_ks_drift_no_datascale_single_partition_window(spark):
    """Both ECDF running sums must ride the bucket-partitioned window of
    the two-phase prefix sum (hashpartitioning on __bkt) with the offset
    and totals tables broadcast — never a single-partition window over the
    distinct-value table."""
    import __spark_entry__ as e

    plan = formatted(e.q_ks_drift(spark, SF))
    assert "hashpartitioning(__bkt" in plan, plan
    assert "BroadcastExchange" in plan
    # both ECDF running sums share ONE Window node (same frame, same
    # projection — interleaved Projects would split it into two passes)
    head = plan.split("\n\n")[0]
    assert head.count("Window (") == 1, head
    # the only SinglePartition exchange allowed is the final 1-row agg
    import re

    windows = [
        b for b in plan.split("\n\n") if b.lstrip().startswith("(")
        and b.split("\n")[0].strip().endswith("Window")
    ]
    assert not any("SinglePartition" in b for b in windows)


def test_url_domain_dedup_jvm_only_no_single_partition_window(spark):
    """llm/urls.py scale promises: canonicalization + domain extraction
    are pure JVM string expressions (no Python eval node anywhere), and
    both dedup windows are PARTITIONED (canonical_url / registered
    domain) — never a single-partition global window."""
    import __spark_entry__ as e

    plan = formatted(e.q_url_domain_dedup(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_exact_substr_any_windows_doc_partitioned(spark):
    """scope='any' inherits the cross_doc plan shape: island windows are
    doc-partitioned (no single-partition window), no Python eval."""
    import __spark_entry__ as e

    plan = formatted(e.q_exact_substr_spans_all(spark, SF))
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_encode_stays_jvm_side(spark):
    """bpe_encode's folds/join/reassembly are all JVM expressions — no
    Python eval node; the merge table is driver state, not a joined
    corpus-side frame of folds."""
    import __spark_entry__ as e

    plan = formatted(e.q_bpe_encode(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_domain_dedup_window_group_limit_trims_map_side(spark):
    """The grouped top-k rank filters plan as WindowGroupLimit
    Partial -> Exchange -> Final: map tasks trim to their local top-k
    BEFORE the shuffle, so a mega-domain never ships its page count
    through the exchange (llm/urls.py scale note)."""
    import __spark_entry__ as e

    plan = formatted(e.q_url_domain_dedup(spark, SF))
    assert plan.count("WindowGroupLimit") >= 4  # partial+final x 2 stages


def test_bpe_roundtrip_jvm_side_no_single_partition_window(spark):
    """bpe_encode_ids: folds/joins/reassembly/decode are all JVM
    expressions (no Python eval), and id assignment uses the two-phase
    distributed rank — no single-partition window even on the
    alphabet-bounded symbol table (plan uniformity)."""
    import __spark_entry__ as e

    plan = formatted(e.q_bpe_roundtrip(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_corpus_line_dedup_digest_shuffle_jvm_only(spark):
    """corpus_line_dedup: explode/trim/digest are scan-local codegen;
    the frequency aggregate + membership join + doc reassembly plan
    with no Python eval node and no single-partition window."""
    import __spark_entry__ as e

    plan = formatted(e.q_corpus_line_dedup(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_simhash_band_candidates_no_single_partition(spark):
    """Banding explode + (band, band_key) self-join + popcount verify:
    no single-partition exchange/window anywhere; the only Python node
    is the declared Arrow-batched simhash kernel."""
    import __spark_entry__ as e

    plan = formatted(e.q_simhash_band_candidates(spark, SF))
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time path stays out


def test_url_domain_token_cap_keeps_trim_and_reuses_exchange(spark):
    """The token-budget variant keeps the rank stage's map-side
    WindowGroupLimit trim (the mega-domain skew answer: the running sum
    only windows over ≤cap rank survivors), stays JVM-side, never plans
    a single-partition window, and the running-sum window REUSES the
    rank window's exchange — exactly one exchange keyed on the
    registered domain, not two."""
    import __spark_entry__ as e

    plan = formatted(e.q_url_domain_token_cap(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("WindowGroupLimit") >= 4  # partial+final x 2 stages
    # exactly TWO shuffles end to end: one for the canonical-url window,
    # one for the domain windows — the rank filter and the running sum
    # share partitioning AND sort order, so Catalyst plans the second
    # Window on the first's exchange instead of re-shuffling
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, plan


def test_training_order_no_single_partition_window(spark):
    """The global shuffle rank is the two-phase distributed row_number:
    no single-partition exchange/window anywhere in the plan (the naive
    ORDER BY hash window the DuckDB twin runs would show one)."""
    import __spark_entry__ as e

    plan = formatted(e.q_training_order(spark, SF))
    assert "SinglePartition" not in plan


def test_url_token_cap_carryover_keeps_trim_and_joins_after_rank(spark):
    """Cross-epoch carryover: the token-cap skeleton keeps its map-side
    WindowGroupLimit trims and two domain-keyed exchanges per epoch
    pipeline; the state join stays JVM-side (no Python eval, no
    single-partition window) and joins AFTER the rank filter — the plan
    shows a join whose streamed side already carries the rank filter
    (domain_rank <= cap), never a corpus-sized join below the windows."""
    import __spark_entry__ as e

    plan = formatted(e.q_url_token_cap_carryover(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan
    # both epoch pipelines keep the rank trim (partial+final x 2 stages
    # each; epoch-1 feeds the state aggregate, epoch-2 the output)
    assert plan.count("WindowGroupLimit") >= 8


def test_unimax_plan_one_corpus_exchange_dims_sized_windows(spark):
    """UniMax: the corpus pays exactly one map-side-combined token-count
    aggregate; every window (rank, prefix, boundary min/max) runs on the
    |sources|-row aggregate — the single-partition frames there are
    dims-sized by construction (the temperature_resample precedent), so
    the pin is JVM-only + partial aggregation pushed before the source
    exchange."""
    import re

    import __spark_entry__ as e

    plan = formatted(e.q_unimax_plan(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial (map-side) token-count aggregate before the source shuffle
    assert "partial_sum" in plan or "HashAggregate" in plan
    # exactly ONE exchange carries corpus-derived rows (the groupBy
    # source); the window stack's single-partition exchange moves only
    # the |sources|-row frame
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(source", plan)
    assert len(hash_exchanges) <= 1, plan


def test_exact_substr_cut_doc_partitioned_jvm_only(spark):
    """exact_substr_cut: digest-only dup shuffle, the as-of coverage
    window and the reassembly are doc-partitioned (no single-partition
    window), and everything is JVM expressions (no Python eval)."""
    import __spark_entry__ as e

    plan = formatted(e.q_exact_substr_cut(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_memo_family_membership_matches_wiring():
    """tools/gen_floors.py FAMILIES (the family-total floor groups) must
    track the actual memo wiring in __spark_entry__.py: a consumer added
    to or removed from a shared memo without updating FAMILIES would make
    the family floor compare unlike totals (r11, VERDICT r10 #5)."""
    import importlib.util
    import inspect
    import os
    import re

    import __spark_entry__ as e

    spec = importlib.util.spec_from_file_location(
        "gen_floors",
        os.path.join(os.path.dirname(__file__), "..", "tools", "gen_floors.py"),
    )
    gf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gf)

    markers = {
        "links_memo": "_links_table(spark",
        "part_edges_memo": "_part_edges_table(spark",
        "path_memo": '"spans_paths")',
        "bpe_merges_memo": '"bpe_merges")',
    }
    assert set(markers) == set(gf.FAMILIES)
    for fam, marker in markers.items():
        wired = set()
        for name, fn in e.queries().items():
            if marker in inspect.getsource(fn):
                wired.add(name)
        assert wired == set(gf.FAMILIES[fam]), (
            f"{fam}: FAMILIES={sorted(gf.FAMILIES[fam])} but wiring says "
            f"{sorted(wired)}"
        )


def test_json_decode_parses_each_doc_once(spark):
    # spans_from_json_strings wraps the parse input in a value-identity
    # nondeterministic expression so the null-filter can't be pushed below
    # the parse projection (guide §4.4 duplicate evaluation: pushed down,
    # the full-schema from_json is inlined per predicate reference and the
    # doc is parsed ~3x — measured 0.54 s -> 2.01 s on the 150k-doc noop).
    # Pin: the whole plan carries exactly ONE from_json occurrence.
    import __spark_entry__ as e

    plan = formatted(e.q_json_spans_decode(spark, SF))
    assert plan.count("from_json") == 1, plan


def test_json_doc_generation_not_single_task(spark):
    # _corrupted_span_docs / json_spans_decode / derived_v1_tables annos:
    # the single-row-group fixture parquet scans as one task, and these
    # pipelines do their expensive generation/decode work BEFORE any other
    # exchange — a guarded round-robin repartition right after the read
    # keeps the chain parallel (guide §2.5 input-skew rule). Pin the
    # repartition is present (and disappears only when the scan is already
    # wide enough, which this fixture's files never are).
    import __spark_entry__ as e
    from zipkin_dependencies_spark.testdata import derived_v1_tables

    for df in (
        e._corrupted_span_docs(spark, SF),
        e.q_json_spans_decode(spark, SF),
        derived_v1_tables(spark, SF)[1],
    ):
        assert "RoundRobinPartitioning" in formatted(df)
