"""Heavy-trace skew stress (the reference's ITDependenciesHeavy analog,
cassandra3/.../ITCassandraDependenciesHeavy.java:17-31): one trace holding the
majority of all spans must link correctly on the kernel path and on the
two-phase route, and both must agree."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

HEAVY_SPANS = 20_000
LIGHT_TRACES = 50


@pytest.fixture(scope="module")
def skewed_spans(spark):
    """One giant flat trace (root + N-1 children calling svc-a→svc-b) plus
    light two-span traces, in LINK_INPUT_SCHEMA shape."""
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    heavy = spark.range(HEAVY_SPANS).select(
        F.lit("t-heavy").alias("trace_key"),
        F.when(F.col("id") > 0, F.lit("r")).alias("parent_id"),
        F.when(F.col("id") == 0, F.lit("r"))
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("id"),
        F.when(F.col("id") == 0, F.lit("SERVER")).otherwise(F.lit("CLIENT")).alias("kind"),
        F.lit("svc-a").alias("local_service"),
        F.when(F.col("id") > 0, F.lit("svc-b")).alias("remote_service"),
        F.lit(False).alias("shared"),
        (F.col("id") % 100 == 1).alias("is_error"),
        F.lit(1_000_000).alias("timestamp"),
    )
    light = spark.range(LIGHT_TRACES).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("trace_key"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("r").alias("id"),
        F.lit("SERVER").alias("kind"),
        F.concat(F.lit("svc-"), (F.col("id") % 3).cast("string")).alias("local_service"),
        F.lit("gw").alias("remote_service"),
        F.lit(False).alias("shared"),
        F.lit(False).alias("is_error"),
        F.lit(1_000_000).alias("timestamp"),
    )
    df = heavy.unionByName(light)
    return spark.createDataFrame(df.collect(), schema=LINK_INPUT_SCHEMA).cache()


def _links(df):
    return {tuple(r) for r in df.collect()}


def test_heavy_trace_links_correctly(spark, skewed_spans):
    from zipkin_dependencies_spark.operators.link import links_from_spans

    links = _links(links_from_spans(skewed_spans))
    # giant trace: N-1 client spans svc-a→svc-b, every 100th an error
    assert ("svc-a", "svc-b", HEAVY_SPANS - 1, (HEAVY_SPANS - 1) // 100 + 1) in links or (
        "svc-a",
        "svc-b",
        HEAVY_SPANS - 1,
        sum(1 for i in range(1, HEAVY_SPANS) if i % 100 == 1),
    ) in links
    # light traces: gw→svc-{0,1,2}
    gw = {(p, c, n, e) for (p, c, n, e) in links if p == "gw"}
    assert sum(n for _, _, n, _ in gw) == LIGHT_TRACES


def test_heavy_trace_at_bench_scale_completes(spark):
    """BASELINE.md skew gate: a single trace holding sf0.1-scale span volume
    (300k spans, >50% of a day) links correctly in one task without OOM —
    exact expected links are known by construction. Generated JVM-side
    (spark.range), never collected to the driver."""
    from zipkin_dependencies_spark.operators.link import links_from_spans

    n = 300_000
    heavy = spark.range(n).select(
        F.lit("t-mega").alias("trace_key"),
        F.when(F.col("id") > 0, F.lit("r")).alias("parent_id"),
        F.when(F.col("id") == 0, F.lit("r"))
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("id"),
        F.when(F.col("id") == 0, F.lit("SERVER")).otherwise(F.lit("CLIENT")).alias("kind"),
        F.lit("svc-a").alias("local_service"),
        F.when(F.col("id") == 0, F.lit("gw")).otherwise(F.lit("svc-b")).alias("remote_service"),
        F.lit(False).alias("shared"),
        (F.col("id") % 100 == 1).alias("is_error"),
        F.lit(1_000_000).alias("timestamp"),
    )
    got = {tuple(r) for r in links_from_spans(heavy).collect()}
    assert got == {
        ("gw", "svc-a", 1, 0),                       # the root's inbound call
        ("svc-a", "svc-b", n - 1, (n - 2) // 100 + 1),  # children; errors at ids 1,101,…
    }

def test_heavy_trace_keys_finds_exactly_the_giant(spark, skewed_spans):
    """The sampled heavy-key pre-pass returns the fixture's one giant trace
    and none of its light traces."""
    from zipkin_dependencies_spark.operators.link import _heavy_trace_keys

    keys = _heavy_trace_keys(skewed_spans, 1_000).collect()
    assert [tuple(r) for r in keys] == [("t-heavy",)]

def test_two_phase_giant_trace_matches_kernel_and_splits(spark, skewed_spans):
    """SURVEY §4's custom scale piece: a single trace dominating the corpus
    links through the two-phase route (relational subtree phase + global
    merge) with the SAME links the kernel path emits, and the giant trace's
    per-span work is genuinely spread across ≥2 tasks (the whole point —
    the kernel path leaves a 10^8-span trace on one core)."""
    from zipkin_dependencies_spark.operators.link import (
        links_from_spans,
        links_from_spans_two_phase,
    )

    base = _links(links_from_spans(skewed_spans))
    two_phase = _links(
        links_from_spans_two_phase(skewed_spans, giant_over=1_000)
    )
    assert two_phase == base

    # the giant trace's parent-resolution stage spreads across tasks
    from zipkin_dependencies_spark.operators.link_relational import (
        _keyed,
        _resolved_parents,
    )

    giant_only = skewed_spans.filter(F.col("trace_key") == "t-heavy")
    # at fixture scale AQE's byte-based coalescing folds the tiny shuffle
    # back to one partition (correct behavior — it sizes by bytes, and 20k
    # narrow rows are nothing); switch it off for the probe so the assertion
    # sees the STRUCTURAL parallelism a 10^8-span trace would get
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        parts = (
            _resolved_parents(_keyed(giant_only))
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert parts >= 2


def test_depth64_giant_trace_routes_relationally_and_matches_kernel(spark):
    """A DEEP giant trace (64-hop parent chain — exactly the shape the old
    depth-6 unroll exiled to the single-task kernel) must now pass E4 via
    the pointer-doubling walk and link on the relational path, byte-equal
    to the kernel; depth just past the bound must still route to the
    kernel and stay correct."""
    from zipkin_dependencies_spark.operators.link import links_from_spans
    from zipkin_dependencies_spark.operators.link_relational import (
        eligible_trace_keys,
        links_from_spans_hybrid,
        trace_links_relational,
    )
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    def chain(tk: str, depth: int):
        rows = [(tk, None, "n0", "SERVER", "svc0", "gw", False, False, 1)]
        for i in range(1, depth + 1):
            rows.append(
                (
                    tk, f"n{i-1}", f"n{i}", "SERVER",
                    f"svc{i}", f"svc{i-1}", False, i % 7 == 0, 1,
                )
            )
        return rows

    deep = spark.createDataFrame(chain("t-deep", 64), schema=LINK_INPUT_SCHEMA)
    assert [r.trace_key for r in eligible_trace_keys(deep).collect()] == ["t-deep"]

    got = sorted(
        tuple(r)
        for r in trace_links_relational(deep)
        .select("parent", "child", "call_count", "error_count")
        .collect()
    )
    want = sorted(tuple(r) for r in links_from_spans(deep).collect())
    assert got == want and len(want) == 65  # 64 chain links + root's gw link

    # past the bound (128 > MAX_DEPTH=127): E4 must reject, and the hybrid
    # must still be correct via the kernel route
    deeper = spark.createDataFrame(chain("t-deeper", 128), schema=LINK_INPUT_SCHEMA)
    assert eligible_trace_keys(deeper).count() == 0
    got_h = sorted(tuple(r) for r in links_from_spans_hybrid(deeper).collect())
    want_h = sorted(tuple(r) for r in links_from_spans(deeper).collect())
    assert got_h == want_h and len(want_h) == 129


# --- salted join (operators/salted_join.py): skew-neutralizing key
# decomposition. The contract under test is salt-INVISIBILITY: for any
# key distribution (including one hot key holding most rows) the salted
# join's multiset of result rows equals the plain join's, for every
# supported join type, with the salt machinery absent from the output.


@pytest.fixture(scope="module")
def skewed_fact_dim(spark):
    """Fact with one hot key (id 7 holds ~90% of rows, exercising salt
    spread) + keys with no dim match (id 99); dim with an unmatched row
    (id 50) and one attribute column."""
    fact = spark.range(2_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 != 0, F.lit(7))
        .otherwise(
            F.when(F.col("id") % 20 == 0, F.lit(99)).otherwise(F.col("id") % 40)
        )
        .alias("k"),
        (F.col("id") * 3 % 97).alias("v"),
    )
    dim = spark.range(41).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("grp-"), (F.col("id") % 5).cast("string")).alias("grp"),
    ).union(
        spark.range(50, 51).select(
            F.col("id").alias("dk"), F.lit("grp-none").alias("grp")
        )
    )
    return fact, dim


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_unsalted(spark, skewed_fact_dim, how):
    from zipkin_dependencies_spark.operators.salted_join import salted_join

    fact, dim = skewed_fact_dim
    plain = fact.join(dim, fact.k == dim.dk, how).select(
        "row_id", "k", "v", "dk", "grp"
    )
    salted = salted_join(
        fact, dim, big_key="k", small_key="dk", salt_from="row_id", n_salts=8,
        how=how,
    ).select("row_id", "k", "v", "dk", "grp")
    assert _rows(salted) == _rows(plain)
    # the salt never leaks into the schema
    assert "__salt" not in salted.columns


def test_salted_join_left_unmatched_survive_exactly_once(spark, skewed_fact_dim):
    """Left join: a fact key with no dim row must appear once with nulls
    — NOT k times (the k-fold dim replication must not manufacture
    matches) and NOT zero times (the salt equi-condition must not drop
    null-extension rows)."""
    from zipkin_dependencies_spark.operators.salted_join import salted_join

    fact, dim = skewed_fact_dim
    out = salted_join(
        fact, dim, big_key="k", small_key="dk", salt_from="row_id", n_salts=8,
        how="left",
    )
    unmatched = out.filter(F.col("k") == 99)
    n_99 = fact.filter(F.col("k") == 99).count()
    assert unmatched.count() == n_99
    assert unmatched.filter(F.col("grp").isNull()).count() == n_99


def test_salted_join_rejects_outer_joins(spark, skewed_fact_dim):
    from zipkin_dependencies_spark.operators.salted_join import salted_join

    fact, dim = skewed_fact_dim
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(
            fact, dim, big_key="k", small_key="dk", salt_from="row_id",
            how="right",
        )


def test_salted_join_salt_is_deterministic(spark, skewed_fact_dim):
    """Two evaluations of the same salted plan yield identical rows —
    the salt derives from row content (xxhash64), never rand(), so
    retried/speculative tasks at scale recompute the same buckets."""
    from zipkin_dependencies_spark.operators.salted_join import salted_join

    fact, dim = skewed_fact_dim
    out = salted_join(
        fact, dim, big_key="k", small_key="dk", salt_from="row_id", n_salts=8
    )
    assert _rows(out) == _rows(out)


def test_auto_salt_k_zipfian_picks_k_gt_1_and_equality_holds(spark, skewed_fact_dim):
    """auto_salt_k (the r05 manual-knob close-out): on the zipfian fixture
    (key 7 holds ~90% of 2000 rows) a 200-row/task budget derives k > 1;
    the join salted with the DERIVED k still equals the plain join
    row-for-row. A uniform key space under the same budget derives k = 1
    (no replication when there is no skew)."""
    from zipkin_dependencies_spark.operators.salted_join import (
        auto_salt_k,
        salted_join,
    )

    fact, dim = skewed_fact_dim
    k = auto_salt_k(fact, "k", target_partition_rows=200)
    assert k > 1  # hot key ~1800 rows / 200 budget -> k = 9
    plain = fact.join(dim, fact.k == dim.dk, "inner").select(
        "row_id", "k", "v", "dk", "grp"
    )
    salted = salted_join(
        fact, dim, big_key="k", small_key="dk", salt_from="row_id",
        n_salts=k, how="inner",
    ).select("row_id", "k", "v", "dk", "grp")
    assert _rows(salted) == _rows(plain)

    uniform = spark.range(2_000).select(
        F.col("id").alias("row_id"), (F.col("id") % 40).alias("k")
    )
    assert auto_salt_k(uniform, "k", target_partition_rows=200) == 1
    # max_k caps small-side replication no matter how hot the head is
    assert auto_salt_k(fact, "k", target_partition_rows=1, max_k=16) == 16
    # sampled probe still lands on a k that covers the head (scaled back)
    ks = auto_salt_k(fact, "k", target_partition_rows=200, sample_fraction=0.5)
    assert ks >= 2
