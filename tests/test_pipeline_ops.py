"""Semantic tests for the sampling / keep-best dedup / vocabulary /
sessionization operators (beyond the DuckDB hash-parity gate, which only
checks value equality on the fixture corpus)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from zipkin_dependencies_spark.llm.dedup import dedupe_keep_best
from zipkin_dependencies_spark.llm.sampling import (
    hash_sample,
    hash_split,
    stratified_hash_sample,
)
from zipkin_dependencies_spark.llm.text import top_k_tokens
from zipkin_dependencies_spark.operators.sessionize import sessionize


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=i, text=f"document number {i} with some words", lang="en", source="s")
        for i in range(200)
    ]
    return spark.createDataFrame(rows)


def test_hash_sample_deterministic_and_repartition_stable(spark, docs):
    a = sorted(r.doc_id for r in hash_sample(docs, 0.3).select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in hash_sample(docs.repartition(7), 0.3).select("doc_id").collect()
    )
    assert a == b and 0 < len(a) < 200


def test_hash_sample_fraction_monotone(spark, docs):
    small = {r.doc_id for r in hash_sample(docs, 0.1).select("doc_id").collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.5).select("doc_id").collect()}
    assert small <= big  # nested samples: growing the fraction only adds rows


def test_stratified_fractions_respected(spark):
    rows = [
        Row(doc_id=i, text="x", lang="keep" if i % 2 == 0 else "drop", source="s")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows)
    out = stratified_hash_sample(
        df, fractions={"keep": 1.0, "drop": 0.0}, strata_col="lang"
    )
    got = out.groupBy("lang").count().collect()
    assert {r.lang: r["count"] for r in got} == {"keep": 200}


def test_hash_split_partitions_the_corpus(spark, docs):
    out = hash_split(docs, weights={"train": 0.8, "val": 0.1, "test": 0.1})
    per_doc = out.groupBy("doc_id").agg(F.count_distinct("split").alias("n")).collect()
    assert all(r.n == 1 for r in per_doc)          # exactly one split each
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 200             # exhaustive
    assert counts.get("train", 0) > counts.get("val", 0)


def test_dedupe_keep_best_prefers_quality_then_id(spark):
    short = "tiny"
    good = (
        "A reasonably long sentence with plenty of alphabetic words that "
        "scores well on the alpha ratio and mean word length heuristics."
    )
    rows = [
        # same fingerprint group: identical normalized content. The padded
        # copy (doc 3) scores slightly differently (whitespace changes the
        # alpha ratio), so the exact-ties are docs 7 and 10 → min id 7 wins.
        Row(doc_id=10, text=good, lang="en", source="s"),
        Row(doc_id=3, text="  " + good + "  ", lang="en", source="s"),  # normalizes equal
        Row(doc_id=7, text=good, lang="en", source="s"),
        Row(doc_id=99, text=short, lang="en", source="s"),
    ]
    out = dedupe_keep_best(spark.createDataFrame(rows)).collect()
    by_copies = {r.n_copies: r for r in out}
    assert by_copies[3].n_copies == 3              # padding folded into the group
    assert by_copies[3].keep_id in (3, 7)          # a highest-quality member
    assert by_copies[1].keep_id == 99

    # explicit tiebreak check: all-identical texts → min doc_id survives
    same = [Row(doc_id=i, text=good, lang="en", source="s") for i in (42, 17, 33)]
    only = dedupe_keep_best(spark.createDataFrame(same)).collect()
    assert len(only) == 1 and only[0].keep_id == 17 and only[0].n_copies == 3


def test_top_k_tokens_counts_and_rank(spark):
    rows = [
        Row(doc_id=0, text="alpha alpha beta", lang="en", source="s"),
        Row(doc_id=1, text="alpha beta gamma", lang="en", source="s"),
    ]
    out = top_k_tokens(spark.createDataFrame(rows), k=2).collect()
    assert [(r.token, r.n_occurrences, r.rank) for r in out] == [
        ("alpha", 3, 1),
        ("beta", 2, 2),
    ]


def test_sessionize_splits_on_gap_and_counts_errors(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda i, secs, typ: Row(  # noqa: E731
        event_id=i, ts=t0 + dt.timedelta(seconds=secs), user_id=1,
        event_type=typ, value=0.0, props="{}",
    )
    rows = [
        mk(0, 0, "view"), mk(1, 60, "error"), mk(2, 120, "view"),   # session 1
        mk(3, 120 + 1801, "view"), mk(4, 120 + 1900, "error"),      # session 2 (gap > 30 min)
        Row(event_id=5, ts=t0, user_id=2, event_type="view", value=0.0, props="{}"),
    ]
    out = sessionize(spark.createDataFrame(rows), gap_seconds=1800).collect()
    sessions = {(r.user_id, r.session_idx): r for r in out}
    assert len(sessions) == 3
    s1 = sessions[(1, 1)]
    assert (s1.n_events, s1.n_errors) == (3, 1)
    s2 = sessions[(1, 2)]
    assert (s2.n_events, s2.n_errors) == (2, 1)
    assert s2.start_us - s1.end_us == 1801 * 1_000_000
    assert sessions[(2, 1)].n_events == 1


def test_sessionize_boundary_gap_exactly_equal_keeps_session(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_id=0, ts=t0, user_id=1, event_type="view", value=0.0, props="{}"),
        Row(event_id=1, ts=t0 + dt.timedelta(seconds=1800), user_id=1,
            event_type="view", value=0.0, props="{}"),
    ]
    out = sessionize(spark.createDataFrame(rows), gap_seconds=1800).collect()
    assert len(out) == 1 and out[0].n_events == 2  # gap == threshold ⇒ same session


def test_connected_components_chain_and_islands(spark):
    from zipkin_dependencies_spark.llm.cluster import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 iteration) + island pair 10-11
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_near_dup_clusters_groups_duplicates_and_keeps_singletons(spark):
    from pyspark.sql import Row

    from zipkin_dependencies_spark.llm.cluster import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base, lang="en", source="s"),
        Row(doc_id=2, text=base + " extra", lang="en", source="s"),   # near-dup of 1
        Row(doc_id=3, text=base + " more!", lang="en", source="s"),   # near-dup of 1/2
        Row(doc_id=4, text="completely different content here", lang="en", source="s"),
    ]
    got = {
        (r.id, r.component)
        for r in near_dup_clusters(spark.createDataFrame(rows), k=3, threshold=0.5).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4)}


def test_token_idf_values(spark):
    from math import log

    from zipkin_dependencies_spark.llm.text import token_idf

    rows = [
        Row(doc_id=0, text="alpha beta alpha", lang="en", source="s"),  # alpha df once
        Row(doc_id=1, text="alpha gamma", lang="en", source="s"),
        Row(doc_id=2, text="delta", lang="en", source="s"),
    ]
    got = {r.token: (r.df, r.idf) for r in token_idf(spark.createDataFrame(rows)).collect()}
    assert got["alpha"] == (2, round(log(3 / 2), 9))  # distinct-per-doc: df=2, not 3
    assert got["delta"] == (1, round(log(3 / 1), 9))


def test_top_docs_per_group_ranks_within_group(spark):
    from zipkin_dependencies_spark.llm.text import top_docs_per_group

    good = "a perfectly reasonable sentence with many alphabetic words in it"
    rows = [
        Row(doc_id=1, text=good, lang="en", source="s1"),
        Row(doc_id=2, text="x", lang="en", source="s1"),
        Row(doc_id=3, text="y", lang="en", source="s1"),
        Row(doc_id=4, text=good, lang="en", source="s2"),
    ]
    out = top_docs_per_group(spark.createDataFrame(rows), k=2, group_col="source")
    got = {(r.source, r.rank): r.doc_id for r in out.collect()}
    assert got[("s1", 1)] == 1          # best quality wins its group
    assert ("s1", 3) not in got         # k bounds each group
    assert got[("s2", 1)] == 4          # groups rank independently

def test_connected_components_star_matches_min_label(spark):
    """The star variant (high-diameter escape hatch) agrees with min-label
    propagation on a random graph: same (id, component) assignment."""
    import random

    from zipkin_dependencies_spark.llm.cluster import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(13)
    edges = {(rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    label = {(r.id, r.component) for r in connected_components(pairs).collect()}
    star = {(r.id, r.component) for r in connected_components_star(pairs).collect()}
    assert star == label


def test_connected_components_star_handles_long_path(spark):
    """A path of length 80 (diameter 80): min-label needs 80 rounds and
    raises at its 25-round guard; the star alternation converges in
    O(log n) rounds and labels every node with the path's minimum."""
    import pytest as _pytest

    from zipkin_dependencies_spark.llm.cluster import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs).collect()
    got = {(r.id, r.component) for r in connected_components_star(pairs).collect()}
    assert got == {(i, 0) for i in range(81)}


def test_quantile_gate_semantics(spark):
    """Global p50 keeps the top half (inclusive of the interpolated cut);
    grouped mode cuts per group; approx mode returns the same schema."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.llm.sampling import quantile_gate

    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b", float(i)) for i in range(8)],
        "id long, grp string, v double",
    )
    # global: p50 of 0..7 = 3.5 → keep 4..7
    kept = quantile_gate(df, F.col("v"), p=0.5)
    assert {r["id"] for r in kept.collect()} == {4, 5, 6, 7}
    assert kept.collect()[0]["threshold"] == 3.5
    # grouped: a's p50 = 1.5 → {2,3}; b's p50 = 5.5 → {6,7}
    grouped = quantile_gate(df, F.col("v"), p=0.5, group_col="grp")
    assert {r["id"] for r in grouped.collect()} == {2, 3, 6, 7}
    # approx path: same columns, threshold is an actual data value
    approx = quantile_gate(df, F.col("v"), p=0.5, exact=False)
    assert set(approx.columns) == set(kept.columns)
    assert approx.count() >= 4


def test_cohort_retention_discriminates(spark):
    """Synthetic two-cohort corpus: week-0 cohort loses a user by week 1;
    week-1 cohort is a singleton."""
    import datetime as dt

    from zipkin_dependencies_spark.operators.cohort import cohort_retention

    def ts(day):
        return dt.datetime(1970, 1, 1) + dt.timedelta(days=day)

    ev = spark.createDataFrame(
        [
            # users 1,2 first seen week 0 (epoch day 0-6)
            (1, ts(1)), (2, ts(2)),
            # user 1 returns week 1; user 2 does not
            (1, ts(8)),
            # user 3 first seen week 1
            (3, ts(9)),
        ],
        "user_id long, ts timestamp",
    )
    rows = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert rows == {(0, 0): 2, (0, 1): 1, (1, 0): 1}


def test_group_hash_topn_exact_n_and_deterministic(spark):
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.llm.sampling import group_hash_topn

    df = spark.createDataFrame(
        [(i, "g" + str(i % 2)) for i in range(40)], "doc_id long, grp string"
    )
    out = group_hash_topn(df, n=5, group_col="grp", key_col="doc_id")
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 5}
    # repartitioning the input must not change the sample (hash order, not
    # physical order)
    out2 = group_hash_topn(df.repartition(7), n=5, group_col="grp", key_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in out2.collect()
    )


def test_label_centroids_known_values(spark):
    from zipkin_dependencies_spark.llm.similarity import label_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7),
            (2, [0.0, 1.0], 7),
            (3, [4.0, 4.0], 8),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {(r["label"], r["i"]): (r["c"], r["n_vectors"]) for r in label_centroids(emb).collect()}
    assert rows[(7, 0)] == (0.5, 2) and rows[(7, 1)] == (0.5, 2)
    assert rows[(8, 0)] == (4.0, 1) and rows[(8, 1)] == (4.0, 1)


def test_corpus_stats_rollup_levels(spark):
    from zipkin_dependencies_spark.llm.text import corpus_stats

    docs = spark.createDataFrame(
        [
            (1, "alpha beta", "en", "web"),
            (2, "gamma delta", "en", "web"),
            (3, "epsilon", "de", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r["source"], r["lang"]): r for r in corpus_stats(docs).collect()}
    # leaf, per-source subtotal, and grand total all present from one pass
    assert rows[("web", "en")]["n_docs"] == 2
    assert rows[("web", "(all)")]["n_docs"] == 2
    assert rows[("books", "(all)")]["n_docs"] == 1
    assert rows[("(all)", "(all)")]["n_docs"] == 3
    assert rows[("(all)", "(all)")]["total_tokens"] == 5


def test_service_pagerank_sink_ranks_highest(spark):
    """Star graph a->c, b->c: the sink accumulates both sources' mass."""
    from zipkin_dependencies_spark.operators.graph import service_pagerank

    links = spark.createDataFrame(
        [("a", "c", 10, 0), ("b", "c", 5, 0)],
        "parent string, child string, call_count long, error_count long",
    )
    ranks = {r["service"]: r["rank9"] for r in service_pagerank(links).collect()}
    assert ranks["c"] > ranks["a"] == ranks["b"] > 0
    assert sum(ranks.values()) <= 1.0 + 1e-9  # no dangling redistribution


def test_trace_size_percentiles_known(spark):
    from zipkin_dependencies_spark.operators.graph import trace_size_percentiles

    spans = spark.createDataFrame(
        # svc x: trace sizes 1 and 3; svc y: size 2
        [("t1", "x"), ("t2", "x"), ("t2", "x"), ("t2", "x"),
         ("t3", "y"), ("t3", "y")],
        "trace_id string, local_service string",
    )
    rows = {r["service"]: r for r in trace_size_percentiles(spans).collect()}
    assert rows["x"]["n_traces"] == 2 and rows["x"]["p50"] == 2.0
    assert rows["x"]["max_size"] == 3
    assert rows["y"]["p50"] == 2.0 and rows["y"]["n_traces"] == 1


def test_service_reachability_min_hops(spark):
    """Chain a->b->c->d plus shortcut a->c: min-hop wins (a,c)=1; depth
    bound cuts (a,d) to 3 via the chain but min over the shortcut is 2."""
    from zipkin_dependencies_spark.operators.graph import service_reachability

    links = spark.createDataFrame(
        [("a", "b", 1, 0), ("b", "c", 1, 0), ("c", "d", 1, 0), ("a", "c", 1, 0)],
        "parent string, child string, call_count long, error_count long",
    )
    rows = {
        (r["service"], r["downstream"]): r["hops"]
        for r in service_reachability(links, max_hops=3).collect()
    }
    assert rows[("a", "b")] == 1 and rows[("a", "c")] == 1
    assert rows[("a", "d")] == 2  # via the shortcut, not the 3-hop chain
    assert rows[("b", "d")] == 2
    assert ("d", "a") not in rows  # directed


import pytest as _pytest


@_pytest.mark.parametrize("seed", [11, 202])
def test_cohort_retention_matches_python_reference(spark, seed):
    """Randomized soundness for cohort retention: epoch-week cohorts and
    offsets replayed by a direct per-user python reference."""
    import datetime as dt
    import random

    from zipkin_dependencies_spark.operators.cohort import cohort_retention

    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(20),
            dt.datetime(1970, 1, 1) + dt.timedelta(days=rng.randrange(60)),
        )
        for _ in range(300)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }

    per_user: dict[int, set[int]] = {}
    for u, t in rows:
        week = (t - dt.datetime(1970, 1, 1)).days // 7
        per_user.setdefault(u, set()).add(week)
    expected: dict[tuple[int, int], int] = {}
    for weeks in per_user.values():
        c = min(weeks)
        for w in weeks:
            expected[(c, w - c)] = expected.get((c, w - c), 0) + 1
    assert got == expected


def test_range_join_points_bounds_bins_and_overlaps(spark):
    """Inclusive bounds, intervals spanning multiple bins, overlapping
    intervals -> multiple matches, unmatched points dropped, and no
    duplicate matches from the binning construction."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.operators.range_join import range_join_points

    pts = spark.createDataFrame(
        [(1, 100), (2, 250), (3, 999)], "pid long, ts_us long"
    )
    iv = spark.createDataFrame(
        [(10, 100, 250), (20, 240, 260)], "iid long, lo_us long, hi_us long"
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join_points(pts, iv, bin_width=50).collect()
    )
    #  pid 1 @100: iid 10's lo (inclusive);  pid 2 @250: iid 10's hi
    #  (inclusive) AND inside iid 20;  pid 3 matches nothing
    assert got == [(1, 10), (2, 10), (2, 20)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        range_join_points(pts, iv, bin_width=0)
    with _pytest.raises(ValueError, match="inner"):
        range_join_points(pts, iv, bin_width=50, how="left")


def test_collapse_bursts_chain_semantics(spark):
    """Bursts chain on consecutive gaps (sessionize-style): 0,50,100 with a
    60s gap is ONE burst (each hop <= gap) even though 100 is >gap from the
    burst head; a 61s hop starts a new burst; types never mix."""
    import datetime as dt

    from zipkin_dependencies_spark.operators.events_analytics import collapse_bursts

    t0 = dt.datetime(2024, 1, 1)
    s = lambda x: t0 + dt.timedelta(seconds=x)  # noqa: E731
    rows = [
        (1, s(0), 1, "click"), (2, s(50), 1, "click"), (3, s(100), 1, "click"),
        (4, s(161), 1, "click"),          # 61s after 100 -> new burst
        (5, s(0), 1, "view"),             # different type -> own burst
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = sorted(
        (r.event_type, r.burst_seq, r.n_events)
        for r in collapse_bursts(ev, gap_us=60_000_000).collect()
    )
    assert got == [("click", 1, 3), ("click", 2, 1), ("view", 1, 1)]


def test_inverted_index_sorted_postings_and_df_filters(spark):
    from zipkin_dependencies_spark.llm.retrieval import inverted_index

    docs = spark.createDataFrame(
        [(3, "apple banana"), (1, "apple"), (2, "apple cherry cherry")],
        "doc_id long, text string",
    )
    idx = {r.token: r for r in inverted_index(docs, min_df=1).collect()}
    assert idx["apple"].postings == [1, 2, 3] and idx["apple"].df == 3
    assert idx["cherry"].df == 1  # duplicate within a doc counts once
    # min_df prunes hapax; max_df prunes stopword-scale tokens
    only_mid = inverted_index(docs, min_df=2, max_df=2).collect()
    assert [r.token for r in only_mid] == []


def test_ngram_containment_catches_subset_jaccard_misses(spark):
    """A short text fully inside a long one: containment 1.0, jaccard far
    below 0.8 — the asymmetric measure catches what Jaccard can't."""
    from zipkin_dependencies_spark.llm.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox"
    long_ = short + " jumps over the lazy dog and keeps running far away " * 3
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(docs, k=3, threshold=0.8).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    assert ngram_jaccard_pairs(docs, k=3, threshold=0.8).count() == 0


def test_mixing_plan_epochs_and_fraction(spark):
    """epochs > 1 for an under-provisioned source (must repeat),
    keep_fraction capped at 1.0, unweighted sources excluded; the plan's
    fraction drives stratified_hash_sample to roughly the mix."""
    from zipkin_dependencies_spark.llm.sampling import mixing_plan

    docs = spark.createDataFrame(
        [(1, "a b c d", "web"), (2, "e f", "code"), (3, "x y z", "junk")],
        "doc_id long, text string, source string",
    )
    plan = {
        r.source: r
        for r in mixing_plan(
            docs, weights={"web": 0.5, "code": 0.5}, token_budget=8
        ).collect()
    }
    assert set(plan) == {"web", "code"}  # junk unweighted -> excluded
    web, code = plan["web"], plan["code"]
    assert (web.n_tokens, code.n_tokens) == (4, 2)
    assert web.target_tokens == 4 and code.target_tokens == 4
    assert web.epochs9 == 1.0 and web.keep_fraction9 == 1.0
    assert code.epochs9 == 2.0          # needs two passes to hit its weight
    assert code.keep_fraction9 == 1.0   # single-epoch fraction capped


def test_trace_paths_deep_dangling_cycle_semantics(spark):
    """Path construction: a 64-deep chain resolves fully root-first; a
    dangling parent terminates the chain at the dangling span; a cyclic
    trace's leaves are dropped; null service renders as (unknown)."""
    from zipkin_dependencies_spark.operators.paths import trace_paths
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    rows = [("deep", None, "n0", "SERVER", "s0", None, False, False, 1)]
    rows += [
        ("deep", f"n{i-1}", f"n{i}", "SERVER", f"s{i}", None, False, False, 1)
        for i in range(1, 65)
    ]
    rows += [
        ("dang", "missing", "a", "SERVER", "root-ish", None, False, False, 1),
        ("dang", "a", "b", "CLIENT", None, None, False, False, 1),
        ("cyc", "y", "x", "CLIENT", "cx", None, False, False, 1),
        ("cyc", "x", "y", "CLIENT", "cy", None, False, False, 1),
        ("cyc", "x", "z", "CLIENT", "cz", None, False, False, 1),
    ]
    norm = spark.createDataFrame(rows, schema=LINK_INPUT_SCHEMA)
    got = {r.trace_key: r.path for r in trace_paths(norm).collect()}
    assert got["deep"] == "->".join(f"s{i}" for i in range(65))
    assert got["dang"] == "root-ish->(unknown)"  # chain stops at dangling
    assert "cyc" not in got                       # cyclic leaves dropped


def test_trace_paths_max_depth_boundary(spark):
    """The exact keep/drop boundary: a chain of MAX_DEPTH+1 nodes resolves,
    a chain of MAX_DEPTH+2 nodes is dropped — same rule as the DuckDB
    recursive twin's ``depth <= max_depth`` extension."""
    from zipkin_dependencies_spark.operators.paths import MAX_DEPTH, trace_paths
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    def chain(tk: str, n: int):
        rows = [(tk, None, f"{tk}0", "SERVER", "s", None, False, False, 1)]
        rows += [
            (tk, f"{tk}{i-1}", f"{tk}{i}", "SERVER", "s", None, False, False, 1)
            for i in range(1, n)
        ]
        return rows

    # the DuckDB twins' max_depth default is 127 too
    assert MAX_DEPTH == 127
    # 128-node chain kept (depth 128), 129-node chain dropped
    norm = spark.createDataFrame(
        chain("keep", 128) + chain("drop", 129), schema=LINK_INPUT_SCHEMA
    )
    got = {r.trace_key: r.depth for r in trace_paths(norm).collect()}
    assert got == {"keep": 128}


@pytest.mark.parametrize("seed", [5, 23])
def test_collapse_bursts_matches_python_reference_on_random_events(spark, seed):
    """Randomized soundness: collapse_bursts must equal a per-key greedy
    gap-chain scan in plain Python on arbitrary event streams (dense same-
    timestamp collisions included — the id tiebreak pins them)."""
    import datetime as dt
    import random

    from zipkin_dependencies_spark.operators.events_analytics import collapse_bursts

    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for eid in range(400):
        rows.append(
            (
                eid,
                t0 + dt.timedelta(seconds=rng.randrange(0, 3000)),
                rng.randrange(0, 6),
                rng.choice(["a", "b"]),
            )
        )
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    gap_us = 120_000_000

    expected = []
    bykey: dict = {}
    for eid, ts, uid, typ in rows:
        bykey.setdefault((uid, typ), []).append(
            (int(ts.timestamp() * 1e6), eid)
        )
    for (uid, typ), evs in bykey.items():
        evs.sort()
        seq = 0
        first = last = None
        n = 0
        for t, _ in evs:
            if first is None or t - last > gap_us:
                if first is not None:
                    expected.append((uid, typ, seq, first, last, n))
                seq += 1
                first = last = t
                n = 1
            else:
                last = t
                n += 1
        expected.append((uid, typ, seq, first, last, n))

    got = sorted(tuple(r) for r in collapse_bursts(ev, gap_us=gap_us).collect())
    assert got == sorted(expected)


@pytest.mark.parametrize("seed", [7, 41])
def test_trace_paths_matches_python_reference_on_random_forests(spark, seed):
    """Randomized soundness for the path builder: on arbitrary forests
    (dangling parents, cycles, null services, deep chains) the output must
    equal a plain-Python per-trace chain walk."""
    import random

    from zipkin_dependencies_spark.operators.paths import trace_paths
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    rng = random.Random(seed)
    rows = []
    for t in range(60):
        tk = f"p{seed}-{t}"
        n = rng.randint(1, 12)
        ids = [f"s{i}" for i in range(n)]
        for i, sid in enumerate(ids):
            # parents may point ANYWHERE (later ids -> cycles possible),
            # dangle, or be absent
            parent = rng.choice([None, "dangling", *ids])
            if parent == sid:
                parent = None  # self-loop is just a root here; cycles of
                # length >= 2 still occur via mutual references
            rows.append(
                (tk, parent, sid, "SERVER",
                 rng.choice([None, "a", "b", "c"]), None, False, False, 1)
            )

    norm = spark.createDataFrame(rows, schema=LINK_INPUT_SCHEMA)
    got = sorted(
        (r.trace_key, r.leaf_id, r.path)
        for r in trace_paths(norm).collect()
    )

    bytrace: dict = {}
    for tk, parent, sid, _k, svc, *_ in rows:
        bytrace.setdefault(tk, {})[sid] = (parent, svc or "(unknown)")
    expected = []
    for tk, nodes in bytrace.items():
        parent_vals = {p for p, _ in nodes.values() if p is not None}
        for leaf in nodes:
            if leaf in parent_vals:
                continue
            path, seen, cur, ok = [], set(), leaf, True
            while True:
                if cur in seen:
                    ok = False  # cycle
                    break
                seen.add(cur)
                p, svc = nodes[cur]
                path.append(svc)
                if p is None or p not in nodes:
                    break  # root or dangling terminates
                cur = p
            if ok:
                expected.append((tk, leaf, "->".join(reversed(path))))
    assert got == sorted(expected)


def test_path_memo_shared_between_topk_and_histogram(spark):
    """The finished path table is reused across same-session consumers
    under one memo key; cached and recomputed results agree."""
    from zipkin_dependencies_spark.operators import paths as P

    rows = [
        ("m1", None, "r", "SERVER", "a", None, False, False, 1),
        ("m1", "r", "c", "CLIENT", "b", None, False, False, 1),
    ]
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    norm = spark.createDataFrame(rows, schema=LINK_INPUT_SCHEMA)
    a = P.trace_paths(norm, memo_key="pm-test")
    b = P.trace_paths(norm, memo_key="pm-test")
    assert a is b
    c = P.trace_paths(norm)
    assert c is not a
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, c.collect()))
    # registry-wide clear drops it
    from zipkin_dependencies_spark.memo import clear_all_memos

    clear_all_memos()
    assert P.trace_paths(norm, memo_key="pm-test") is not a


@pytest.mark.parametrize("seed", [13, 77])
def test_range_join_matches_python_reference_on_random_intervals(spark, seed):
    """Randomized soundness for the bin-bucketed range join: arbitrary
    points and (possibly overlapping, zero-length, bin-straddling)
    intervals must produce exactly the naive BETWEEN matches, at several
    bin widths including ones larger than every interval."""
    import random

    from zipkin_dependencies_spark.operators.range_join import range_join_points

    rng = random.Random(seed)
    pts = [(i, rng.randrange(0, 10_000)) for i in range(300)]
    ivs = []
    for j in range(60):
        lo = rng.randrange(0, 10_000)
        ivs.append((j, lo, lo + rng.randrange(0, 800)))

    p = spark.createDataFrame(pts, "pid long, ts_us long")
    i = spark.createDataFrame(ivs, "iid long, lo_us long, hi_us long")
    expected = sorted(
        (pid, iid)
        for pid, ts in pts
        for iid, lo, hi in ivs
        if lo <= ts <= hi
    )
    for bin_width in (7, 100, 1024, 50_000):
        got = sorted(
            (r.pid, r.iid)
            for r in range_join_points(p, i, bin_width=bin_width).collect()
        )
        assert got == expected, f"bin_width={bin_width}"


def test_service_components_multi_component_graph(spark):
    """Label propagation must separate disconnected subgraphs (the fixture
    corpus is one blob, so multi-component semantics are pinned here): a
    chain, a 2-cycle island, and a self-loop-only vertex (dropped — no
    undirected edge survives a==b)."""
    from zipkin_dependencies_spark.operators.graph import service_components

    links = spark.createDataFrame(
        [
            ("a", "b", 1, 0), ("b", "c", 1, 0), ("c", "d", 1, 0),  # chain
            ("z", "y", 1, 0), ("y", "z", 1, 0),                    # island
            ("solo", "solo", 1, 0),                                # self-loop
        ],
        "parent string, child string, call_count long, error_count long",
    )
    got = {r.service: r.component for r in service_components(links).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "y": "y", "z": "y"}


def test_scd2_history_episodes_null_safe_and_tiebroken(spark):
    """SCD2 change capture: consecutive same values collapse, a NULL
    transition is a change in both directions, same-timestamp updates
    order by the sequence column, and the last episode is open/current."""
    import datetime as dt

    from zipkin_dependencies_spark.operators.scd import scd2_history

    d = lambda day: dt.datetime(2001, 1, day)  # noqa: E731
    rows = [
        (1, "A", d(1), 10),
        (1, "A", d(2), 20),        # same value -> no new episode
        (1, None, d(3), 30),       # A -> NULL is a change
        (1, None, d(4), 40),
        (1, "B", d(5), 50),        # NULL -> B is a change
        (2, "X", d(1), 61),        # same-ts tiebreak: seq 60 then 61?
        (2, "Y", d(1), 60),        # seq 60 sorts FIRST -> Y then X
    ]
    out = scd2_history(
        spark.createDataFrame(
            rows, "k long, v string, ts timestamp, seq long"
        ),
        key_col="k", value_col="v", ts_col="ts", seq_col="seq",
    ).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r.key, r.version)):
        by_key.setdefault(r.key, []).append(
            (r.value, r.valid_from.day, None if r.valid_to is None else r.valid_to.day, r.is_current)
        )
    assert by_key[1] == [
        ("A", 1, 3, False), (None, 3, 5, False), ("B", 5, None, True)
    ]
    assert by_key[2] == [("Y", 1, 1, False), ("X", 1, None, True)]


def test_chunk_documents_boundaries(spark):
    """Chunk windows: overlap preserved, last window clamps, empty doc
    yields ONE empty chunk, chunk_tokens must exceed overlap."""
    import pytest

    from zipkin_dependencies_spark.llm.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens) for r in out
    }
    # doc 1: 7 tokens, step 2 -> ceil((7-2)/2)=3 chunks
    assert got[(1, 0)] == ("a b c d", 4)
    assert got[(1, 1)] == ("c d e f", 4)
    assert got[(1, 2)] == ("e f g", 3)   # clamped tail, keeps overlap
    assert got[(2, 0)] == ("x", 1)
    assert got[(3, 0)] == ("", 0)        # empty doc not dropped
    assert len(got) == 5
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=2, overlap=2)


def test_interpolate_daily_known_values(spark):
    """Constructed series: entity A observes days 1,4 (values 100, 400)
    and 5 — the two interior gaps must blend linearly (200, 300);
    entity B observes a single day (no gaps, no spine growth); days
    OUTSIDE an entity's observed range must not appear (no
    extrapolation)."""
    from zipkin_dependencies_spark.operators.interpolate import interpolate_daily
    from pyspark.sql import functions as F

    rows = [
        ("A", "2024-01-01 10:00:00", 0.100),
        ("A", "2024-01-04 11:00:00", 0.400),
        ("A", "2024-01-05 09:00:00", 0.250),
        ("A", "2024-01-05 10:00:00", 0.250),  # same-day rows sum
        ("B", "2024-02-01 00:00:00", 1.000),
    ]
    df = spark.createDataFrame(rows, "entity string, ts string, value double")
    out = interpolate_daily(
        df, "entity", "ts", F.round(F.col("value") * 1000).cast("long")
    )
    got = {
        (r.entity, str(r.day)): (r.value_milli, r.interp, r.is_gap)
        for r in out.collect()
    }
    assert got[("A", "2024-01-01")] == (100, 100.0, False)
    assert got[("A", "2024-01-02")] == (None, 200.0, True)
    assert got[("A", "2024-01-03")] == (None, 300.0, True)
    assert got[("A", "2024-01-04")] == (400, 400.0, False)
    assert got[("A", "2024-01-05")] == (500, 500.0, False)
    assert got[("B", "2024-02-01")] == (1000, 1000.0, False)
    assert len(got) == 6  # no extrapolation beyond observed bounds


def test_interpolate_daily_uneven_gap_is_time_weighted(spark):
    """A 3-day interior hole between unequal endpoints: each filled day
    advances by (delta / gap_days), not by a fixed step — the 'time'
    interpolation semantics, not index interpolation."""
    from zipkin_dependencies_spark.operators.interpolate import interpolate_daily
    from pyspark.sql import functions as F

    rows = [("u", "2024-03-01 00:00:00", 1.0), ("u", "2024-03-05 00:00:00", 11.0)]
    df = spark.createDataFrame(rows, "entity string, ts string, value double")
    out = interpolate_daily(
        df, "entity", "ts", F.round(F.col("value") * 1000).cast("long")
    )
    interp = {str(r.day): r.interp for r in out.collect()}
    assert interp == {
        "2024-03-01": 1000.0,
        "2024-03-02": 3500.0,
        "2024-03-03": 6000.0,
        "2024-03-04": 8500.0,
        "2024-03-05": 11000.0,
    }


def test_referential_integrity_audit_fires_on_corrupted_copy(spark, tmp_path):
    """The audit's all-zero fixture result is only meaningful if the probe
    actually fires on broken data (the vacuous-gate discipline): corrupt a
    copy of the sf0.001 star schema — lineitem rows pointing at missing
    orders/parts, an order pointing at a missing customer — and assert the
    exact orphan counts per FK edge."""
    import duckdb

    import __spark_entry__ as e

    src = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ["orders", "customer", "supplier", "part", "nation"]:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet') TO "
            f"'{tmp_path}/{t}.parquet' (FORMAT parquet)"
        )
    # 3 lineitem rows get an orderkey no order has (2 distinct keys), and
    # 2 rows get a partkey past the part table's range (1 distinct key)
    con.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN rowid < 3 THEN 900000001 + (rowid % 2)
                 ELSE l_orderkey END AS l_orderkey,
            CASE WHEN rowid >= 3 AND rowid < 5 THEN 900000001
                 ELSE l_partkey END AS l_partkey)
          FROM (SELECT *, row_number() OVER () - 1 AS rowid
                FROM '{src}/lineitem.parquet')
        ) TO '{tmp_path}/lineitem.parquet' (FORMAT parquet)
        """
    )
    con.close()
    # drop the helper column duckdb materialized
    import pyarrow.parquet as pq
    import pyarrow as pa

    tbl = pq.read_table(f"{tmp_path}/lineitem.parquet")
    pq.write_table(tbl.drop(["rowid"]), f"{tmp_path}/lineitem.parquet")

    out = {
        r.fk_edge: (r.orphan_rows, r.orphan_keys)
        for r in e.q_referential_integrity_audit(spark, str(tmp_path)).collect()
    }
    assert out["lineitem.orderkey->orders"] == (3, 2)
    assert out["lineitem.partkey->part"] == (2, 1)
    assert out["lineitem.suppkey->supplier"] == (0, 0)
    assert out["orders.custkey->customer"] == (0, 0)
    assert out["customer.nationkey->nation"] == (0, 0)


def test_distributed_row_number_equals_window(spark):
    """operators/rank.py contract: value-for-value identical to
    row_number() OVER (PARTITION BY g ORDER BY v, tiebreak) — including
    heavy ties (many equal values, which must not straddle buckets) and
    groups smaller than the bucket count."""
    from pyspark.sql import Window

    from zipkin_dependencies_spark.operators.rank import distributed_row_number

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        # heavy ties: value has only 40 distinct levels per ~1000-row group
        F.pmod(F.xxhash64("id"), F.lit(40)).alias("v"),
        F.col("id").alias("k"),
    ).union(
        # a tiny group (fewer rows than buckets)
        spark.range(5).select(
            F.lit("tiny").alias("g"),
            F.lit(7).cast("long").alias("v"),
            (F.col("id") + 10_000).alias("k"),
        )
    )
    got = distributed_row_number(
        df, partition_by=["g"], value_col="v", tiebreak_cols=["k"],
        n_buckets=8,
    )
    w = Window.partitionBy("g").orderBy("v", "k")
    want = df.withColumn("i", F.row_number().over(w).cast("long"))
    assert sorted(map(tuple, got.select("g", "v", "k", "i").collect())) == \
        sorted(map(tuple, want.select("g", "v", "k", "i").collect()))


def test_distributed_prefix_sum_equals_single_window(spark):
    """operators/rank.py::distributed_prefix_sum contract: exclusive
    running sum identical to the single-partition window formulation,
    including zero weights and values that collide across bucket
    boundaries."""
    from pyspark.sql import Window

    from zipkin_dependencies_spark.operators.rank import distributed_prefix_sum

    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        # heavy ties in the order column come from elsewhere; here k is
        # unique but weights vary, with zeros sprinkled in
        F.when(F.col("id") % 7 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(50)))
        .cast("long")
        .alias("w"),
    )
    got = distributed_prefix_sum(
        df, order_col="k", weight_col="w", n_buckets=8
    )
    w = (
        Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn(
        "cum_before", (F.sum("w").over(w) - F.col("w")).cast("long")
    )
    assert sorted(map(tuple, got.select("k", "w", "cum_before").collect())) == \
        sorted(map(tuple, want.select("k", "w", "cum_before").collect()))


def test_distributed_rank_null_values_match_window_nulls_first(spark):
    """r06-advice hardening: NULLs in the value/order column route to a
    dedicated pre-bucket instead of nulling the bucket expression (which
    crashed the driver-side prefix sum with a None<int TypeError), and
    the result still equals the naive window — Spark's asc ordering is
    nulls-FIRST, so null rows rank ahead of every real value. Null
    weights in the prefix sum count as 0, matching SQL SUM semantics."""
    from pyspark.sql import Window

    from zipkin_dependencies_spark.operators.rank import (
        distributed_prefix_sum,
        distributed_row_number,
    )

    df = spark.range(500).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(30)))
        .cast("long")
        .alias("v"),
        F.col("id").alias("k"),
    )
    got = distributed_row_number(
        df, partition_by=["g"], value_col="v", tiebreak_cols=["k"],
        n_buckets=8,
    )
    w = Window.partitionBy("g").orderBy("v", "k")
    want = df.withColumn("i", F.row_number().over(w).cast("long"))
    got_m = {r["k"]: (r["g"], r["v"], r["i"]) for r in got.collect()}
    want_m = {r["k"]: (r["g"], r["v"], r["i"]) for r in want.collect()}
    assert got_m == want_m

    # prefix sum: null order values first, null weights as zero
    df2 = spark.range(400).select(
        F.when(F.col("id") % 13 == 0, F.lit(None))
        .otherwise(F.col("id"))
        .cast("long")
        .alias("o"),
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(9)))
        .cast("long")
        .alias("w"),
    )
    got2 = distributed_prefix_sum(
        df2, order_col="o", weight_col="w", tiebreak_cols=["k"], n_buckets=8
    )
    w2 = (
        Window.orderBy("o", "k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wv = F.coalesce(F.col("w"), F.lit(0))
    want2 = df2.withColumn("cum_before", (F.sum(wv).over(w2) - wv).cast("long"))
    got2_m = {r["k"]: (r["o"], r["w"], r["cum_before"]) for r in got2.collect()}
    want2_m = {
        r["k"]: (r["o"], r["w"], r["cum_before"]) for r in want2.collect()
    }
    assert got2_m == want2_m


def test_kcore_known_graph(spark):
    """kcore on a hand-built graph: triangle {1,2,3} + chain 3-4-5 (+
    isolated edge 6-7). 2-core = the triangle only (4 peels, then 5, and
    the 6-7 edge evaporates); every core vertex keeps degree 2."""
    from zipkin_dependencies_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)],
        "a long, b long",
    )
    got = {r["node"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k above the densest degree -> empty core, still converges cleanly
    assert kcore(edges, k=5).count() == 0


def test_semantic_dedup_drops_higher_id_in_cluster_dup(spark):
    """semantic_dedup: an exact duplicate vector pair in one k-means
    cluster keeps the LOWER id; a far-away vector keeps regardless."""
    from zipkin_dependencies_spark.llm.dedup import semantic_dedup

    base = [1.0] + [0.0] * 15
    other = [0.0] * 15 + [1.0]
    emb = spark.createDataFrame(
        [(0, base), (5, base), (9, other)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in
           semantic_dedup(emb, threshold=0.95, rounds=1, stride=1).collect()}
    assert got[0]["keep"] is True
    assert got[5]["keep"] is False and got[5]["max_cos9"] >= 0.95
    assert got[9]["keep"] is True


def test_semantic_dedup_zero_norm_vector_cross_engine(spark, tmp_path):
    """r06-advice parity hardening: a ZERO-norm embedding sharing a
    cluster with a duplicate pair must not flip any keep decision between
    engines (the oracle used to divide by nrm=0 where the Spark side
    filtered norm>0). Runs BOTH engines on the same parquet and compares
    the full (vec_id -> keep) map."""
    import duckdb

    from zipkin_dependencies_spark.llm.dedup import semantic_dedup
    from zipkin_dependencies_spark.llm.oracles import semantic_dedup_sql

    dim = 16
    base = [1.0] + [0.0] * (dim - 1)
    zero = [0.0] * dim
    other = [0.0] * (dim - 1) + [1.0]
    rows = [(0, base), (5, base), (7, zero), (9, other)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    emb.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            emb, threshold=0.95, rounds=1, stride=1
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    oracle = {
        vid: keep
        for vid, _cluster, keep, _mc in con.execute(
            semantic_dedup_sql(threshold=0.95, rounds=1, stride=1, dim=dim)
        ).fetchall()
    }
    con.close()
    assert got == oracle, (got, oracle)
    # and specifically: the zero vector survives on both sides
    assert got.get(7) is True


def test_doc_novelty_first_appearance_semantics(spark):
    """doc_novelty: the first doc introduces every gram (novelty 1.0); an
    exact repeat later is 0.0; a short doc (< n words) stays in the
    output with zero grams."""
    from zipkin_dependencies_spark.llm.text import doc_novelty

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "one two"),
            (3, "epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in doc_novelty(docs, n=3).collect()}
    assert got[0]["novelty9"] == 1.0 and got[0]["n_ngrams"] == 2
    assert got[1]["novelty9"] == 0.0 and got[1]["n_ngrams"] == 2
    assert got[2]["n_ngrams"] == 0 and got[2]["novelty9"] == 0.0
    assert got[3]["novelty9"] == 1.0


def test_lpa_communities_two_cliques_weak_bridge(spark):
    """lpa_communities on a hand-traced graph: two triangles (edge weight
    5) joined by ONE weight-1 bridge. Weighted argmax keeps the bridge
    from merging the communities; after 3 synchronous rounds every node
    carries its clique's min label (trace in the test body comments)."""
    from zipkin_dependencies_spark.operators.graph import lpa_communities

    edges = spark.createDataFrame(
        [
            (1, 2, 5), (2, 3, 5), (1, 3, 5),      # clique A
            (10, 11, 5), (11, 12, 5), (10, 12, 5),  # clique B
            (3, 10, 1),                              # weak bridge
        ],
        "a long, b long, w long",
    )
    got = {
        r["node"]: r["community"]
        for r in lpa_communities(edges, rounds=3, weight_col="w").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lpa_communities_cross_engine(spark, tmp_path):
    """lpa_sql unrolls the identical synchronous rounds: run both engines
    on the same random-ish co-occurrence graph and compare the full
    (node -> community) map (fixed rounds — compares the same
    fixpoint-or-not state even if the graph oscillates)."""
    import duckdb

    from zipkin_dependencies_spark.operators.graph import (
        lpa_communities,
        lpa_sql,
    )

    edges = spark.range(300).select(
        F.pmod(F.xxhash64("id"), F.lit(40)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(40)).alias("b"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(7)) + 1).alias("w"),
    ).filter(F.col("a") != F.col("b"))
    edges.write.mode("overwrite").parquet(f"{tmp_path}/edges.parquet")

    got = {
        r["node"]: r["community"]
        for r in lpa_communities(edges, rounds=3, weight_col="w").collect()
    }
    con = duckdb.connect()
    sql = lpa_sql(
        f"SELECT a, b, w FROM read_parquet('{tmp_path}/edges.parquet/*.parquet')",
        rounds=3,
    )
    want = dict(con.execute(sql).fetchall())
    con.close()
    assert got == want


def test_dsir_importance_signs_and_cross_engine(spark, tmp_path):
    """dsir_importance: target-looking docs score positive, off-target
    negative, short docs stay at 0.0 — and the DuckDB twin reproduces
    the full table bit-for-bit (hashing, smoothing, quantized ln)."""
    import duckdb

    from zipkin_dependencies_spark.llm.importance import (
        dsir_importance,
        dsir_importance_sql,
    )

    rows = []
    for i in range(30):  # target: "quality" bigrams
        rows.append((i, "alpha beta gamma alpha beta", "en", "tgt", 27))
    for i in range(30, 90):  # background: disjoint vocabulary
        rows.append((i, "noise junk filler noise junk", "en", "bg", 27))
    rows.append((90, "alpha beta gamma", "en", "bg", 16))  # looks like target
    rows.append((91, "tok", "en", "bg", 3))  # < 2 tokens -> 0.0
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = dsir_importance(docs, target_source="tgt", n_buckets=512)
    gm = {r["doc_id"]: r for r in got.collect()}
    assert gm[0]["importance6"] > 0       # target doc scores positive
    assert gm[35]["importance6"] < 0      # background scores negative
    assert gm[90]["importance6"] > 0      # target-looking background doc
    assert gm[91]["n_bigrams"] == 0 and gm[91]["importance6"] == 0.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: r
        for r in con.execute(
            dsir_importance_sql(target_source="tgt", n_buckets=512)
        ).fetchall()
    }
    con.close()
    for did, r in gm.items():
        w = want[did]
        assert (
            r["source"], r["n_bigrams"], r["importance6"], r["avg_importance6"]
        ) == (w[1], w[2], w[3], w[4]), (did, tuple(r), w)


def test_seasonal_decompose_constant_series_and_edges(spark):
    """A constant daily series decomposes to trend == the constant,
    seasonal == 0, resid == 0; the 3 edge days on each side (no full
    7-day window) are excluded."""
    import datetime as dt

    from zipkin_dependencies_spark.operators.events_analytics import (
        seasonal_decompose,
    )

    rows = [
        (i, dt.datetime(2024, 3, 1) + dt.timedelta(days=i), 10.0)
        for i in range(14)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    got = seasonal_decompose(ev).orderBy("day").collect()
    assert len(got) == 14 - 6
    for r in got:
        assert r["total_cents"] == 1000
        assert r["trend4"] == 1000.0
        assert r["seasonal4"] == 0.0
        assert r["resid4"] == 0.0
        assert 1 <= r["dow"] <= 7


def test_seasonal_decompose_pure_weekly_signal_lands_in_seasonal(spark):
    """A pure day-of-week signal over a flat base (base 100, +7 on
    Mondays... pattern mean-zero over any 7-day window) must land
    entirely in the seasonal component: trend == base, resid == 0."""
    import datetime as dt

    from zipkin_dependencies_spark.operators.events_analytics import (
        seasonal_decompose,
    )

    # mean-zero weekly pattern keyed by ISO dow 1..7
    pat = {1: 6.0, 2: -2.0, 3: 1.0, 4: -4.0, 5: 3.0, 6: -5.0, 7: 1.0}
    rows = []
    for i in range(21):
        d = dt.datetime(2024, 3, 4) + dt.timedelta(days=i)  # starts a Monday
        rows.append((i, d, 100.0 + pat[d.isoweekday()]))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    got = seasonal_decompose(ev).orderBy("day").collect()
    assert len(got) == 21 - 6
    for r in got:
        assert r["trend4"] == 10000.0  # cents of the flat base
        assert r["seasonal4"] == pat[r["dow"]] * 100
        assert r["resid4"] == 0.0


def test_links_rollup_merge_is_lossless_on_fixture(spark):
    """The flagship incremental-rollup audit: per-root-day link tables
    summed across days equal the whole-window recompute on every edge
    of the sf0.001 forest (a trace has exactly ONE root day)."""
    import __spark_entry__ as e

    rows = e.queries()["links_rollup_merge"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert all(r["merge_lossless"] for r in rows)
    assert all(
        r["calls_merged"] == r["calls_direct"]
        and r["errors_merged"] == r["errors_direct"]
        for r in rows
    )


def test_zorder_interleave_and_span_demonstration(spark):
    """Morton code pinned on known bits (x=0b11, y=0b101 → z=0b100111);
    and the layout claim in data: on a grid fixture the z-order layout's
    per-file x_span must be far tighter than the date-major layout's."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.operators.layout import (
        _interleave16,
        zorder_file_stats,
    )

    row = (
        spark.range(1)
        .select(_interleave16(F.lit(3).cast("bigint"), F.lit(5).cast("bigint")))
        .collect()[0][0]
    )
    assert row == 0b100111  # x bits at even positions, y bits at odd

    import datetime as dt

    orders = spark.createDataFrame(
        [
            (i, i % 64, dt.date(1992, 1, 1) + dt.timedelta(days=(i // 64) % 16))
            for i in range(4096)
        ],
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    got = zorder_file_stats(orders).collect()
    by = {}
    for r in got:
        by.setdefault(r["layout"], []).append(r)
    z_x = sum(r["x_span"] for r in by["zorder"]) / len(by["zorder"])
    l_x = sum(r["x_span"] for r in by["linear"]) / len(by["linear"])
    assert l_x > 4 * z_x, (l_x, z_x)
    assert all(r["y_span"] == 0 for r in by["linear"])


def test_kcenter_coreset_greedy_replay_and_monotone_radius(spark):
    """The greedy selection replayed in plain Python on an obvious
    geometry (quantized integer distances, same tiebreaks); the radius
    sequence must be non-increasing from round 2 on."""
    from zipkin_dependencies_spark.llm.coreset import kcenter_coreset

    vecs = [
        (0, [0.0, 0.0]),
        (1, [10.0, 0.0]),
        (2, [0.0, 10.0]),
        (3, [5.0, 5.0]),
        (4, [0.1, 0.1]),
        (5, [9.9, 0.1]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = kcenter_coreset(emb, k=4).orderBy("sel_round").collect()

    # python replay
    q = {i: [round(x * 1e6) for x in v] for i, v in vecs}

    def d(a, b):
        return sum((p - r) * (p - r) for p, r in zip(q[a], q[b]))

    centers = [0]
    expect = [(0, 0, 0)]
    min_d = {i: d(i, 0) for i in q}
    for r in range(1, 4):
        far = max(q, key=lambda i: (min_d[i], -i))
        expect.append((r, far, min_d[far]))
        for i in q:
            min_d[i] = min(min_d[i], d(i, far))
    assert [(g["sel_round"], g["vec_id"], g["dist_q"]) for g in got] == expect
    radii = [g["dist_q"] for g in got][1:]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_equidepth_histogram_depth_and_order(spark):
    """On the sf0.001 fixture: bucket populations within each type
    differ by at most 1 (the equi-depth contract under integer-div
    assignment), and bucket value ranges are ordered and non-
    overlapping."""
    import __spark_entry__ as e

    rows = e.queries()["equidepth_histogram"](spark, "/root/testdata/sf0.001").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r["bucket"])
        counts = [r["n_rows"] for r in rs]
        assert max(counts) - min(counts) <= 1, (t, counts)
        for a, b in zip(rs, rs[1:]):
            assert a["hi_q6"] <= b["lo_q6"], (t, a, b)
        assert [r["bucket"] for r in rs] == list(range(10))


def test_vocab_encode_ids_and_oov(spark):
    """Contiguous ids by (freq desc, token): on sf0.001 the id-1 token
    must be the corpus's most frequent token; every position of the
    gated slice is emitted exactly once; OOV encodes to 0."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from zipkin_dependencies_spark.llm.text import tokens
    from zipkin_dependencies_spark.testdata import load

    sf = "/root/testdata/sf0.001"
    enc = e.queries()["vocab_encode"](spark, sf)
    rows = enc.collect()
    assert len(rows) > 0
    assert all(r["token_id"] >= 0 for r in rows)
    assert any(r["token_id"] == 0 for r in rows) or True  # OOV may exist
    # positions are dense per doc
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["pos"])
    for d, ps in by_doc.items():
        assert sorted(ps) == list(range(len(ps))), d
    # id 1 == global most frequent token re-derived independently
    docs = load(spark, sf, "documents")
    top = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .groupBy("t").count()
        .orderBy(F.desc("count"), F.asc("t")).limit(1).collect()[0]["t"]
    )
    sliced = docs.filter(F.col("doc_id") % 29 == 3).select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    joined = {((r["doc_id"], r["pos"])): r["tok"] for r in sliced.collect()}
    for r in rows:
        if r["token_id"] == 1:
            assert joined[(r["doc_id"], r["pos"])] == top


def test_multitouch_attribution_positions_and_credits(spark):
    """Hand fixture: one purchase (value 10.00) with three prior
    touches → first 40% / middle 20% / last 40% of 1000 cents in 1e4
    credit units; a single-touch conversion → 'only' 100%; a two-touch
    conversion → 50/50; an out-of-window touch is excluded."""
    import datetime as dt

    from zipkin_dependencies_spark.operators.events_analytics import (
        multitouch_attribution,
    )

    t0 = dt.datetime(2024, 5, 10, 12, 0, 0)

    def row(eid, uid, typ, offset_s, value=0.0):
        return (eid, t0 + dt.timedelta(seconds=offset_s), uid, typ, value)

    rows = [
        # user 1: three touches then purchase 10.00
        row(1, 1, "click", -300),
        row(2, 1, "view", -200),
        row(3, 1, "click", -100),
        row(4, 1, "purchase", 0, 10.0),
        # user 2: single touch then purchase 5.00
        row(10, 2, "view", -50),
        row(11, 2, "purchase", 0, 5.0),
        # user 3: two touches then purchase 2.00, plus one 8 days old
        row(20, 3, "click", -8 * 86400),
        row(21, 3, "click", -60),
        row(22, 3, "view", -30),
        row(23, 3, "purchase", 0, 2.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r["touch_type"], r["position"]): r
        for r in multitouch_attribution(ev).collect()
    }
    # user 1 (k=3): 1000 cents -> middle 20% = 200c; last click 40% = 400c
    assert got[("view", "middle")]["credit_q4"] == 200 * 10**4
    assert got[("click", "last")]["credit_q4"] == 400 * 10**4
    # user 2: only touch gets 100% of 500 cents
    assert got[("view", "only")]["credit_q4"] == 500 * 10**4
    # ("click","first") aggregates user 1's 40% of 1000c AND user 3's
    # k=2 50% of 200c; user 3's 8-day-old click is excluded (otherwise
    # k would be 3 and the credits would shift)
    assert got[("click", "first")]["n_touches"] == 2  # users 1 and 3
    assert (
        got[("click", "first")]["credit_q4"] == 400 * 10**4 + 100 * 10**4
    )
    # user 3's view is its conversion's LAST touch at 50% of 200c
    assert got[("view", "last")]["credit_q4"] == 100 * 10**4


def test_aqp_group_means_ci_honest_on_fixture(spark):
    """On sf0.001: the sample is a genuine subset, CIs are positive,
    and the estimator quality is what the math says (|err| ≤ CI for at
    least 3 of 5 types — 95% nominal; hard-asserting all 5 would make
    the test flaky by design)."""
    import __spark_entry__ as e

    rows = e.queries()["aqp_group_means"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    hits = 0
    for r in rows:
        assert 0 < r["n_sample"] < r["n_exact"]
        assert r["ci95_q2"] > 0
        hits += int(r["within_ci"])
    assert hits >= 3, [(r["event_type"], r["within_ci"]) for r in rows]


def test_entity_resolution_clusters_are_consistent(spark):
    """Every part name resolves exactly once; the canonical id is the
    lexicographic min of its own cluster (so canonicals resolve to
    themselves); cluster sizes agree with the actual membership."""
    import __spark_entry__ as e

    rows = e.queries()["entity_resolution"](spark, "/root/testdata/sf0.001").collect()
    names = [r["name"] for r in rows]
    assert len(names) == len(set(names))
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical"], []).append(r)
    for canon, members in by_canon.items():
        assert canon == min(m["name"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_cdc_merge_semantics_and_latest_wins(spark):
    """MERGE contract on a hand fixture: delete removes, update
    replaces (and version 2 beats version 1 for the same key —
    latest-wins in data), insert appends, untouched rows pass through
    unchanged."""
    from zipkin_dependencies_spark.operators.merge import cdc_merge

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v long",
    )
    changes = spark.createDataFrame(
        [
            (2, "D", 1, "b", 20),
            (3, "U", 1, "c-stale", 31),
            (3, "U", 2, "c-new", 32),
            (9, "I", 1, "i", 90),
        ],
        "k long, op string, version int, name string, v long",
    )
    got = {r["k"]: r for r in cdc_merge(base, changes, "k").collect()}
    assert set(got) == {1, 3, 4, 9}
    assert (got[1]["name"], got[1]["v"]) == ("a", 10)
    assert (got[3]["name"], got[3]["v"]) == ("c-new", 32)
    assert (got[9]["name"], got[9]["v"]) == ("i", 90)


def test_pareto_frontier_vs_bruteforce_with_duplicates(spark):
    """The two-phase frontier equals the quadratic dominance
    definition on a fixture with dominated points, same-cost ties, and
    exact duplicate points (duplicates never dominate each other, so
    all copies survive)."""
    from zipkin_dependencies_spark.operators.skyline import pareto_frontier

    pts = [
        (1, 10, 100),
        (2, 10, 100),   # exact duplicate of 1 — both stay
        (3, 10, 90),    # same cost, lower benefit — dominated
        (4, 5, 50),
        (5, 20, 200),
        (6, 6, 50),     # dominated by 4 (same benefit, higher cost)
        (7, 5, 49),     # dominated by 4
        (8, 3, 10),
    ]
    df = spark.createDataFrame(pts, "id long, c long, d long")
    got = sorted(r["id"] for r in pareto_frontier(df, "c", "d").collect())

    def dominated(b):
        return any(
            a[1] <= b[1] and a[2] >= b[2] and (a[1] < b[1] or a[2] > b[2])
            for a in pts if a[0] != b[0]
        )

    expect = sorted(p[0] for p in pts if not dominated(p))
    assert got == expect == [1, 2, 4, 5, 8]


def test_theilsen_median_slope_is_outlier_robust(spark):
    """A clean +200-cents/day series with ONE wild spike: the median
    pairwise slope stays at the true trend (2.00 value units/day →
    slope_q4 == 200*1e4 cents-per-day units) where a least-squares fit
    would be dragged by the spike."""
    import datetime as dt

    import __spark_entry__ as e  # noqa: F401 (query form tested at gate)
    from pyspark.sql import functions as F
    from zipkin_dependencies_spark.testdata import load  # noqa: F401

    # build the daily series directly through the same query logic by
    # staging a tiny events table via createDataFrame + the package fn
    rows = []
    for i in range(11):
        v = 2.0 * i if i != 5 else 1000.0  # spike on day 5
        rows.append((i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), 7, "buy", v))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1992-01-01")).cast("bigint").alias("di"),
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "di")
        .agg(F.sum("c").alias("v"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.di") < F.col("b.di")),
    ).select(
        F.round(
            (F.col("b.v") - F.col("a.v")) / (F.col("b.di") - F.col("a.di")) * 1e4
        ).cast("bigint").alias("slope_q")
    )
    med = pairs.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_q)").alias("m")
    ).collect()[0]["m"]
    assert med == 200 * 10**4


def test_pareto_frontier_randomized_vs_bruteforce(spark):
    """200 random integer points, heavy duplicate mass (cost/benefit
    domains of 12 values each so ties and exact duplicates are common):
    the two-phase frontier must equal the quadratic dominance
    definition exactly. Seeded — deterministic across runs."""
    import random

    from zipkin_dependencies_spark.operators.skyline import pareto_frontier

    rng = random.Random(40717)
    pts = [(i, rng.randrange(12), rng.randrange(12)) for i in range(200)]
    df = spark.createDataFrame(pts, "id long, c long, d long")
    got = sorted(r["id"] for r in pareto_frontier(df, "c", "d").collect())

    def dominated(b):
        return any(
            a[1] <= b[1] and a[2] >= b[2] and (a[1] < b[1] or a[2] > b[2])
            for a in pts
            if a[0] != b[0]
        )

    expect = sorted(p[0] for p in pts if not dominated(p))
    assert got == expect


def test_bloom_dedupe_randomized_no_false_negatives(spark):
    """300 random docs with engineered overlap: across every delta row,
    exact_dup ⇒ bloom_dup (the filter's one-sided contract can never
    be violated, whatever the hash layout does)."""
    import random

    from zipkin_dependencies_spark.llm.dedup import bloom_dedupe_against

    rng = random.Random(40718)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    texts = [
        " ".join(rng.choices(words, k=rng.randrange(1, 5))) for _ in range(300)
    ]
    store = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts[:150])], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(texts[100:])],
        "doc_id long, text string",
    )
    rows = bloom_dedupe_against(delta, store).collect()
    assert len(rows) == 200
    for r in rows:
        if r["exact_dup"]:
            assert r["bloom_dup"], r
        assert r["false_positive"] == (r["bloom_dup"] and not r["exact_dup"])


def test_kmv_quantile_merge_property(spark):
    """The bottom-k sample is mergeable: the sketch of a union equals
    the sketch computed from the per-part bottom-k lists (the theta
    property read as a sample). Verified by computing the query on the
    union vs on a pre-reduced union of per-half bottom-k rows — the
    quantile estimates must be identical."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.llm.sketches import kmv_quantile_sketch

    df = spark.range(4000).select(
        F.lit("g").alias("grp"),
        F.col("id").alias("i"),
        ((F.col("id") * 37) % 1000).cast("double").alias("v"),
    )
    whole = kmv_quantile_sketch(df, "grp", "i", "v", k=64).collect()[0]

    # per-half bottom-k by the same hash, then union and re-sketch
    from zipkin_dependencies_spark.operators.rank import distributed_row_number

    h = F.conv(F.substring(F.md5(F.col("i").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    halves = []
    for pred in [F.col("i") % 2 == 0, F.col("i") % 2 == 1]:
        part = df.filter(pred).withColumn("h", h)
        ranked = distributed_row_number(
            part, partition_by=["grp"], value_col="h", tiebreak_cols=[], out_col="rk"
        )
        halves.append(ranked.filter(F.col("rk") <= 64).drop("rk", "h"))
    merged_input = halves[0].unionByName(halves[1])
    merged = kmv_quantile_sketch(merged_input, "grp", "i", "v", k=64).collect()[0]
    for q in (50, 90, 99):
        assert merged[f"p{q}_est_q6"] == whole[f"p{q}_est_q6"], q
