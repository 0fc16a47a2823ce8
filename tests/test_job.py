"""End-to-end pipeline tests on in-memory fixtures (SURVEY §5 layer 2 analog)."""

from __future__ import annotations

import datetime as dt

import pytest

from tests.conftest import make_span
from zipkin_dependencies_spark.operators.day_filter import DayFilter
from zipkin_dependencies_spark.plans import DependencyLinksJob, JobConfig

DAY = dt.date(2016, 5, 31)
TS = 1_464_710_316_000_000  # within DAY
OTHER_DAY_TS = TS + 86_400_000_000 * 3


def run_links(spark, spans_df, **cfg_kwargs):
    cfg = JobConfig(day="2016-05-31", spans_path="<in-memory>", **cfg_kwargs)
    df = DependencyLinksJob(spark, cfg).links(spans=spans_df)
    return {
        (r.parent, r.child): (r.call_count, r.error_count) for r in df.collect()
    }


def test_end_to_end_instrumented_rpc(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(id="1", kind="CLIENT", local="frontend",
                      tags={"http.path": "/"}),
            make_span(id="1", kind="SERVER", local="backend", remote="frontend",
                      shared=True, tags={"error": "500"}),
            make_span(id="2", parent_id="1", kind="CLIENT", local="backend",
                      remote="db"),
        ]
    )
    assert run_links(spark, spans) == {
        ("frontend", "backend"): (1, 1),
        ("backend", "db"): (1, 0),
    }


def test_lenient_trace_id_merges_128_and_64_bit(spark, spans_df_factory):
    long_id = "463ac35c9f6413ad" + "48485a3953bb6124"
    spans = spans_df_factory(
        [
            make_span(trace_id=long_id, id="1", kind="CLIENT", local="frontend"),
            make_span(trace_id="48485a3953bb6124", id="1", kind="SERVER",
                      local="backend", shared=True),
        ]
    )
    # lenient (default): one trace, one folded link
    assert run_links(spark, spans) == {("frontend", "backend"): (1, 0)}
    # strict: two separate traces; the client-only one links, the headless
    # shared server has no caller info
    assert run_links(spark, spans, strict_trace_id=True) == {}


def test_f2_trace_root_window_drops_out_of_day_trace(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(trace_id="a" * 16, id="1", kind="CLIENT", local="a",
                      remote="b", timestamp=TS),
            make_span(trace_id="b" * 16, id="1", kind="CLIENT", local="c",
                      remote="d", timestamp=OTHER_DAY_TS),
            # headless trace passes the window regardless
            make_span(trace_id="c" * 16, id="2", parent_id="9", kind="CLIENT",
                      local="e", remote="f", timestamp=OTHER_DAY_TS),
        ]
    )
    assert run_links(spark, spans, day_filter=DayFilter.TRACE_ROOT) == {
        ("a", "b"): (1, 0),
        ("e", "f"): (1, 0),
    }


def test_f1_span_window_links_partial_traces(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(trace_id="a" * 16, id="1", kind="CLIENT", local="a",
                      remote="b", timestamp=OTHER_DAY_TS),  # root outside
            make_span(trace_id="a" * 16, id="2", parent_id="1", kind="CLIENT",
                      local="b", remote="c", timestamp=TS),  # child inside
        ]
    )
    # F1: the in-window child still links (partial trace)
    assert run_links(spark, spans, day_filter=DayFilter.SPAN_WINDOW) == {
        ("b", "c"): (1, 0),
    }
    # F2: root out of window kills the whole trace
    assert run_links(spark, spans, day_filter=DayFilter.TRACE_ROOT) == {}


def test_f3_day_partition_pruning(spark, spans_df_factory):
    spans = spans_df_factory(
        [
            make_span(trace_id="a" * 16, id="1", kind="CLIENT", local="a",
                      remote="b", day=DAY),
            make_span(trace_id="b" * 16, id="1", kind="CLIENT", local="c",
                      remote="d", day=DAY + dt.timedelta(days=1)),
        ]
    )
    assert run_links(spark, spans, day_filter=DayFilter.DAY_PARTITION) == {
        ("a", "b"): (1, 0),
    }


def test_duplicate_spans_deduped(spark, spans_df_factory):
    row = make_span(id="1", kind="CLIENT", local="frontend", remote="backend")
    spans = spans_df_factory([row, row, row])
    assert run_links(spark, spans) == {("frontend", "backend"): (1, 0)}


def test_dedupe_keeps_the_rows_drop_duplicates_keeps(spark):
    """``dedupe_spans`` (a window over the kernel's sort order) keeps the
    same multiset of rows as a ``dropDuplicates`` over every link-input
    column, the hash dedupe it replaced. Every column is drawn from null
    and two values, and a row may bring a twin that differs from it in one
    column only. Each row's 0-2 exact copies sit in later passes over the
    row list, so across two input partitions they arrive from different
    map tasks."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from zipkin_dependencies_spark.operators.dedup import dedupe_spans
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    values = {T.StringType(): ("a", "b"), T.BooleanType(): (False, True), T.LongType(): (0, 7)}
    types = [f.dataType for f in LINK_INPUT_SCHEMA]
    row = st.tuples(*(st.sampled_from((None, *values[t])) for t in types))
    twin_col = st.none() | st.integers(0, len(types) - 1)

    def twin(r, j):
        # r with column j nulled, or set if it was null
        v = values[types[j]][0] if r[j] is None else None
        return (*r[:j], v, *r[j + 1:])

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.tuples(row, st.integers(0, 2), twin_col), min_size=1, max_size=12))
    def run(drawn):
        rows = [twin(r, j) for r, _, j in drawn if j is not None]
        rows += [r for copies in range(3) for r, n, _ in drawn if copies <= n]
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), LINK_INPUT_SCHEMA
        )
        oracle = df.dropDuplicates(LINK_INPUT_SCHEMA.fieldNames())
        assert Counter(dedupe_spans(df).collect()) == Counter(oracle.collect())

    run()


def test_invalid_kind_dropped_not_fatal(spark, spans_df_factory):
    spans = spans_df_factory(
        [make_span(id="1", kind="BOGUS", local="frontend", remote="backend")]
    )
    # invalid kind → kind NULL; both endpoints present → treated as CLIENT
    assert run_links(spark, spans) == {("frontend", "backend"): (1, 0)}


def test_empty_input_yields_empty_output(spark, spans_df_factory):
    assert run_links(spark, spans_df_factory([])) == {}


def test_write_is_idempotent_per_day(spark, spans_df_factory, tmp_path):
    out = str(tmp_path / "links")
    spans = spans_df_factory(
        [make_span(id="1", kind="CLIENT", local="frontend", remote="backend")]
    )
    cfg = JobConfig(day="2016-05-31", spans_path="<mem>", links_path=out)
    job = DependencyLinksJob(spark, cfg)
    job.run(spans=spans)
    first = sorted(spark.read.parquet(out).collect())
    job.run(spans=spans)  # re-run same day: identical state, no duplication
    second = sorted(spark.read.parquet(out).collect())
    assert first == second
    assert [r.call_count for r in first] == [1]
    assert first[0].day == DAY


def test_empty_rerun_clears_the_day(spark, tmp_path):
    """Re-running a day that now has no links empties that day's partition
    (it keeps its schema) and leaves the other days alone."""
    from zipkin_dependencies_spark.sinks import write_links

    out = str(tmp_path / "links")
    schema = "parent string, child string, call_count long, error_count long"
    day = dt.date(2024, 3, 14)
    write_links(spark.createDataFrame([("a", "b", 3, 1)], schema), out, day)
    write_links(
        spark.createDataFrame([("c", "d", 1, 0)], schema), out,
        day + dt.timedelta(days=1),
    )
    write_links(spark.createDataFrame([], schema), out, day)
    rows = {(str(r.day), r.parent) for r in spark.read.parquet(out).collect()}
    assert rows == {("2024-03-15", "c")}
    assert spark.read.parquet(f"{out}/day=2024-03-14").count() == 0


def test_multi_day_write_keeps_other_partitions(spark, spans_df_factory, tmp_path):
    out = str(tmp_path / "links")
    d1 = spans_df_factory(
        [make_span(id="1", kind="CLIENT", local="a", remote="b")]
    )
    next_day = make_span(id="1", kind="CLIENT", local="c", remote="d",
                         timestamp=TS + 86_400_000_000,
                         day=DAY + dt.timedelta(days=1))
    d2 = spans_df_factory([next_day])
    DependencyLinksJob(
        spark, JobConfig(day="2016-05-31", spans_path="<m>", links_path=out)
    ).run(spans=d1)
    DependencyLinksJob(
        spark, JobConfig(day="2016-06-01", spans_path="<m>", links_path=out)
    ).run(spans=d2)
    rows = {(str(r.day), r.parent, r.child) for r in spark.read.parquet(out).collect()}
    assert rows == {
        ("2016-05-31", "a", "b"),
        ("2016-06-01", "c", "d"),
    }


def _sf_forest(spark):
    from __spark_entry__ import SF_SMOKE_DIR
    from zipkin_dependencies_spark.functions import normalize_spans
    from zipkin_dependencies_spark.testdata import derived_spans

    return normalize_spans(derived_spans(spark, SF_SMOKE_DIR))


def test_partitioned_links_match_python_linker(spark):
    """The sorted-stream path on the full sf0.001 forest must equal the
    pure-Python DependencyLinker run trace by trace over the collected
    spans, with the F2 root window off and on. The oracle feeds each trace
    in the kernel's identity-tuple order, nulls first, so multi-root traces
    elect the same root and duplicate reports merge the same way."""
    from collections import defaultdict

    from __spark_entry__ import WINDOW_1996_US
    from zipkin_dependencies_spark.linker import (
        DependencyLinker,
        Span,
        trace_in_day_window,
    )
    from zipkin_dependencies_spark.operators.link import links_from_spans

    def nulls_first(v):
        return (v is not None, "" if v is None else v)

    norm = _sf_forest(spark)
    cols = ("id", "shared", "parent_id", "kind", "local_service",
            "remote_service", "is_error", "timestamp")
    rows = sorted(norm.collect(), key=lambda r: [nulls_first(r[c]) for c in cols])
    traces = defaultdict(list)
    for r in rows:
        traces[r.trace_key].append(
            Span(
                parent_id=r.parent_id, id=r.id, kind=r.kind,
                local_service=r.local_service, remote_service=r.remote_service,
                shared=bool(r.shared), is_error=bool(r.is_error),
                timestamp=r.timestamp,
            )
        )
    for window in (None, WINDOW_1996_US):
        linker = DependencyLinker()
        kept = 0
        for spans in traces.values():
            if window is None or trace_in_day_window(spans, *window):
                linker.put_trace(spans)
                kept += 1
        want = {
            (l["parent"], l["child"], l["call_count"], l["error_count"])
            for l in linker.link()
        }
        got = {tuple(r) for r in links_from_spans(norm, window=window).collect()}
        assert got == want and len(want) > 0, window
        if window is not None:
            assert 0 < kept < len(traces)  # the window drops some traces


def test_kernels_agree_when_traces_straddle_arrow_batches(spark):
    """With 3-row Arrow batches most sf0.001 traces cross a batch boundary,
    so the sorted-stream helper's carry path runs for nearly every trace;
    the linker and the kernel path walker must give the same results as
    with the default batch size."""
    from zipkin_dependencies_spark.operators.link import links_from_spans
    from zipkin_dependencies_spark.operators.paths import trace_paths
    from zipkin_dependencies_spark.session import scoped_conf

    norm = _sf_forest(spark)

    def run():
        links = {tuple(r) for r in links_from_spans(norm).collect()}
        paths = sorted(tuple(r) for r in trace_paths(norm).collect())
        return links, paths

    default = run()
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}):
        small = run()
    assert small == default
    assert len(default[0]) > 0 and len(default[1]) > 0


def test_conflicting_reports_link_the_same_in_any_row_order(spark, spans_df_factory):
    """Two reports of one client span disagree on its callee (``back`` in
    one, ``db`` in the other). The kernel merges them first-non-null-wins,
    so its in-trace sort, not shuffle arrival order, must decide which
    report comes first: both row orders, each read as one input partition,
    give the same links."""
    from zipkin_dependencies_spark.functions import normalize_spans
    from zipkin_dependencies_spark.operators.link import links_from_spans

    root = make_span(id="a", kind="SERVER", local="front")
    to_back = make_span(id="c", parent_id="a", kind="CLIENT", local="front",
                        remote="back")
    to_db = make_span(id="c", parent_id="a", kind="CLIENT", local="front",
                      remote="db")

    def links(rows):
        spans = normalize_spans(spans_df_factory(rows).coalesce(1))
        return {tuple(r) for r in links_from_spans(spans).collect()}

    # the sort puts the lower remote_service first, so "back" wins
    assert links([root, to_back, to_db]) == {("front", "back", 1, 0)}
    assert links([root, to_db, to_back]) == {("front", "back", 1, 0)}
