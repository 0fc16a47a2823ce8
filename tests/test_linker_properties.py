"""Property-based tests for the pure-Python linker kernel (SURVEY §5 plan:
"property tests (random trace forests ⇒ linker invariants)").

Hypothesis generates random span forests; the invariants hold for EVERY
trace the reference could encounter, not just the curated scenario corpus in
test_linker.py. No Spark involved — this pins the column kernel the Arrow
operator runs (operators/link.py) to the ``Span`` oracle.
"""

from __future__ import annotations

from collections import Counter
from itertools import groupby

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_linker import LINK_FIELDS, columns_of
from zipkin_dependencies_spark.linker import (
    DependencyLinker,
    Span,
    link_columns,
    link_trace,
    roots_in_day_window,
    trace_in_day_window,
)

SERVICES = [None, "frontend", "backend", "db", "cache", "queue"]
KINDS = [None, "CLIENT", "SERVER", "PRODUCER", "CONSUMER", "bogus"]


@st.composite
def traces(draw, max_spans: int = 12):
    """A random single-trace span list: ids s0..sN or null, parents drawn
    from every id / None / a dangling id (headless traces and parent
    cycles), random kinds/endpoints/flags."""
    n = draw(st.integers(min_value=1, max_value=max_spans))
    ids = [None] + [f"s{j}" for j in range(n)]
    spans = []
    for _ in range(n):
        spans.append(
            Span(
                trace_id="t",
                id=draw(st.sampled_from(ids)),  # collisions ⇒ merges
                parent_id=draw(st.sampled_from([*ids, "dangling"])),
                kind=draw(st.sampled_from(KINDS)),
                local_service=draw(st.sampled_from(SERVICES)),
                remote_service=draw(st.sampled_from(SERVICES)),
                shared=draw(st.booleans()),
                is_error=draw(st.booleans()),
                timestamp=draw(
                    st.one_of(st.none(), st.integers(min_value=0, max_value=2**40))
                ),
            )
        )
    return spans


@given(traces())
@settings(max_examples=1000, deadline=None)
def test_column_kernel_matches_span_linker(spans):
    assert Counter(link_columns(*columns_of(spans))) == Counter(link_trace(spans))


@given(traces(), st.integers(0, 2**40), st.integers(0, 2**40))
@settings(max_examples=300, deadline=None)
def test_column_window_matches_span_window(spans, a, b):
    lo, hi = min(a, b), max(a, b)
    parents, stamps = [s.parent_id for s in spans], [s.timestamp for s in spans]
    assert roots_in_day_window(parents, stamps, lo, hi) == trace_in_day_window(spans, lo, hi)


@given(traces())
@settings(max_examples=300, deadline=None)
def test_no_null_sides_ever_emitted(spans):
    for parent, child, is_error in link_trace(spans):
        assert parent is not None
        assert child is not None
        assert isinstance(is_error, bool)


@given(traces())
@settings(max_examples=300, deadline=None)
def test_aggregate_invariants(spans):
    links = DependencyLinker().put_trace(spans).link()
    triples = link_trace(spans)
    assert sum(l["call_count"] for l in links) == len(triples)
    for l in links:
        assert l["call_count"] >= 1
        assert 0 <= l["error_count"] <= l["call_count"]


@given(traces())
@settings(max_examples=300, deadline=None)
def test_emission_bounded_by_two_per_span(spans):
    # each merged span node emits at most one link plus at most one
    # ancestor→client backfill; merging never increases node count
    distinct_nodes = len({(s.id, bool(s.shared)) for s in spans})
    assert len(link_trace(spans)) <= 2 * distinct_nodes


@given(traces())
@settings(max_examples=300, deadline=None)
def test_exact_replay_is_idempotent(spans):
    # storage replay: duplicated identical spans merge by (id, shared) —
    # the D1 dedupe semantics must already hold inside the kernel
    assert sorted(link_trace(spans + spans)) == sorted(link_trace(spans))


#: a span report as the linker task sees it, in the order the kernel's
#: in-trace sort uses (operators/link.py::trace_links_partitioned)
SORT_FIELDS = (
    "id", "shared", "parent_id", "kind", "local_service", "remote_service",
    "is_error", "timestamp",
)


def _kernel_output(rows: list[tuple], lo: int, hi: int) -> tuple:
    """``link_columns`` and ``roots_in_day_window`` on SORT_FIELDS rows."""
    cols = dict(zip(SORT_FIELDS, map(list, zip(*rows))))
    links = Counter(link_columns(*(cols[f] for f in LINK_FIELDS)))
    return links, roots_in_day_window(cols["parent_id"], cols["timestamp"], lo, hi)


@given(traces(), st.data(), st.integers(0, 2**40), st.integers(0, 2**40))
@settings(max_examples=500, deadline=None)
def test_duplicate_reports_never_change_the_column_kernel(spans, data, a, b):
    # a trace stream sorted only on (id, shared), its reports in any order
    # within a span; copies of any reports, each placed anywhere after its
    # original inside that span's run, change neither the links nor the F2
    # window. The kernel's full identity sort is one such order (each copy
    # lands beside its original), so the dedupe never changes the links
    lo, hi = min(a, b), max(a, b)
    distinct = dict.fromkeys(tuple(getattr(s, f) for f in SORT_FIELDS) for s in spans)
    # Spark's ascending sort: nulls first
    reports = sorted(
        data.draw(st.permutations(list(distinct))),
        key=lambda r: [(v is not None, v) for v in r[:2]],
    )
    replayed: list[tuple] = []
    for _, run in groupby(reports, key=lambda r: r[:2]):
        run = list(run)
        for report in list(run):
            for _ in range(data.draw(st.integers(0, 2))):
                after = run.index(report) + 1
                run.insert(data.draw(st.integers(after, len(run))), report)
        replayed += run
    assert _kernel_output(replayed, lo, hi) == _kernel_output(reports, lo, hi)


@given(traces(), st.integers(0, 2**40), st.integers(0, 2**40))
@settings(max_examples=200, deadline=None)
def test_day_window_monotone_in_window(spans, a, b):
    lo, hi = min(a, b), max(a, b)
    # widening the window can only keep more traces
    if trace_in_day_window(spans, lo, hi):
        assert trace_in_day_window(spans, max(0, lo - 1), hi + 1)


@given(traces())
@settings(max_examples=200, deadline=None)
def test_multi_trace_accumulation_is_sum_of_traces(spans):
    # DependencyLinker over two traces == elementwise sum of per-trace runs
    half = len(spans) // 2
    t1 = spans[:half]
    t2 = [s for s in spans[half:]]
    acc = DependencyLinker().put_trace(t1).put_trace(t2).link()
    expected: dict = {}
    for t in (t1, t2):
        for parent, child, is_error in link_trace(t):
            c, e = expected.get((parent, child), (0, 0))
            expected[(parent, child)] = (c + 1, e + int(is_error))
    got = {(l["parent"], l["child"]): (l["call_count"], l["error_count"]) for l in acc}
    assert got == expected
