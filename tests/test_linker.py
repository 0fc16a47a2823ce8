"""Linker scenario corpus — mirrors the [EXT] ITDependencies behavioral suite
(SURVEY §5 layer 2, FIXTURES.md §F4). Pure Python, no Spark.

Every case runs through both linkers: the ``Span`` object model
(``link_trace``, the oracle) and the column kernel the Spark operators run
(``link_columns``); ``links_of`` and ``in_window`` assert they agree."""

from __future__ import annotations

from zipkin_dependencies_spark.linker import (
    DependencyLinker,
    Span,
    link_columns,
    link_trace,
    roots_in_day_window,
    trace_in_day_window,
)

#: ``link_columns``' arguments, as ``Span`` fields
LINK_FIELDS = (
    "parent_id", "id", "kind", "local_service", "remote_service", "shared", "is_error",
)


def columns_of(spans) -> list[list]:
    """One trace's spans → ``link_columns``' column lists."""
    return [[getattr(s, f) for s in spans] for f in LINK_FIELDS]


def links_of(spans):
    def table(linker):
        return {
            (l["parent"], l["child"]): (l["call_count"], l["error_count"])
            for l in linker.link()
        }

    want = table(DependencyLinker().put_trace(spans))
    assert table(DependencyLinker().put_links(link_columns(*columns_of(spans)))) == want
    return want


def in_window(spans, start_ts, end_ts) -> bool:
    want = trace_in_day_window(spans, start_ts, end_ts)
    parents, stamps = [s.parent_id for s in spans], [s.timestamp for s in spans]
    assert roots_in_day_window(parents, stamps, start_ts, end_ts) == want
    return want


T = "000000000000000a"


def test_f4_1_instrumented_client_server_shared_span_counts_once():
    spans = [
        Span(trace_id=T, id="0000000000000001", kind="CLIENT",
             local_service="frontend", remote_service="backend"),
        Span(trace_id=T, id="0000000000000001", kind="SERVER", shared=True,
             local_service="backend", remote_service="frontend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_1b_separate_span_client_server_counts_once():
    # non-shared style: server creates its own span parented to the client's
    spans = [
        Span(trace_id=T, id="0000000000000001", kind="SERVER", local_service="frontend"),
        Span(trace_id=T, id="0000000000000002", parent_id="0000000000000001",
             kind="CLIENT", local_service="frontend", remote_service="backend"),
        Span(trace_id=T, id="0000000000000003", parent_id="0000000000000002",
             kind="SERVER", local_service="backend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_2_client_only_uninstrumented_server():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT",
             local_service="frontend", remote_service="backend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_3_server_only_root_with_remote():
    spans = [
        Span(trace_id=T, id="1", kind="SERVER",
             local_service="backend", remote_service="frontend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_3b_root_server_without_remote_is_skipped():
    spans = [Span(trace_id=T, id="1", kind="SERVER", local_service="backend")]
    assert links_of(spans) == {}


def test_f4_5_headless_trace_still_links():
    # no root span: parent ids point outside the trace
    spans = [
        Span(trace_id=T, id="2", parent_id="dead", kind="CLIENT",
             local_service="frontend", remote_service="backend"),
        Span(trace_id=T, id="2", parent_id="dead", kind="SERVER", shared=True,
             local_service="backend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_7_intermediate_local_span_ancestor_walk():
    # web --(local span)--> client(no remote) -> shared server app
    spans = [
        Span(trace_id=T, id="1", kind="SERVER", local_service="web",
             remote_service="user-agent"),
        Span(trace_id=T, id="2", parent_id="1", local_service="web"),  # local
        Span(trace_id=T, id="3", parent_id="2", kind="CLIENT", local_service="web"),
        Span(trace_id=T, id="3", parent_id="2", kind="SERVER", shared=True,
             local_service="app"),
    ]
    assert links_of(spans) == {
        ("user-agent", "web"): (1, 0),
        ("web", "app"): (1, 0),
    }


def test_f4_7b_server_missing_remote_infers_parent_from_client_ancestor():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT", local_service="frontend"),
        Span(trace_id=T, id="1", kind="SERVER", shared=True, local_service="backend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_8_null_kind_with_both_endpoints_is_client():
    spans = [
        Span(trace_id=T, id="1", local_service="frontend", remote_service="backend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 0)}


def test_f4_8b_null_kind_one_side_is_local_span_skipped():
    spans = [Span(trace_id=T, id="1", local_service="frontend")]
    assert links_of(spans) == {}


def test_f4_9_producer_consumer_via_broker():
    spans = [
        Span(trace_id=T, id="1", kind="PRODUCER",
             local_service="producer", remote_service="kafka"),
        Span(trace_id=T, id="2", parent_id="1", kind="CONSUMER",
             local_service="consumer", remote_service="kafka"),
    ]
    assert links_of(spans) == {
        ("producer", "kafka"): (1, 0),
        ("kafka", "consumer"): (1, 0),
    }


def test_f4_9b_producer_without_broker_no_link_no_ancestor_inference():
    spans = [
        Span(trace_id=T, id="1", kind="SERVER", local_service="app",
             remote_service="web"),
        Span(trace_id=T, id="2", parent_id="1", kind="PRODUCER",
             local_service="app"),  # no remote: no broker inference
    ]
    assert links_of(spans) == {("web", "app"): (1, 0)}


def test_f4_10_loopback_self_link():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT",
             local_service="frontend", remote_service="frontend"),
    ]
    assert links_of(spans) == {("frontend", "frontend"): (1, 0)}


def test_f4_11_error_on_server_span():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT", local_service="frontend"),
        Span(trace_id=T, id="1", kind="SERVER", shared=True,
             local_service="backend", is_error=True),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 1)}


def test_f4_11b_error_on_client_half_attributed_to_shared_link():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT", local_service="frontend",
             is_error=True),
        Span(trace_id=T, id="1", kind="SERVER", shared=True,
             local_service="backend"),
    ]
    assert links_of(spans) == {("frontend", "backend"): (1, 1)}


def test_f4_11c_error_count_le_call_count():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT",
             local_service="a", remote_service="b", is_error=True),
        Span(trace_id="000000000000000b", id="9", kind="CLIENT",
             local_service="a", remote_service="b"),
    ]
    want = [{"parent": "a", "child": "b", "call_count": 2, "error_count": 1}]
    links = DependencyLinker().put_trace([spans[0]]).put_trace([spans[1]]).link()
    assert links == want
    links = (
        DependencyLinker()
        .put_links(link_columns(*columns_of([spans[0]])))
        .put_links(link_columns(*columns_of([spans[1]])))
        .link()
    )
    assert links == want


def test_f4_12_duplicate_spans_dedupe_in_tree_merge():
    s = Span(trace_id=T, id="1", kind="CLIENT",
             local_service="frontend", remote_service="backend")
    assert links_of([s, s, s]) == {("frontend", "backend"): (1, 0)}


def test_f4_16_heavy_fanout_trace():
    spans = [Span(trace_id=T, id="0" * 16, kind="SERVER",
                  local_service="root", remote_service="lb")]
    for i in range(1, 10_001):
        sid = format(i, "016x")
        spans.append(Span(trace_id=T, id=sid, parent_id="0" * 16, kind="CLIENT",
                          local_service="root", remote_service=f"svc{i % 7}"))
    links = links_of(spans)
    assert links[("lb", "root")] == (1, 0)
    total = sum(c for (p, c_), (c, e) in [((k), v) for k, v in links.items()]
                if False) or sum(v[0] for k, v in links.items() if k[0] == "root")
    assert total == 10_000


def test_backfill_client_local_differs_from_ancestor():
    # client span reported with the *remote* service's name as its local name
    spans = [
        Span(trace_id=T, id="1", kind="SERVER", local_service="web",
             remote_service="user-agent"),
        Span(trace_id=T, id="2", parent_id="1", kind="CLIENT",
             local_service="app", remote_service="db"),
    ]
    assert links_of(spans) == {
        ("user-agent", "web"): (1, 0),
        ("web", "app"): (1, 0),   # backfilled hop
        ("app", "db"): (1, 0),
    }


def test_unnamed_endpoints_skipped():
    spans = [
        Span(trace_id=T, id="1", kind="CLIENT", remote_service="backend"),
    ]
    assert links_of(spans) == {}


def test_empty_trace():
    assert link_trace([]) == []
    assert link_columns(*columns_of([])) == []


# --- F2 day-window semantics (scenario 6) -----------------------------------

DAY_US = 86_400_000_000


def test_f4_6_root_ts_outside_window_drops_trace():
    spans = [
        Span(trace_id=T, id="1", kind="SERVER", local_service="a",
             remote_service="b", timestamp=DAY_US * 2),
    ]
    assert not in_window(spans, DAY_US * 3, DAY_US * 4 - 1)
    assert in_window(spans, DAY_US * 2, DAY_US * 3 - 1)


def test_f4_6b_zero_or_missing_root_ts_drops_trace():
    assert not in_window(
        [Span(trace_id=T, id="1", timestamp=0)], 0, DAY_US)
    assert not in_window(
        [Span(trace_id=T, id="1", timestamp=None)], 0, DAY_US)


def test_f4_6c_headless_trace_passes_window():
    spans = [Span(trace_id=T, id="2", parent_id="1", timestamp=5)]
    assert in_window(spans, DAY_US, DAY_US * 2)
