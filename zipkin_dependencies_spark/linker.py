"""Per-trace dependency linking — the semantic core of the engine.

Pure Python, no Spark imports: this module is the unit-testable kernel that the
sorted-stream ``mapInPandas`` operator (``operators/link.py``) runs once per
trace of each repartitioned, sorted partition. Semantics
re-implement the behavior of the external ``zipkin2.internal.DependencyLinker``
+ ``zipkin2.internal.SpanNode`` (zipkin 3.6.0) as invoked by the reference at:

- cassandra3/.../SpansToDependencyLinks.java:45
- mysql/.../RowsToDependencyLinks.java:38-46
- elasticsearch/.../TraceIdAndJsonToDependencyLinks.java:45-47

and as specified in SURVEY.md §2.6. Summary of the contract:

1. **Tree build**: spans of one trace are merged by ``(id, shared)`` (duplicate
   reports of the same span unify), then assembled into a parent/child tree.
   A ``shared=true`` span (the server half of an RPC that reuses the client's
   span id) attaches under the client span with the same id; children of a
   shared span attach under the shared (server) copy in preference to the
   client copy. Spans whose parent is absent hang off the root (synthetic if
   no root span exists) — headless traces still link.
2. **BFS traversal**, per node:
   - ``kind is None``: treated as CLIENT when both local+remote service names
     are present, otherwise the node is a local span and is skipped.
   - SERVER|CONSUMER: parent=remote service, child=local service. A *root*
     SERVER/CONSUMER with unknown remote is skipped (no known caller).
   - CLIENT|PRODUCER: parent=local service, child=remote service.
   - PRODUCER/CONSUMER link only when both sides are known (no broker
     inference via ancestors), then continue.
   - CLIENT spans with a same-RPC SERVER child are skipped — the server names
     the link with authority (this is what makes an instrumented client+server
     pair count once, not twice).
   - RPC spans missing the parent side walk **up** to the nearest non-local
     ancestor (non-local = has a kind or a remote endpoint) and use its local
     service name as the link parent. A CLIENT span whose local name differs
     from that ancestor's name also back-fills one ``ancestor→client`` link
     with error=False.
   - ``is_error`` = span has an ``error`` tag; a non-error SERVER span whose
     rpc ancestor is the CLIENT half of the same RPC inherits that client's
     error flag.
   - Emit ``(parent, child, is_error)`` unless either side is unknown.
3. **link()**: aggregate emitted triples to
   ``(parent, child, call_count, error_count)``.

Known deviation from the reference noted for the record: the reference's MySQL
row walker (mysql/.../DependencyLinkSpanIterator.java:95-123) reads ``a_key`` /
``endpoint_service_name`` from the *first* row of each span group rather than
the row being consumed (stale ``row`` vs ``next``), which would ignore all but
the first annotation; we implement the evidently-intended per-row semantics
(see sources/v1.py).
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field, replace
from typing import Iterable, Optional

VALID_KINDS = frozenset({"CLIENT", "SERVER", "PRODUCER", "CONSUMER"})


@dataclass(frozen=True)
class Span:
    """The 8 logical fields the linker consumes (SURVEY §1.1).

    ``local_service`` / ``remote_service`` are pre-extracted endpoint service
    names (empty strings must be normalized to None upstream — P6).
    ``is_error`` is the pre-extracted ``tags contains key 'error'`` flag (P5).
    """

    trace_id: Optional[str] = None
    parent_id: Optional[str] = None
    id: Optional[str] = None
    kind: Optional[str] = None          # CLIENT|SERVER|PRODUCER|CONSUMER|None
    local_service: Optional[str] = None
    remote_service: Optional[str] = None
    shared: bool = False
    is_error: bool = False
    timestamp: Optional[int] = None     # epoch µs; only day-filter F2 reads it


@dataclass
class _Node:
    span: Optional[Span]                # None ⇒ synthetic root
    parent: Optional["_Node"] = None
    children: list = field(default_factory=list)

    def add_child(self, node: "_Node") -> None:
        node.parent = self
        self.children.append(node)


def _merge_spans(a: Span, b: Span) -> Span:
    """Unify two reports of the same (id, shared) span: first non-null field
    wins, error flags OR together (mirrors span merging in the zipkin model)."""
    return Span(
        trace_id=a.trace_id or b.trace_id,
        parent_id=a.parent_id or b.parent_id,
        id=a.id or b.id,
        kind=a.kind or b.kind,
        local_service=a.local_service or b.local_service,
        remote_service=a.remote_service or b.remote_service,
        shared=a.shared or b.shared,
        is_error=a.is_error or b.is_error,
        timestamp=a.timestamp if a.timestamp is not None else b.timestamp,
    )


def build_tree(spans: Iterable[Span]) -> _Node:
    """Assemble one trace's spans into a parent/child tree (§2.6 step 1)."""
    merged: dict = {}
    order: list = []
    for s in spans:
        key = (s.id, bool(s.shared))
        if key in merged:
            merged[key] = _merge_spans(merged[key], s)
        else:
            merged[key] = s
            order.append(key)

    nodes = {key: _Node(merged[key]) for key in order}

    # Root: the first non-shared span without a parent id. Everything whose
    # parent cannot be resolved attaches to the root (synthetic if absent).
    root_key = None
    for key in order:
        s = merged[key]
        if s.parent_id is None and not s.shared:
            root_key = key
            break
    root = nodes[root_key] if root_key is not None else _Node(None)

    for key in order:
        if key == root_key:
            continue
        s = merged[key]
        node = nodes[key]
        if s.shared:
            # server half: hangs under the client half with the same id when
            # present, else under its propagated parent id.
            candidates = [(s.id, False), (s.parent_id, True), (s.parent_id, False)]
        else:
            # prefer the shared (server) copy of the parent: the child span
            # was created inside the server process.
            candidates = [(s.parent_id, True), (s.parent_id, False)]
        parent_node = None
        for cand in candidates:
            if cand[0] is None or cand == key:
                continue
            found = nodes.get(cand)
            if found is not None and found is not node:
                parent_node = found
                break
        if parent_node is None:
            parent_node = root
        parent_node.add_child(node)

    # Guard against cycles (a…→a parent loops): re-attach any node unreachable
    # from the root directly to the root.
    reachable = set()
    stack = [root]
    while stack:
        n = stack.pop()
        if id(n) in reachable:
            continue
        reachable.add(id(n))
        stack.extend(n.children)
    for key in order:
        node = nodes[key]
        if id(node) not in reachable:
            # break the cycle at this node
            if node.parent is not None and node in node.parent.children:
                node.parent.children.remove(node)
            root.add_child(node)
            stack = [node]
            while stack:
                n = stack.pop()
                reachable.add(id(n))
                stack.extend(c for c in n.children if id(c) not in reachable)
    return root


def _bfs(root: _Node):
    q = deque([root])
    while q:
        node = q.popleft()
        yield node
        q.extend(node.children)


def _first_remote_ancestor(node: _Node) -> Optional[_Node]:
    """Nearest ancestor that is not a purely-local span.

    Local = no kind AND no remote endpoint (SURVEY §2.6 bullet 6)."""
    anc = node.parent
    while anc is not None:
        s = anc.span
        if s is not None and (s.kind is not None or s.remote_service is not None):
            return anc
        anc = anc.parent
    return None


def _is_same_rpc_server_child(parent_span: Span, child: Span) -> bool:
    if child.kind != "SERVER":
        return False
    if child.shared and child.id == parent_span.id:
        return True          # shared span id style
    return child.parent_id is not None and child.parent_id == parent_span.id


def link_trace(spans: Iterable[Span]) -> list[tuple]:
    """Derive ``(parent, child, is_error)`` triples for one trace (§2.6 step 2)."""
    spans = list(spans)
    if not spans:
        return []
    root = build_tree(spans)
    out: list[tuple] = []

    for node in _bfs(root):
        span = node.span
        if span is None:
            continue  # synthetic root
        kind = span.kind if span.kind in VALID_KINDS else None
        service = span.local_service
        remote = span.remote_service

        if kind is None:
            if service is not None and remote is not None:
                kind = "CLIENT"  # unknown kind with both sides ⇒ client
            else:
                continue  # purely local span

        if kind in ("SERVER", "CONSUMER"):
            child_name, parent_name = service, remote
            if node.parent is None or (node.parent.span is None and node.parent.parent is None):
                # root-most span: its caller is outside the trace
                if parent_name is None:
                    continue
        else:  # CLIENT | PRODUCER
            parent_name, child_name = service, remote

        is_error = span.is_error

        if kind in ("PRODUCER", "CONSUMER"):
            if parent_name is None or child_name is None:
                continue  # cannot link a messaging span to its broker
            out.append((parent_name, child_name, is_error))
            continue

        # RPC path (CLIENT | SERVER)
        if kind == "CLIENT" and any(
            c.span is not None and _is_same_rpc_server_child(span, c.span)
            for c in node.children
        ):
            # defer to the server side of the same RPC — it names the link
            # with authority and avoids double-counting.
            continue

        rpc_ancestor = _first_remote_ancestor(node)
        if rpc_ancestor is not None and rpc_ancestor.span is not None:
            anc_span = rpc_ancestor.span
            anc_name = anc_span.local_service
            if anc_name is not None:
                # some instrumentation put the remote name on client spans:
                # backfill the missing hop ancestor→client (error unknown).
                if kind == "CLIENT" and service is not None and anc_name != service:
                    out.append((anc_name, service, False))
                if parent_name is None:
                    parent_name = anc_name
            # error attribution: the client half of this same RPC carries the
            # error tag even though the server half doesn't.
            if (
                not is_error
                and kind == "SERVER"
                and anc_span.kind == "CLIENT"
                and (
                    (span.shared and span.id == anc_span.id)
                    or (span.parent_id is not None and span.parent_id == anc_span.id)
                )
            ):
                is_error = anc_span.is_error

        if parent_name is None or child_name is None:
            continue
        out.append((parent_name, child_name, is_error))
    return out


class DependencyLinker:
    """Accumulates links across traces; mirrors the reference's usage pattern
    (one instance per task, ``putTrace`` per trace group, then ``link()``)."""

    def __init__(self) -> None:
        self._call_counts: dict = {}
        self._error_counts: dict = {}

    def put_trace(self, spans: Iterable[Span]) -> "DependencyLinker":
        for parent, child, is_error in link_trace(spans):
            key = (parent, child)
            self._call_counts[key] = self._call_counts.get(key, 0) + 1
            if is_error:
                self._error_counts[key] = self._error_counts.get(key, 0) + 1
        return self

    def link(self) -> list[dict]:
        """→ ``[{parent, child, call_count, error_count}]`` (§2.6 step 3)."""
        return [
            {
                "parent": parent,
                "child": child,
                "call_count": count,
                "error_count": self._error_counts.get((parent, child), 0),
            }
            for (parent, child), count in self._call_counts.items()
        ]


def trace_in_day_window(spans: Iterable[Span], start_ts: int, end_ts: int) -> bool:
    """F2 (Cassandra-parity) per-trace root-timestamp filter: if ANY root span
    (parent_id is None) has a missing/zero timestamp or one outside
    ``[start_ts, end_ts]`` the whole trace is dropped; headless traces pass
    (cassandra3/.../SpansToDependencyLinks.java:36-42)."""
    for s in spans:
        if s.parent_id is None:
            ts = s.timestamp or 0
            if ts == 0 or ts < start_ts or ts > end_ts:
                return False
    return True
