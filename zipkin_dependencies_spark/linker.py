"""Per-trace dependency linking — the semantic core of the engine.

Pure Python, no Spark imports: this module is the unit-testable kernel.
``link_columns`` is what the sorted-stream ``mapInPandas`` operator
(``operators/link.py``) runs once per trace of each repartitioned, sorted
partition; the ``Span`` object model (``build_tree``, ``link_trace``,
``DependencyLinker.put_trace``) is the reference it is tested against. Semantics
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

#: the one span-kind set; the Spark-side kind cleaners test against it too
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


def link_columns(
    parent_id: list,
    id: list,
    kind: list,
    local_service: list,
    remote_service: list,
    shared: list,
    is_error: list,
) -> list[tuple]:
    """``link_trace`` on one trace's column lists, without ``Span`` objects.

    Row ``j`` of the lists is one span report: strings or None, flags
    ``bool``. Returns exactly ``link_trace``'s triples in its order; the
    tree is integer slots (one per merged ``(id, shared)`` span, plus slot
    ``m`` for a synthetic root) instead of ``_Node`` objects."""
    n = len(id)
    if n == 0:
        return []
    slot_of = dict(zip(zip(id, shared), range(n)))
    if len(slot_of) == n:  # no duplicate reports: the rows are the slots
        par, ids, kinds, local, remote, shr, err = (
            parent_id, id, kind, local_service, remote_service, shared, is_error,
        )
    else:  # merge duplicates into the first report's slot (_merge_spans)
        slot_of = {}
        par, ids, kinds, local, remote, shr, err = [], [], [], [], [], [], []
        for p, i, k, ls, rs, sh, er in zip(
            parent_id, id, kind, local_service, remote_service, shared, is_error
        ):
            s = slot_of.get((i, sh))
            if s is None:
                slot_of[(i, sh)] = len(ids)
                par.append(p)
                ids.append(i)
                kinds.append(k)
                local.append(ls)
                remote.append(rs)
                shr.append(sh)
                err.append(er)
            else:
                par[s] = par[s] or p
                kinds[s] = kinds[s] or k
                local[s] = local[s] or ls
                remote[s] = remote[s] or rs
                err[s] = err[s] or er
    m = len(ids)

    # root: the first non-shared slot without a parent id, else synthetic
    root = m
    for s in range(m):
        if par[s] is None and not shr[s]:
            root = s
            break
    up = [-1] * (m + 1)
    kids: list[list[int]] = [[] for _ in range(m + 1)]
    get = slot_of.get
    for s in range(m):
        if s == root:
            continue
        p, i = par[s], ids[s]
        # build_tree's candidate order; a candidate equal to the slot's own
        # key is skipped
        a = None
        if shr[s]:
            if i is not None:
                a = get((i, False))
            if a is None and p is not None:
                if p != i:
                    a = get((p, True))
                if a is None:
                    a = get((p, False))
        elif p is not None:
            a = get((p, True))
            if a is None and p != i:
                a = get((p, False))
        if a is None:
            a = root
        up[s] = a
        kids[a].append(s)

    order = [root]
    for x in order:  # BFS: the list grows while it is walked
        order.extend(kids[x])
    if len(order) < m + (root == m):
        # a parent cycle left slots unreachable: re-attach each to the root
        seen = [False] * (m + 1)
        for x in order:
            seen[x] = True
        for s in range(m):
            if seen[s]:
                continue
            kids[up[s]].remove(s)
            up[s] = root
            kids[root].append(s)
            stack = [s]
            while stack:
                x = stack.pop()
                seen[x] = True
                stack.extend(c for c in kids[x] if not seen[c])
        order = [root]
        for x in order:
            order.extend(kids[x])

    out: list[tuple] = []
    anc = [-1] * (m + 1)  # nearest non-local ancestor slot, -1 if none
    for s in order:
        if s == m:
            continue  # synthetic root: its children have no ancestor
        children = kids[s]
        if children:
            a = s if kinds[s] is not None or remote[s] is not None else anc[s]
            for c in children:
                anc[c] = a
        kind_s = kinds[s]
        if kind_s not in VALID_KINDS:
            kind_s = None
        service, remote_s = local[s], remote[s]
        if kind_s is None:
            if service is None or remote_s is None:
                continue  # purely local span
            kind_s = "CLIENT"
        if kind_s == "SERVER" or kind_s == "CONSUMER":
            child_name, parent_name = service, remote_s
            if parent_name is None and (s == root or up[s] == m):
                continue  # root-most span: its caller is outside the trace
        else:
            parent_name, child_name = service, remote_s
        is_err = err[s]
        if kind_s == "PRODUCER" or kind_s == "CONSUMER":
            if parent_name is not None and child_name is not None:
                out.append((parent_name, child_name, is_err))
            continue
        sid = ids[s]
        if kind_s == "CLIENT":
            deferred = False
            for c in children:
                if kinds[c] == "SERVER" and (
                    (shr[c] and ids[c] == sid) or (par[c] is not None and par[c] == sid)
                ):
                    deferred = True  # the same RPC's server half names the link
                    break
            if deferred:
                continue
        a = anc[s]
        if a >= 0:
            anc_name = local[a]
            if anc_name is not None:
                if kind_s == "CLIENT" and service is not None and anc_name != service:
                    out.append((anc_name, service, False))
                if parent_name is None:
                    parent_name = anc_name
            if (
                not is_err
                and kind_s == "SERVER"
                and kinds[a] == "CLIENT"
                and (
                    (shr[s] and sid == ids[a])
                    or (par[s] is not None and par[s] == ids[a])
                )
            ):
                is_err = err[a]
        if parent_name is not None and child_name is not None:
            out.append((parent_name, child_name, is_err))
    return out


class DependencyLinker:
    """Accumulates links across traces; mirrors the reference's usage pattern
    (one instance per task, ``putTrace`` per trace group, then ``link()``)."""

    def __init__(self) -> None:
        self._call_counts: dict = {}
        self._error_counts: dict = {}

    def put_trace(self, spans: Iterable[Span]) -> "DependencyLinker":
        return self.put_links(link_trace(spans))

    def put_links(self, triples: Iterable[tuple]) -> "DependencyLinker":
        """Count one trace's ``(parent, child, is_error)`` triples."""
        for parent, child, is_error in triples:
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


def roots_in_day_window(
    parent_id: list, timestamp: list, start_ts: int, end_ts: int
) -> bool:
    """``trace_in_day_window`` on one trace's parent-id and timestamp
    column lists."""
    for p, ts in zip(parent_id, timestamp):
        if p is None:
            ts = ts or 0
            if ts == 0 or ts < start_ts or ts > end_ts:
                return False
    return True
