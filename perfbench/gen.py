"""Seeded span-day generator for the dependency-links benchmark.

Each workload is a set of span files plus the dependency links the daily
job must write for them. The expected links come from the generator's own
construction: every RPC or messaging hop it emits records the link the
zipkin linking rules assign to it, so the check never runs the linker it
is checking. ``perfbench/test_gen.py`` cross-checks the construction
against ``linker.DependencyLinker`` on small seeds.

Trace shapes (v2 spans, zipkin field names, ``SPAN_SCHEMA`` columns):

- call trees over Zipf-popular services, with depth and fan-out per trace;
- RPC hops in three styles: a shared span id for client and server, a
  server span with its own id under the client span, and a client span to
  an uninstrumented backend (sometimes kind-less with both endpoints set);
- producer/consumer pairs through a broker;
- kind-less local spans between a server span and its outgoing calls;
- replayed duplicate spans, mixed 64/128-bit trace ids, error tags;
- traces rooted in the last minute of the previous day, which the
  cassandra3 profile's root-window filter drops whole.

Files are written with pyarrow, one ``day=YYYY-MM-DD`` directory per UTC
day, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import deque
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

#: the UTC day every workload aggregates
DAY = dt.date(2024, 3, 14)
US_PER_DAY = 86_400_000_000
DAY_START_US = int(
    dt.datetime(DAY.year, DAY.month, DAY.day, tzinfo=dt.timezone.utc).timestamp()
) * 1_000_000

SERVICES = tuple(f"svc-{i:03d}" for i in range(200))
BACKENDS = ("mysql", "redis", "memcached", "object-store", "payments-api", "geo-api")
BROKERS = ("kafka", "rabbitmq")
EDGE = "edge-lb"


PREV_DAY_SHARE = 0.03  # traces rooted in the previous day
DUP_SHARE = 0.03       # replayed duplicate spans
ERROR_SHARE = 0.02     # spans tagged with an error
FILES = 8              # parquet files per day partition of more than 10k spans


@dataclass(frozen=True)
class Shape:
    """Size of one workload."""

    spans: int                # approximate spans generated
    giants: int = 0           # giant traces
    giant_share: float = 0.0  # share of spans held by the giant traces


SHAPES = {
    "day_typical": Shape(spans=100_000),
    "day_skewed": Shape(spans=100_000, giants=5, giant_share=0.4),
}


def _mix64(x: int) -> int:
    """splitmix64 finalizer: a bijection on 64-bit ints, so distinct
    counters give distinct ids."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


_ENDPOINT = pa.struct(
    [
        ("service_name", pa.string()),
        ("ipv4", pa.string()),
        ("ipv6", pa.string()),
        ("port", pa.int32()),
    ]
)

#: SPAN_SCHEMA without the ``day`` partition column, which is the directory
ARROW_SPAN_SCHEMA = pa.schema(
    [
        ("trace_id", pa.string()),
        ("parent_id", pa.string()),
        ("id", pa.string()),
        ("kind", pa.string()),
        ("name", pa.string()),
        ("timestamp", pa.int64()),
        ("duration", pa.int64()),
        ("local_endpoint", _ENDPOINT),
        ("remote_endpoint", _ENDPOINT),
        ("annotations", pa.list_(pa.struct([("timestamp", pa.int64()), ("value", pa.string())]))),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("shared", pa.bool_()),
        ("debug", pa.bool_()),
    ]
)

ARROW_LINK_SCHEMA = pa.schema(
    [
        ("parent", pa.string()),
        ("child", pa.string()),
        ("call_count", pa.int64()),
        ("error_count", pa.int64()),
    ]
)


class Day:
    """Spans of one generated workload plus the links they must produce.

    ``traces`` keeps each trace's rows (for the cross-check against the
    linker); ``expected`` maps (parent, child) to [call_count, error_count]
    over the traces whose root falls inside the day."""

    def __init__(self, seed: int, shape: Shape):
        self.rng = random.Random(seed)
        self.shape = shape
        self.trace_base = _mix64(seed) << 20
        self.n_traces = 0
        self.n_spans = 0
        self.linked_spans = 0  # distinct spans of traces the day filter keeps
        self.traces: list[list[tuple]] = []
        self.expected: dict[tuple[str, str], list[int]] = {}
        zipf = [1.0 / (r + 1) ** 1.1 for r in range(len(SERVICES))]
        self._cum = []
        acc = 0.0
        for w in zipf:
            acc += w
            self._cum.append(acc)

    # -- pickers ------------------------------------------------------------
    def _service(self, not_this: str | None = None) -> str:
        while True:
            s = SERVICES[self.rng.choices(range(len(SERVICES)), cum_weights=self._cum)[0]]
            if s != not_this:
                return s

    def _err(self) -> bool:
        return self.rng.random() < ERROR_SHARE

    # -- one trace ----------------------------------------------------------
    def add_trace(self, target: int, max_depth: int, fanout: tuple[int, int], root_ts: int) -> None:
        rng = self.rng
        t = self.n_traces
        self.n_traces += 1
        wide = rng.random() < 0.3
        tid = _mix64(self.trace_base + t)
        trace_id = f"{_mix64(tid):016x}{tid:016x}" if wide else f"{tid:016x}"
        seq = 0

        def new_id() -> str:
            nonlocal seq
            seq += 1
            return f"{_mix64((self.trace_base + t) * 4096 + seq):016x}"

        rows: list[tuple] = []
        links: list[tuple[str, str, bool]] = []

        def span(kind, sid, parent, local, remote, shared, err, ts):
            rows.append((trace_id, parent, sid, kind, local, remote, shared, err, ts))

        root_svc = self._service()
        root_id = new_id()
        roll = rng.random()
        root_remote = EDGE if roll < 0.2 else ("" if roll < 0.25 else None)
        err = self._err()
        span("SERVER", root_id, None, root_svc, root_remote, False, err, root_ts)
        if root_remote:
            links.append((root_remote, root_svc, err))

        queue = deque([(root_svc, root_id, 1, root_ts)])
        while queue and len(rows) < target:
            svc, anchor, depth, ts = queue.popleft()
            if depth >= max_depth:
                continue
            for _ in range(rng.randint(*fanout)):
                if len(rows) >= target:
                    break
                ts += rng.randint(10, 2000)
                caller = anchor
                if rng.random() < 0.15:  # kind-less local span wrapping the call
                    caller = new_id()
                    span(None, caller, anchor, svc, None, False, self._err(), ts)
                style = rng.random()
                if style < 0.45:  # client and server share one span id
                    callee = self._service(svc)
                    sid = new_id()
                    cerr, serr = self._err(), self._err()
                    span("CLIENT", sid, caller, svc, callee, False, cerr, ts)
                    span("SERVER", sid, caller, callee, svc if rng.random() < 0.5 else None,
                         True, serr, ts + 5)
                    links.append((svc, callee, cerr or serr))
                    queue.append((callee, sid, depth + 1, ts))
                elif style < 0.70:  # server span with its own id under the client
                    callee = self._service(svc)
                    cid, sid = new_id(), new_id()
                    cerr, serr = self._err(), self._err()
                    span("CLIENT", cid, caller, svc, callee if rng.random() < 0.8 else None,
                         False, cerr, ts)
                    span("SERVER", sid, cid, callee, svc if rng.random() < 0.5 else None,
                         False, serr, ts + 5)
                    links.append((svc, callee, cerr or serr))
                    queue.append((callee, sid, depth + 1, ts))
                elif style < 0.90:  # client span to an uninstrumented backend
                    backend = BACKENDS[rng.randrange(len(BACKENDS))]
                    cerr = self._err()
                    kind = None if rng.random() < 0.3 else "CLIENT"
                    span(kind, new_id(), caller, svc, backend, False, cerr, ts)
                    links.append((svc, backend, cerr))
                else:  # producer -> broker -> consumer
                    broker = BROKERS[rng.randrange(len(BROKERS))]
                    callee = self._service(svc)
                    pid, cid = new_id(), new_id()
                    perr, cerr = self._err(), self._err()
                    span("PRODUCER", pid, caller, svc, broker, False, perr, ts)
                    span("CONSUMER", cid, pid, callee, broker, False, cerr, ts + 50)
                    links.append((svc, broker, perr))
                    links.append((broker, callee, cerr))
                    queue.append((callee, cid, depth + 1, ts + 50))

        distinct = len(rows)
        rows.extend([r for r in rows if rng.random() < DUP_SHARE])
        self.n_spans += len(rows)
        self.traces.append(rows)
        if DAY_START_US <= root_ts < DAY_START_US + US_PER_DAY:
            self.linked_spans += distinct
            for parent, child, err in links:
                acc = self.expected.setdefault((parent, child), [0, 0])
                acc[0] += 1
                acc[1] += err

    # -- whole workload -----------------------------------------------------
    def build(self) -> "Day":
        shape, rng = self.shape, self.rng
        window = US_PER_DAY - 60_000_000  # roots end a minute before midnight
        giant_spans = int(shape.spans * shape.giant_share)
        for g in range(shape.giants):
            # the largest giant holds half of the giant spans, the others
            # share the other half
            size = giant_spans // 2 if g == 0 else giant_spans // (2 * (shape.giants - 1))
            root_ts = DAY_START_US + rng.randrange(window)
            self.add_trace(size, 24, (2, 6), root_ts)
        while self.n_spans < shape.spans:
            if rng.random() < PREV_DAY_SHARE:
                root_ts = DAY_START_US - rng.randint(1, 60_000_000)
            else:
                root_ts = DAY_START_US + rng.randrange(window)
            self.add_trace(rng.randint(1, 16), rng.randint(1, 8), (1, 3), root_ts)
        return self

    # -- files --------------------------------------------------------------
    def write_spans(self, path: str) -> None:
        """One ``day=`` directory per UTC day the spans fall in, each split
        into ``FILES`` parquet files in generation order."""
        by_day: dict[dt.date, list[tuple]] = {}
        for rows in self.traces:
            for r in rows:
                day = dt.datetime.fromtimestamp(r[8] / 1e6, tz=dt.timezone.utc).date()
                by_day.setdefault(day, []).append(r)
        for day, rows in sorted(by_day.items()):
            n_files = FILES if len(rows) > 10_000 else 1
            step = -(-len(rows) // n_files)
            for i in range(n_files):
                chunk = rows[i * step:(i + 1) * step]
                _write(_span_table(chunk), os.path.join(path, f"day={day}", f"part-{i:05d}.parquet"))


def _span_table(rows: list[tuple]) -> pa.Table:
    def endpoint(name, port):
        return None if name is None else {"service_name": name, "ipv4": "10.0.0.1", "ipv6": None, "port": port}

    cols = list(zip(*rows)) if rows else [()] * 9
    trace_id, parent, sid, kind, local, remote, shared, err, ts = cols
    return pa.table(
        {
            "trace_id": trace_id,
            "parent_id": parent,
            "id": sid,
            "kind": kind,
            "name": ["get" if k == "SERVER" else "call" for k in kind],
            "timestamp": ts,
            "duration": [1000 + t % 9000 for t in ts],
            "local_endpoint": [endpoint(s, 8080) for s in local],
            "remote_endpoint": [endpoint(s, 9000) for s in remote],
            "annotations": [None] * len(rows),
            "tags": [[("error", "500")] if e else [("http.method", "GET")] for e in err],
            "shared": [bool(s) or None for s in shared],
            "debug": [None] * len(rows),
        },
        schema=ARROW_SPAN_SCHEMA,
    )


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def generate(workload: str, seed: int, root: str) -> Day:
    """Write ``workload``'s spans under ``root/spans`` and return the Day."""
    day = Day(seed, SHAPES[workload]).build()
    day.write_spans(os.path.join(root, "spans"))
    return day


def read_links(path: str) -> dict[tuple[str, str], list[int]] | None:
    """The written day partition as {(parent, child): [calls, errors]};
    None when a (parent, child) key appears twice."""
    table = pq.read_table(path, schema=ARROW_LINK_SCHEMA)
    out: dict[tuple[str, str], list[int]] = {}
    for p, c, n, e in zip(*(table.column(i).to_pylist() for i in range(4))):
        if (p, c) in out:
            return None
        out[(p, c)] = [n, e]
    return out
