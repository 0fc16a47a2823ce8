"""Tests of the benchmark's generator and metric parsing (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import sparkmetrics  # noqa: E402
from zipkin_dependencies_spark.linker import DependencyLinker, Span, trace_in_day_window  # noqa: E402

#: each workload shape at a size the pure-Python linker checks quickly
SMALL = {name: dataclasses.replace(shape, spans=4000) for name, shape in gen.SHAPES.items()}


def small_day(workload: str, seed: int) -> gen.Day:
    shape = SMALL[workload]
    if shape.giants:  # keep the giants a few thousand spans deep
        shape = dataclasses.replace(shape, spans=20_000)
    return gen.Day(seed, shape).build()


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_gives_byte_identical_files(tmp_path, workload):
    for run in ("a", "b"):
        small_day(workload, 7).write_spans(str(tmp_path / run / "spans"))
    a, b = digest(str(tmp_path / "a")), digest(str(tmp_path / "b"))
    assert a and a == b
    other = small_day(workload, 8)
    other.write_spans(str(tmp_path / "c" / "spans"))
    assert digest(str(tmp_path / "c" / "spans")) != digest(str(tmp_path / "a" / "spans"))


def as_span(row: tuple) -> Span:
    """A generated row as the job's normalize_spans projects it."""
    trace_id, parent, sid, kind, local, remote, shared, err, ts = row
    return Span(
        trace_id=trace_id,
        parent_id=parent or None,
        id=sid,
        kind=kind if kind in ("CLIENT", "SERVER", "PRODUCER", "CONSUMER") else None,
        local_service=local or None,
        remote_service=remote or None,
        shared=bool(shared),
        is_error=bool(err),
        timestamp=ts,
    )


@pytest.mark.parametrize("workload", sorted(SMALL))
@pytest.mark.parametrize("seed", [1, 2])
def test_expected_links_match_the_linker(workload, seed):
    day = small_day(workload, seed)
    start = gen.DAY_START_US
    linker = DependencyLinker()
    for rows in day.traces:
        # the job's sort order within a trace: (id, shared)
        spans = sorted((as_span(r) for r in rows), key=lambda s: (s.id, s.shared))
        if trace_in_day_window(spans, start, start + gen.US_PER_DAY - 1):
            linker.put_trace(spans)
    got = {(l["parent"], l["child"]): [l["call_count"], l["error_count"]] for l in linker.link()}
    assert got == day.expected
    assert any(e for _, e in got.values()), "some links carry errors"


def test_workload_shapes():
    skewed = small_day("day_skewed", 3)
    sizes = sorted((len(rows) for rows in skewed.traces), reverse=True)
    assert sizes[0] > 0.15 * skewed.n_spans  # one giant trace holds the most
    typical = small_day("day_typical", 3)
    widths = {len(rows[0][0]) for rows in typical.traces}
    assert widths == {16, 32}  # mixed 64/128-bit trace ids
    prev_day = [rows for rows in typical.traces if rows[0][8] < gen.DAY_START_US]
    assert prev_day, "some traces are rooted in the previous day"


def test_read_links_round_trip(tmp_path):
    expected = small_day("day_typical", 5).expected
    rows = [(p, c, n, e) for (p, c), (n, e) in sorted(expected.items())]
    table = gen.pa.table(dict(zip(gen.ARROW_LINK_SCHEMA.names, zip(*rows))),
                         schema=gen.ARROW_LINK_SCHEMA)
    gen._write(table, str(tmp_path / "once" / "part-0.parquet"))
    assert gen.read_links(str(tmp_path / "once")) == expected
    gen._write(table, str(tmp_path / "twice" / "part-0.parquet"))
    gen._write(table, str(tmp_path / "twice" / "part-1.parquet"))
    assert gen.read_links(str(tmp_path / "twice")) is None  # a key written twice


@pytest.mark.parametrize(
    "text, expected",
    [
        ("12,703", {"total": 12703.0}),
        ("40.2 KiB", {"total": 40.2 * 1024}),
        ("0 ms", {"total": 0.0}),
        (
            "total (min, med, max (stageId: taskId))\n10.5 s (220 ms, 307 ms, 1.2 m (stage 38.0: task 139))",
            {"total": 10500.0, "min": 220.0, "med": 307.0, "max": 72000.0},
        ),
        (
            "total (min, med, max (stageId: taskId))\n1892.8 KiB (54.6 KiB, 59.3 KiB, 61.9 KiB (stage 38.0: task 141))",
            {"total": 1892.8 * 1024, "min": 54.6 * 1024, "med": 59.3 * 1024, "max": 61.9 * 1024},
        ),
    ],
)
def test_parse_metric(text, expected):
    assert sparkmetrics.parse_metric(text) == pytest.approx(expected)


def test_units_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    for m in spec["per_layer"]:
        assert run.unit_of(m["name"]) == m["unit"], m["name"]
    assert {w["name"] for w in spec["workloads"]} == set(gen.SHAPES)
