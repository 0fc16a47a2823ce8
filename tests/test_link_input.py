"""The linker kernel's input contract (operators/link.py::kernel_input).

LINK_INPUT_SCHEMA rows may carry nulls the kernel has rules for: a null
``shared`` or ``is_error`` is false, a null root ``timestamp`` is missing
(the F2 window drops its trace). Every Spark route into the kernel must
link such rows exactly as the ``Span`` oracle (``link_trace`` +
``trace_in_day_window``) does."""

from __future__ import annotations

import datetime as dt
import time
from collections import defaultdict

from pyspark.sql import functions as F

DAY = dt.date(2016, 5, 31)
START_US = 1_464_652_800_000_000  # 2016-05-31T00:00:00Z
WINDOW = (START_US, START_US + 86_400_000_000 - 1)
TS = 1_464_710_316_000_000

#: (trace_key, parent_id, id, kind, local_service, remote_service, shared,
#: is_error, timestamp) — LINK_INPUT_SCHEMA order
ROWS = [
    # null shared / is_error on both halves of a shared RPC span, and a
    # second report of the client half whose null flags must merge with it
    ("a", None, "1", "SERVER", "web", None, None, None, TS),
    ("a", "1", "2", "CLIENT", "web", "db", None, True, TS),
    ("a", "1", "2", "CLIENT", None, None, False, None, TS),
    ("a", "1", "2", "SERVER", "db", None, True, None, TS),
    # a root with a null timestamp, beside rows that carry one: the F2
    # window drops the trace
    ("b", None, "1", "SERVER", "api", "mobile", False, False, None),
    ("b", "1", "3", "CLIENT", "api", "cache", False, False, TS),
    # null is_error on an in-window trace, and a duplicate report of its
    # client span whose null shared must merge with it: one call, not two
    ("c", None, "1", "SERVER", "web", None, False, None, TS),
    ("c", "1", "4", "CLIENT", "web", "cache", False, None, TS),
    ("c", "1", "4", "CLIENT", "web", "cache", None, False, TS),
]


def expected_links(rows, window=None) -> set[tuple]:
    from zipkin_dependencies_spark.linker import DependencyLinker, Span, trace_in_day_window

    traces = defaultdict(list)
    for key, parent, id_, kind, local, remote, shared, error, ts in rows:
        traces[key].append(
            Span(key, parent, id_, kind, local, remote, bool(shared), bool(error), ts)
        )
    linker = DependencyLinker()
    for spans in traces.values():
        if window is None or trace_in_day_window(spans, *window):
            linker.put_trace(spans)
    return {tuple(link.values()) for link in linker.link()}


def as_set(df) -> set[tuple]:
    return {(r["parent"], r["child"], r["call_count"], r["error_count"]) for r in df.collect()}


def spans(spark):
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA

    return spark.createDataFrame(ROWS, schema=LINK_INPUT_SCHEMA)


def test_oracle_cases_are_live():
    # the window drops trace b, and the null-shared report merges: one
    # web→db call, with the client half's error
    windowed = expected_links(ROWS, WINDOW)
    assert windowed != expected_links(ROWS)
    assert ("web", "db", 1, 1) in windowed and ("web", "cache", 1, 0) in windowed


def test_links_from_spans_applies_the_null_rules(spark):
    from zipkin_dependencies_spark.operators.link import links_from_spans

    got = as_set(links_from_spans(spans(spark), window=WINDOW))
    assert got == expected_links(ROWS, WINDOW)


def test_multi_day_kernel_applies_the_null_rules(spark):
    from zipkin_dependencies_spark.operators.aggregate import aggregate_links
    from zipkin_dependencies_spark.operators.link import trace_links_partitioned

    dated = spans(spark).withColumn("day", F.lit(DAY))
    links = aggregate_links(
        trace_links_partitioned(dated, window=WINDOW, day_col="day"), extra_keys=["day"]
    )
    assert {r["day"] for r in links.collect()} == {DAY}
    assert as_set(links) == expected_links(ROWS, WINDOW)


def test_streaming_kernel_applies_the_null_rules(spark, tmp_path):
    """Event mode, drained as ``q_streaming_links_stateful`` drains it: the
    spans file parks every trace in state, a far-future flush file advances
    the watermark, and a third file's batch fires the timers."""
    from zipkin_dependencies_spark.schemas import LINK_INPUT_SCHEMA
    from zipkin_dependencies_spark.streaming import streaming_trace_links

    src = str(tmp_path / "src")
    spans(spark).coalesce(1).write.parquet(src)
    us_2100 = 4_102_444_800_000_000
    for key, ts in (("flush-1", us_2100), ("flush-2", us_2100 + 86_400_000_000)):
        time.sleep(1.1)  # a later mtime: the file source replays in mtime order
        spark.createDataFrame(
            [(key, None, key, "SERVER", None, None, False, False, ts)],
            schema=LINK_INPUT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(LINK_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("event_ts", F.timestamp_micros(F.coalesce("timestamp", F.lit(TS))))
        .withWatermark("event_ts", "0 seconds")
    )
    out = streaming_trace_links(stream, trace_gap_ms=1, timeout_mode="event")
    q = (
        out.writeStream.format("memory")
        .queryName("link_input_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "availableNow did not drain"
    finally:
        q.stop()
    links = (
        spark.table("link_input_stream")
        .groupBy("parent", "child")
        .agg(F.sum("call_count").alias("call_count"), F.sum("error_count").alias("error_count"))
    )
    # the stream links without the F2 window
    assert as_set(links) == expected_links(ROWS)
