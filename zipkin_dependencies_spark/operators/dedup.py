"""Span dedup (SURVEY §2.4 D1/D2).

The reference dedupes redundantly-stored spans per trace with a
LinkedHashSet over the 9 projected fields
(cassandra3/.../CassandraRowsToDependencyLinks.java:31-36). Relationally
that's dropDuplicates over the projected columns, done *within* the trace
grouping: the spans are hash-partitioned on ``trace_key`` first. Because
``trace_key`` is one of the identity columns, that partitioning already
meets the dedupe aggregate's clustering requirement, and a later
``repartition("trace_key")`` of the same width (the linker's, or
``trace_paths``') is removed by Spark's EnsureRequirements. So the dedupe
shares the trace exchange: the daily job shuffles its spans once.

This gives up the map-side partial dedupe (the aggregate now runs after
the exchange), which only shrinks the exchange when storage replays are
common. On a day with every span file stored twice (perfbench generator,
``day_typical`` seed 4243, about 200k rows, 4 cores), against the old
pre-shuffle dedupe, the CLI job with its parquet write still got faster:
median wall 1.66 → 1.49 s and CPU 4.98 → 4.21 core-s over 12 interleaved
reps on one JVM. The linker kernel's tree merge makes exact duplicates
harmless anyway (tests/test_linker_properties.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: the projected fields that define span identity for dedup purposes
SPAN_IDENTITY_COLS = [
    "trace_key",
    "parent_id",
    "id",
    "kind",
    "local_service",
    "remote_service",
    "shared",
    "is_error",
    "timestamp",
]


def dedupe_spans(normalized_spans: DataFrame) -> DataFrame:
    return normalized_spans.repartition("trace_key").dropDuplicates(SPAN_IDENTITY_COLS)
