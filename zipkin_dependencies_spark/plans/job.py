"""The engine's single query lifecycle (SURVEY §3, "our engine's lifecycle"):

config → SparkSession → source adapter → normalize to the v2 span frame →
day-filter variant (F1/F2/F3, default F2 parity) → repartition(trace_key) →
dedupe → sortWithinPartitions → mapInPandas(linker per trace, via
operators/link.py::_sorted_groups) → groupBy(parent, child).agg(sum, sum)
→ day-partition overwrite write.

One Catalyst plan end to end, with one span-scale shuffle: the dedupe
hash-partitions on trace_key, so the linker's own repartition(trace_key)
plans no second exchange (operators/dedup.py). The only Python hop is the
Arrow-vectorized linker kernel; control crosses driver→executor at the
write action only.

Replaces all three reference entry points
(cassandra3|mysql|elasticsearch/.../\\*DependenciesJob.run()); the reference's
env-config surface (STORAGE_TYPE day STRICT_TRACE_ID SPARK_MASTER SPARK_CONF,
ZipkinDependenciesJob.java:21-87) maps onto JobConfig.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..functions import normalize_spans
from ..functions.time import day_window_micros, utc_day
from ..operators.day_filter import DayFilter, filter_day_partition, filter_span_window
from ..operators.dedup import dedupe_spans
from ..operators.link import links_from_spans
from ..sinks import write_links
from ..sources import read_spans_parquet


@dataclass
class JobConfig:
    day: str | dt.date                       # the UTC day to aggregate
    spans_path: str                          # span table location
    links_path: str | None = None            # output location (None ⇒ return only)
    day_filter: DayFilter | None = DayFilter.TRACE_ROOT   # F2 Cassandra-parity
    #   default; None: the source already applied the day window (the v1
    #   sources' pushed F1 scan predicate)
    strict_trace_id: bool = False            # G1 vs G2/G3 grouping
    clustered: bool = False                  # input already trace-co-located
    #   (bucketed table, or a strict-mode Cassandra token-range scan —
    #   sources/backends.py::cassandra_scan_is_trace_clustered): the linker
    #   skips its span-scale repartition. The caller owns the guarantee.


class DependencyLinksJob:
    def __init__(self, spark: SparkSession, config: JobConfig):
        self.spark = spark
        self.config = config

    def links(self, spans: DataFrame | None = None) -> DataFrame:
        """Build (lazily) the day's dependency-link DataFrame."""
        cfg = self.config
        day = utc_day(cfg.day)
        start_us, end_us = day_window_micros(day)

        if spans is None:
            spans = read_spans_parquet(self.spark, cfg.spans_path)

        if cfg.day_filter is DayFilter.DAY_PARTITION:
            spans = filter_day_partition(spans, day)   # F3: partition pruning
        elif cfg.day_filter is DayFilter.SPAN_WINDOW:
            spans = filter_span_window(spans, start_us, end_us)  # F1: pushed

        normalized = normalize_spans(spans, strict_trace_id=cfg.strict_trace_id)
        if not cfg.clustered:
            # D1 brings its own repartition(trace_key): on clustered input
            # that is the span-scale exchange the declared co-location
            # exists to skip. The linker kernel's tree merge makes exact
            # duplicates harmless (see operators/dedup.py), so clustered
            # scans skip the dedupe
            normalized = dedupe_spans(normalized)

        window = (start_us, end_us) if cfg.day_filter is DayFilter.TRACE_ROOT else None
        return links_from_spans(normalized, window=window, clustered=cfg.clustered)

    def run(self, spans: DataFrame | None = None) -> DataFrame:
        """Execute and (if configured) write the day partition idempotently."""
        links = self.links(spans)
        if self.config.links_path is not None:
            write_links(links, self.config.links_path, utc_day(self.config.day))
        return links
