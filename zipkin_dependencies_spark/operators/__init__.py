from .aggregate import aggregate_links
from .asof import asof_join
from .cohort import cohort_retention
from .day_filter import filter_day_partition, filter_span_window
from .dedup import dedupe_spans
from .events_analytics import event_transitions, window_anomalies
from .funnel import funnel
from .graph import service_pagerank, service_reachability, trace_size_percentiles
from .link import links_from_spans
from .sessionize import sessionize

__all__ = [
    "aggregate_links",
    "asof_join",
    "cohort_retention",
    "dedupe_spans",
    "event_transitions",
    "filter_day_partition",
    "filter_span_window",
    "funnel",
    "links_from_spans",
    "service_pagerank",
    "service_reachability",
    "sessionize",
    "trace_size_percentiles",
    "window_anomalies",
]
