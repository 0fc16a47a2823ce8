"""Fixed schemas (never inferred — 100 TB determinism; SURVEY §1.4).

The span schema mirrors the zipkin v2 span JSON shape decoded on the
reference's ES path (elasticsearch/.../ElasticsearchDependenciesJob.java:175,
[EXT] SpanBytesDecoder.JSON_V2) and FIXTURES.md §F1.
"""

from __future__ import annotations

from pyspark.sql import types as T

ENDPOINT_SCHEMA = T.StructType(
    [
        T.StructField("service_name", T.StringType()),
        T.StructField("ipv4", T.StringType()),
        T.StructField("ipv6", T.StringType()),
        T.StructField("port", T.IntegerType()),
    ]
)

ANNOTATION_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("value", T.StringType()),
    ]
)

#: Canonical v2 span table (FIXTURES.md §F1). `day` is the storage partition
#: column standing in for the reference's per-day ES index naming.
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.StringType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("timestamp", T.LongType()),      # epoch MICROSECONDS
        T.StructField("duration", T.LongType()),
        T.StructField("local_endpoint", ENDPOINT_SCHEMA),
        T.StructField("remote_endpoint", ENDPOINT_SCHEMA),
        T.StructField("annotations", T.ArrayType(ANNOTATION_SCHEMA)),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("shared", T.BooleanType()),
        T.StructField("debug", T.BooleanType()),
        T.StructField("day", T.DateType()),
    ]
)

#: Zipkin v2 JSON field names (camelCase) for the raw-JSON source (P4).
SPAN_JSON_SCHEMA = T.StructType(
    [
        T.StructField("traceId", T.StringType()),
        T.StructField("parentId", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("duration", T.LongType()),
        T.StructField(
            "localEndpoint",
            T.StructType(
                [
                    T.StructField("serviceName", T.StringType()),
                    T.StructField("ipv4", T.StringType()),
                    T.StructField("ipv6", T.StringType()),
                    T.StructField("port", T.IntegerType()),
                ]
            ),
        ),
        T.StructField(
            "remoteEndpoint",
            T.StructType(
                [
                    T.StructField("serviceName", T.StringType()),
                    T.StructField("ipv4", T.StringType()),
                    T.StructField("ipv6", T.StringType()),
                    T.StructField("port", T.IntegerType()),
                ]
            ),
        ),
        T.StructField("annotations", T.ArrayType(ANNOTATION_SCHEMA)),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("shared", T.BooleanType()),
        T.StructField("debug", T.BooleanType()),
    ]
)

#: Normalized internal shape the linker kernel consumes — exactly the columns
#: the computation reads (column pruning reaches the scan; SURVEY §2.2 P1).
LINK_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("trace_key", T.StringType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("local_service", T.StringType()),
        T.StructField("remote_service", T.StringType()),
        T.StructField("shared", T.BooleanType()),
        T.StructField("is_error", T.BooleanType()),
        T.StructField("timestamp", T.LongType()),
    ]
)

#: The one order the daily job sorts its link input in: trace first, then
#: every other field. The D1 dedupe's window (operators/dedup.py) and the
#: linker's ``sortWithinPartitions`` (operators/link.py) both take it, so
#: Spark plans one sort for the two; a second order would plan a second
#: sort. Sorting on all fields also pins each trace's span order for the
#: kernel (see ``trace_links_partitioned``).
KERNEL_SORT_ORDER = [
    "trace_key", "id", "shared", "parent_id", "kind",
    "local_service", "remote_service", "is_error", "timestamp",
]
assert sorted(KERNEL_SORT_ORDER) == sorted(LINK_INPUT_SCHEMA.fieldNames())

#: Per-trace linker output (pre global aggregation).
TRACE_LINKS_SCHEMA = T.StructType(
    [
        T.StructField("parent", T.StringType()),
        T.StructField("child", T.StringType()),
        T.StructField("call_count", T.LongType()),
        T.StructField("error_count", T.LongType()),
    ]
)

#: v1 two-table shapes (FIXTURES.md §F2, MySQL parity).
V1_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("trace_id_high", T.LongType()),
        T.StructField("trace_id", T.LongType()),
        T.StructField("id", T.LongType()),
        T.StructField("parent_id", T.LongType()),
        T.StructField("start_ts", T.LongType()),
    ]
)

V1_ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("trace_id_high", T.LongType()),
        T.StructField("trace_id", T.LongType()),
        T.StructField("span_id", T.LongType()),
        T.StructField("a_key", T.StringType()),
        T.StructField("endpoint_service_name", T.StringType()),
        T.StructField("a_type", T.IntegerType()),
    ]
)
