"""zipkin v2 JSON span source (SURVEY §2.1 S4, §2.2 P3/P4).

The reference reads ES daily indexes as raw (docId, json) pairs and decodes
each with SpanBytesDecoder.JSON_V2, logging and skipping any span it cannot
decode whole (elasticsearch/.../TraceIdAndJsonToDependencyLinks.java:38-44).
Here one classifier does that for every JSON source: the doc is parsed once
with the explicit schema in PERMISSIVE mode plus a ``_corrupt`` column,
every doc gets exactly one outcome class, only ``ok`` docs become spans, and
the skip-and-log counter is an ``audit`` DataFrame instead of a log line.
``spans_from_json_strings`` decodes a string column (the ES ``_source``, the
registered queries); ``read_spans_json`` feeds it the lines of JSON-lines
files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SPAN_JSON_SCHEMA
from .parquet import _exists

#: the decode schema: the v2 span fields plus PERMISSIVE mode's raw-record
#: column, set whenever any field of the doc failed to decode
_DOC_SCHEMA = T.StructType(
    list(SPAN_JSON_SCHEMA.fields) + [T.StructField("_corrupt", T.StringType())]
)
_PERMISSIVE = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}

#: trace ids are 1-32 hex chars (the reference decoder rejects anything
#: else before the job sees it; normalize/truncate handles ONLY valid ids)
_VALID_TRACE_ID = r"^[0-9a-fA-F]{1,32}$"

SKIP_MALFORMED = "malformed_json"
SKIP_WRONG_TYPE = "wrong_type_field"
SKIP_MISSING_TRACE = "missing_trace_id"
SKIP_INVALID_TRACE = "invalid_trace_id"
DECODE_OK = "ok"


def _v2_projection(s: Column) -> list[Column]:
    endpoint = lambda side: F.struct(  # noqa: E731
        s[side]["serviceName"].alias("service_name"),
        s[side]["ipv4"].alias("ipv4"),
        s[side]["ipv6"].alias("ipv6"),
        s[side]["port"].alias("port"),
    )
    return [
        s["traceId"].alias("trace_id"),
        s["parentId"].alias("parent_id"),
        s["id"].alias("id"),
        s["kind"].alias("kind"),
        s["name"].alias("name"),
        s["timestamp"].alias("timestamp"),
        s["duration"].alias("duration"),
        endpoint("localEndpoint").alias("local_endpoint"),
        endpoint("remoteEndpoint").alias("remote_endpoint"),
        s["annotations"].alias("annotations"),
        s["tags"].alias("tags"),
        s["shared"].alias("shared"),
        s["debug"].alias("debug"),
    ]


def spans_from_json_strings(
    df: DataFrame, json_col: str = "json"
) -> tuple[DataFrame, DataFrame]:
    """A string column of v2 JSON span docs → (spans, audit). ``audit`` is
    one row per outcome class with its doc count; ``spans`` holds the
    ``ok`` docs as canonical span columns with a null ``day`` (JSON docs
    carry none; a source that knows the day stamps it).

    Outcome classes (each doc gets exactly one; precedence top-down):
      - ``malformed_json``   — not parseable JSON at all (``_corrupt`` set
        and no traceId recovered);
      - ``wrong_type_field`` — valid JSON but some field's value failed its
        schema type (``_corrupt`` set, traceId recovered). The reference
        decoder throws on these and drops the span; nulling the field and
        keeping a degraded span would link what the reference does not;
      - ``missing_trace_id`` / ``invalid_trace_id`` — absent, or present
        but not 1-32 hex chars (e.g. a 33-char id);
      - ``ok``               — decoded and admitted to ``spans``.

    The parse input passes through a value-identity NONDETERMINISTIC
    wrapper (``shuffle`` of a one-element array — a no-op on the value),
    so the class filter cannot be pushed below the parse projection.
    Pushed down, Catalyst inlines the full-schema ``from_json`` into each
    reference of the CASE chain and the filter (``json_spans_decode``'s
    plan held 6 of them without it). Wrapping the decoded struct instead
    also pins it, but copies every doc: 1.42 s against 1.09 s for 150k
    docs through ``normalize_spans`` to a noop sink on 4 cores. Retry-safe:
    the wrapped value is bit-identical on re-execution."""
    doc = F.element_at(F.shuffle(F.array(F.col(json_col))), 1)
    s = F.col("s")
    reason = (
        F.when(
            s["_corrupt"].isNotNull() & s["traceId"].isNull(),
            F.lit(SKIP_MALFORMED),
        )
        .when(s["_corrupt"].isNotNull(), F.lit(SKIP_WRONG_TYPE))
        .when(s["traceId"].isNull(), F.lit(SKIP_MISSING_TRACE))
        .when(~s["traceId"].rlike(_VALID_TRACE_ID), F.lit(SKIP_INVALID_TRACE))
        .otherwise(F.lit(DECODE_OK))
    )
    classified = df.select(
        F.from_json(doc, _DOC_SCHEMA, _PERMISSIVE).alias("s")
    ).select(s, reason.alias("reason"))
    audit = classified.groupBy("reason").agg(F.count(F.lit(1)).alias("n_docs"))
    spans = (
        classified.filter(F.col("reason") == DECODE_OK)
        .select(*_v2_projection(s))
        .withColumn("day", F.lit(None).cast("date"))
    )
    return spans, audit


def read_spans_json(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """JSON-lines span files → (spans, audit), one doc per line, through
    ``spans_from_json_strings``. A missing path is an empty day, as for
    parquet (``read_spans_parquet``, through the same ``_exists``). Raw
    JSON has no ``day``, so use F1 or F2 windowing.

    Lines are read as text, not through the JSON datasource: the
    datasource parses only the columns the query reads, so a wrong-typed
    field the job never reads (``duration``, say) would not set
    ``_corrupt`` and its doc would be kept."""
    if _exists(spark, path):
        # a blank line is no doc (the JSON datasource skips it too)
        lines = spark.read.text(path).filter(F.trim("value") != "")
    else:
        lines = spark.createDataFrame([], "value string")
    return spans_from_json_strings(lines, "value")
