"""JSON source + trace-id function tests (SURVEY §2.1 S4, §2.2 P2-P4)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from zipkin_dependencies_spark.functions import normalize_spans
from zipkin_dependencies_spark.functions.trace import (
    lenient_trace_key,
    normalize_trace_id,
)
from zipkin_dependencies_spark.operators.link import links_from_spans
from zipkin_dependencies_spark.sources.json import spans_from_json_strings


def test_trace_id_normalization(spark):
    df = spark.createDataFrame(
        [("ABC",), ("48485A3953BB6124",), ("463ac35c9f6413ad48485a3953bb6124",)],
        ["trace_id"],
    )
    rows = df.select(
        normalize_trace_id("trace_id").alias("norm"),
        lenient_trace_key("trace_id").alias("low64"),
    ).collect()
    assert rows[0].norm == "0000000000000abc"
    assert rows[0].low64 == "0000000000000abc"
    assert rows[1].norm == "48485a3953bb6124"
    assert rows[2].norm == "463ac35c9f6413ad48485a3953bb6124"
    assert rows[2].low64 == "48485a3953bb6124"


def span_json(**kw):
    doc = {
        "traceId": "000000000000000a",
        "id": "0000000000000001",
        "kind": "CLIENT",
        "localEndpoint": {"serviceName": "frontend"},
        "remoteEndpoint": {"serviceName": "backend"},
        "timestamp": 1_464_710_316_000_000,
    }
    doc.update(kw)
    return json.dumps(doc)


def test_json_strings_decode_and_link(spark):
    raw = spark.createDataFrame(
        [
            ("1", span_json()),
            ("2", span_json(id="0000000000000002", tags={"error": "true"})),
            ("3", "{not json"),           # malformed ⇒ skipped, not fatal
            ("4", '{"no": "traceId"}'),   # missing key ⇒ skipped
        ],
        ["doc_id", "json"],
    )
    spans, _ = spans_from_json_strings(raw)
    assert spans.count() == 2
    links = links_from_spans(normalize_spans(spans))
    out = {(r.parent, r.child): (r.call_count, r.error_count) for r in links.collect()}
    assert out == {("frontend", "backend"): (2, 1)}


def test_json_endpoint_shape_maps_to_canonical(spark):
    raw = spark.createDataFrame([("1", span_json())], ["doc_id", "json"])
    row = spans_from_json_strings(raw)[0].first()
    assert row.local_endpoint.service_name == "frontend"
    assert row.remote_endpoint.service_name == "backend"
    assert row.trace_id == "000000000000000a"


def test_missing_span_path_reads_as_empty(spark, tmp_path):
    """S4 parity: the reference treats a missing daily index as empty
    (ES_INDEX_READ_MISSING_AS_EMPTY) — a day with no data yet is an empty
    result with the full schema, not a crash."""
    from zipkin_dependencies_spark.schemas import SPAN_SCHEMA
    from zipkin_dependencies_spark.sources import read_spans_json, read_spans_parquet

    df = read_spans_parquet(spark, str(tmp_path / "nope"))
    assert df.schema == SPAN_SCHEMA and df.count() == 0
    # a JSON day reads the same way, through the same existence check
    spans, audit = read_spans_json(spark, str(tmp_path / "nope"))
    assert spans.columns == SPAN_SCHEMA.names and spans.count() == 0
    assert audit.count() == 0


def test_job_on_missing_store_yields_empty_links(spark, tmp_path):
    import datetime as dt

    from zipkin_dependencies_spark.plans.job import DependencyLinksJob, JobConfig

    job = DependencyLinksJob(
        spark, JobConfig(day=dt.date(2024, 1, 1), spans_path=str(tmp_path / "void"))
    )
    assert job.links().count() == 0


def test_v1_pushdown_subquery_matches_reference_shape():
    from zipkin_dependencies_spark.sources.jdbc import v1_pushdown_subquery

    sql = v1_pushdown_subquery(1_000, 2_000)
    assert sql.startswith("(SELECT DISTINCT s.trace_id, s.parent_id, s.id")
    assert "LEFT OUTER JOIN zipkin_annotations a" in sql
    assert "s.trace_id = a.trace_id AND s.id = a.span_id" in sql
    for key in ("'lc'", "'ca'", "'cs'", "'sa'", "'sr'", "'ma'", "'ms'", "'mr'", "'error'"):
        assert key in sql
    assert "BETWEEN 1000 AND 2000" in sql
    # GROUP BY all-but-parent_id (the reference's D2 dedup)
    assert "GROUP BY s.trace_id, s.id, a.a_key" in sql
    assert "parent_id" not in sql.split("GROUP BY")[1]
    assert sql.endswith(") AS link_spans")
    assert "trace_id_high" not in sql  # PARITY S5: one statement, both layouts


def test_v2_spans_from_link_rows_equals_two_table_path(spark):
    """The JDBC row adapter (pivot over pre-joined rows) must equal the
    two-table adapter on the same data — DB-side join vs Spark-side join."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.sources.v1 import (
        CORE_KEYS,
        v1_to_v2_spans,
        v2_spans_from_link_rows,
    )
    from zipkin_dependencies_spark.testdata import derived_v1_tables

    sf = "/root/testdata/sf0.001"
    spans, annos = derived_v1_tables(spark, sf)
    # simulate what the database returns for the pushed subquery
    a = annos.filter(F.col("a_key").isin(*CORE_KEYS))
    joined = (
        spans.join(
            a,
            on=[spans.trace_id == a.trace_id, spans.id == a.span_id],
            how="left_outer",
        )
        .select(
            spans.trace_id, spans.parent_id, spans.id,
            a.a_key, a.endpoint_service_name, a.a_type,
        )
        .dropDuplicates(["trace_id", "id", "a_key", "endpoint_service_name", "a_type"])
    )

    cols = [
        "trace_id", "parent_id", "id", "kind",
        F.col("local_endpoint.service_name").alias("ls"),
        F.col("remote_endpoint.service_name").alias("rs"),
        F.map_contains_key("tags", "error").alias("err"),
    ]
    via_rows = v2_spans_from_link_rows(joined).select(*cols)
    via_tables = v1_to_v2_spans(spans, annos).select(*cols)
    assert via_rows.exceptAll(via_tables).count() == 0
    assert via_tables.exceptAll(via_rows).count() == 0

def test_glob_span_path_with_matches_returns_data(spark, tmp_path):
    """The missing-path check must expand globs, not test them literally: a
    valid glob over existing day partitions returns the data; a glob
    matching nothing (and a genuinely absent literal path) still reads as
    empty."""
    from zipkin_dependencies_spark.schemas import SPAN_SCHEMA
    from zipkin_dependencies_spark.sources import read_spans_parquet

    span = {f.name: None for f in SPAN_SCHEMA.fields}
    span.update(trace_id="000000000000000a", id="0000000000000001")
    df = spark.createDataFrame([span], schema=SPAN_SCHEMA)
    df.write.parquet(str(tmp_path / "spans" / "day=2024-01-01"))
    df.write.parquet(str(tmp_path / "spans" / "day=2024-01-02"))

    globbed = read_spans_parquet(spark, str(tmp_path / "spans" / "day=2024*"))
    assert globbed.count() == 2

    empty = read_spans_parquet(spark, str(tmp_path / "spans" / "day=1999*"))
    assert empty.schema == SPAN_SCHEMA and empty.count() == 0


def test_audited_decode_pins_skip_counter_per_class(spark, tmp_path):
    """P4 hardening (reference skip-and-log,
    TraceIdAndJsonToDependencyLinks.java:38-44): every corruption class —
    truncated doc, wrong-typed field value, 33-char trace id, missing
    trace id — lands in its own audit bucket with an exact count, and
    ONLY clean docs reach the span output. Both front-ends (a string
    column, JSON-lines files) classify alike; the wrong-type case is the
    one a decoder that nulls the bad field would keep as a degraded span."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark.sources.json import read_spans_json

    ok = '{"traceId":"00000000000000ab","id":"000000000000000a","timestamp":7}'
    rows = [
        (ok,),
        (ok.replace("ab", "cd"),),
        ('{"traceId":"00000000000000ab","id":"x"',),           # truncated
        ('{broken',),                                           # not JSON
        ('{"traceId":"00000000000000ab","id":"a","timestamp":"zz"}',),  # wrong type
        ('{"traceId":"' + "a" * 33 + '","id":"a","timestamp":1}',),     # 33 chars
        ('{"traceId":"xyz","id":"a"}',),                        # non-hex id
        ('{"id":"a"}',),                                        # missing id
        ('{"traceId":null,"id":"a"}',),                         # null id
    ]
    # blank lines between the docs are not docs: the counts stay exact
    (tmp_path / "day.json").write_text("\n\n".join(doc for (doc,) in rows) + "\n")
    for spans, audit in (
        spans_from_json_strings(spark.createDataFrame(rows, "json string")),
        read_spans_json(spark, str(tmp_path / "day.json")),
    ):
        counts = {r.reason: r.n_docs for r in audit.collect()}
        assert counts == {
            "ok": 2,
            "malformed_json": 2,
            "wrong_type_field": 1,
            "invalid_trace_id": 2,
            "missing_trace_id": 2,
        }
        got = spans.select("trace_id", "timestamp").collect()
        assert sorted((r.trace_id, r.timestamp) for r in got) == [
            ("00000000000000ab", 7),
            ("00000000000000cd", 7),
        ]
        # the audit is exhaustive: every input doc is counted exactly once
        assert audit.agg(F.sum("n_docs")).collect()[0][0] == len(rows)
