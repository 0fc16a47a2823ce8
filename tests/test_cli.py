"""CLI entry (`python -m zipkin_dependencies_spark`) — env-driven end to end,
the Spark-native analog of the reference's main() dispatch
(ZipkinDependenciesJob.java:21-87)."""

from __future__ import annotations

import datetime as dt

from tests.conftest import make_span


def test_cli_main_writes_day_partition(spark, spans_df_factory, tmp_path, monkeypatch):
    import zipkin_dependencies_spark.__main__ as cli

    spans_path = str(tmp_path / "spans")
    links_path = str(tmp_path / "links")
    day = dt.date(2016, 5, 31)
    spans_df_factory(
        [
            make_span(id="1", kind="CLIENT", local="web", remote="api"),
            make_span(id="1", kind="SERVER", local="api", remote="web", shared=True),
        ]
    ).write.mode("overwrite").parquet(spans_path)

    monkeypatch.setenv("STORAGE_TYPE", "cassandra3")
    monkeypatch.setenv("SPANS_PATH", spans_path)
    monkeypatch.setenv("LINKS_PATH", links_path)
    # reuse the session fixture's master; the CLI calls getOrCreate()
    monkeypatch.setenv("SPARK_MASTER", "local[4]")

    assert cli.main(["2016-05-31"]) == 0

    out = spark.read.parquet(links_path).collect()
    assert [(r.day, r.parent, r.child, r.call_count, r.error_count) for r in out] == [
        (day, "web", "api", 1, 0)
    ]


def test_curate_cli_writes_split_partitions(spark, tmp_path):
    """The curation CLI end-to-end: documents in, split-partitioned
    survivor table out; every survivor maps to exactly one split and
    re-running is byte-stable (deterministic decisions)."""
    from zipkin_dependencies_spark import curate as cli

    out = str(tmp_path / "curated")
    assert (
        cli.main(
            [
                "--input", "/root/testdata/sf0.001/documents.parquet",
                "--output", out,
                "--min-quality", "0.3",
                "--split", "train=0.8,val=0.2",
            ]
        )
        == 0
    )
    got = spark.read.parquet(out)
    assert set(got.select("split").distinct().toPandas()["split"]) <= {"train", "val"}
    n1 = got.count()
    assert n1 > 0
    # deterministic re-run
    assert cli.main(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--min-quality", "0.3",
         "--split", "train=0.8,val=0.2"]
    ) == 0
    assert spark.read.parquet(out).count() == n1


def test_curate_cli_incremental_appends_only_new_content(spark, tmp_path):
    """--existing mode: a delta crawl containing the ORIGINAL corpus plus
    new documents appends only the new content's survivors; re-running the
    same increment appends nothing (fingerprint anti-join idempotence)."""
    from pyspark.sql import functions as F

    from zipkin_dependencies_spark import curate as cli

    out = str(tmp_path / "store")
    base_in = "/root/testdata/sf0.001/documents.parquet"
    common = ["--min-quality", "0.3", "--split", "train=1.0"]

    assert cli.main(["--input", base_in, "--output", out, *common]) == 0
    n_base = spark.read.parquet(out).count()
    assert n_base > 0

    # delta crawl = old corpus + genuinely new docs (re-keyed, edited text)
    delta_in = str(tmp_path / "delta")
    docs = spark.read.parquet(base_in)
    new_docs = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh crawl content")).alias("text"),
        "lang", "source", "n_chars",
    )
    docs.unionByName(new_docs).write.mode("overwrite").parquet(delta_in)

    assert cli.main(
        ["--input", delta_in, "--output", out, "--existing", out, *common]
    ) == 0
    n_incr = spark.read.parquet(out).count()
    assert n_incr > n_base  # new content landed
    # old content did NOT duplicate: every fingerprint still appears once
    fp = spark.read.parquet(out).groupBy("fingerprint").count()
    assert fp.filter(F.col("count") > 1).count() == 0

    # idempotent: the same increment again appends nothing
    assert cli.main(
        ["--input", delta_in, "--output", out, "--existing", out, *common]
    ) == 0
    assert spark.read.parquet(out).count() == n_incr


def test_curate_cli_gopher_gate(spark, tmp_path):
    """--gate gopher routes through curate_v3 with --gopher threshold
    overrides; unknown keys die with an argparse error, not a stack."""
    import pytest

    from zipkin_dependencies_spark import curate as cli

    out = str(tmp_path / "curated_gopher")
    assert cli.main(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--gate", "gopher",
         "--gopher", "min_words=30", "--gopher", "min_stop_hits=1",
         "--split", "train=0.8,val=0.2"]
    ) == 0
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert set(got.columns) >= {"keep_id", "fingerprint", "quality",
                                "n_copies", "split"}

    with pytest.raises(SystemExit):
        cli.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", out, "--gate", "gopher",
             "--gopher", "bogus=1"]
        )


def test_curate_cli_gopher_bad_value_is_argparse_error(tmp_path):
    import pytest

    from zipkin_dependencies_spark import curate as cli

    with pytest.raises(SystemExit):
        cli.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", str(tmp_path / "x"), "--gate", "gopher",
             "--gopher", "min_words=abc"]
        )


def test_curate_cli_rejects_cross_gate_flags(tmp_path):
    """--gate gopher + --min-quality (and the inverse mix) must error, not
    silently drop the flag — a misconfigured run would otherwise proceed
    with a different gate than the operator believes (ADVICE r04)."""
    import pytest

    from zipkin_dependencies_spark import curate as cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    with pytest.raises(SystemExit):
        cli.main(
            ["--input", docs, "--output", str(tmp_path / "a"),
             "--gate", "gopher", "--min-quality", "0.9"]
        )
    with pytest.raises(SystemExit):
        cli.main(
            ["--input", docs, "--output", str(tmp_path / "b"),
             "--gate", "gopher", "--max-dup-3gram", "0.2"]
        )
    with pytest.raises(SystemExit):
        cli.main(
            ["--input", docs, "--output", str(tmp_path / "c"),
             "--gopher", "min_words=30"]
        )


def test_bench_clean_window_predicate():
    """The steal-aware retry trigger: sub-second jitter is tolerated, a
    sustained quarter-core of theft is not."""
    import bench

    assert bench.clean_window(0.2, 0.4)      # jitter under the floor
    assert not bench.clean_window(0.2, 0.6)  # floor exceeded
    assert bench.clean_window(10.0, 2.4)     # < 25% of elapsed
    assert not bench.clean_window(10.0, 2.6)
    assert not bench.clean_window(154.0, 322.4)  # the r04 driver window


def _v1_fixture(spark, tmp_path):
    """The sf0.001 v1 tables written as a SPAN_FORMAT=v1 parquet store, and
    the UTC day holding the most spans."""
    from pyspark.sql import functions as F

    from __spark_entry__ import SF_SMOKE_DIR
    from zipkin_dependencies_spark.functions.time import day_window_micros
    from zipkin_dependencies_spark.testdata import derived_v1_tables

    spans, annos = derived_v1_tables(spark, SF_SMOKE_DIR)
    store = str(tmp_path / "v1")
    spans.write.parquet(f"{store}/zipkin_spans")
    annos.write.parquet(f"{store}/zipkin_annotations")
    spans = spark.read.parquet(f"{store}/zipkin_spans")
    annos = spark.read.parquet(f"{store}/zipkin_annotations")
    day = (
        spans.groupBy(F.to_date(F.timestamp_micros("start_ts")).alias("d"))
        .count()
        .orderBy(F.desc("count"), "d")
        .first()
        .d
    )
    return store, spans, annos, day, day_window_micros(day)


def _links_at(spark, path):
    return sorted(
        (r.day, r.parent, r.child, r.call_count, r.error_count)
        for r in spark.read.parquet(path).collect()
    )


def test_cli_v1_source_writes_the_windowed_days_links(spark, tmp_path, monkeypatch):
    """STORAGE_TYPE=mysql SPAN_FORMAT=v1: the day window is applied once,
    on zipkin_spans.start_ts at the source, and the job writes the links of
    exactly those spans."""
    import zipkin_dependencies_spark.__main__ as cli
    from zipkin_dependencies_spark.functions import normalize_spans
    from zipkin_dependencies_spark.operators.link import links_from_spans
    from zipkin_dependencies_spark.sources.v1 import v1_to_v2_spans

    store, spans, annos, day, window = _v1_fixture(spark, tmp_path)
    links_path = str(tmp_path / "links")
    monkeypatch.setenv("STORAGE_TYPE", "mysql")
    monkeypatch.setenv("SPAN_FORMAT", "v1")
    monkeypatch.setenv("SPANS_PATH", store)
    monkeypatch.setenv("LINKS_PATH", links_path)
    monkeypatch.setenv("SPARK_MASTER", "local[4]")

    assert cli.main([day.isoformat()]) == 0

    want = sorted(
        (day, *r)
        for r in links_from_spans(
            normalize_spans(v1_to_v2_spans(spans, annos, *window))
        ).collect()
    )
    assert want and _links_at(spark, links_path) == want


def test_cli_mysql_source_is_not_refiltered_by_the_job(spark, tmp_path, monkeypatch):
    """SPAN_FORMAT=mysql: the live reader's rows (the pushed subquery's
    joined shape, already windowed by the database) carry no span
    timestamp; the job must link them as they are, with the same links as
    the v1 parquet path."""
    import zipkin_dependencies_spark.__main__ as cli
    from zipkin_dependencies_spark.sources import backends
    from zipkin_dependencies_spark.sources.v1 import CORE_KEYS, v2_spans_from_link_rows

    store, spans, annos, day, window = _v1_fixture(spark, tmp_path)

    def fake_read_spans_mysql(spark_, cfg, start_us, end_us):
        s = spans.filter(spans.start_ts.between(start_us, end_us))
        a = annos.filter(annos.a_key.isin(*CORE_KEYS))
        return v2_spans_from_link_rows(
            s.join(a, [s.trace_id == a.trace_id, s.id == a.span_id], "left_outer")
            .select(s.trace_id, s.parent_id, s.id, a.a_key,
                    a.endpoint_service_name, a.a_type)
            .distinct()
        )

    monkeypatch.setattr(backends, "read_spans_mysql", fake_read_spans_mysql)
    monkeypatch.setenv("STORAGE_TYPE", "mysql")
    monkeypatch.setenv("SPARK_MASTER", "local[4]")
    monkeypatch.setenv("SPAN_FORMAT", "mysql")
    monkeypatch.setenv("LINKS_PATH", str(tmp_path / "mysql_links"))
    assert cli.main([day.isoformat()]) == 0
    monkeypatch.setenv("SPAN_FORMAT", "v1")
    monkeypatch.setenv("SPANS_PATH", store)
    monkeypatch.setenv("LINKS_PATH", str(tmp_path / "v1_links"))
    assert cli.main([day.isoformat()]) == 0

    got = _links_at(spark, str(tmp_path / "mysql_links"))
    assert got and got == _links_at(spark, str(tmp_path / "v1_links"))


def _doc(trace_id="000000000000000a", **kw):
    """A v2 JSON span doc (camelCase, as zipkin writes it) on 2016-05-31."""
    import json

    doc = {"traceId": trace_id, "id": "0000000000000001",
           "timestamp": 1_464_710_316_000_000}
    doc.update(kw)
    return json.dumps(doc)


_CLIENT_SERVER = [
    _doc(kind="CLIENT", localEndpoint={"serviceName": "frontend"},
         remoteEndpoint={"serviceName": "backend"}),
    _doc(kind="SERVER", shared=True, localEndpoint={"serviceName": "backend"},
         remoteEndpoint={"serviceName": "frontend"}),
]


def test_cli_es_source_links_its_daily_index(spark, tmp_path, monkeypatch):
    """SPAN_FORMAT=es under its own profile (STORAGE_TYPE=elasticsearch,
    F3 day_partition): the daily index is the day partition, so its spans
    carry that day and the F3 filter keeps them. Only the connector's load
    is stubbed; the real decode and day stamp run."""
    from pyspark.sql.readwriter import DataFrameReader

    import zipkin_dependencies_spark.__main__ as cli

    load = DataFrameReader.load

    def fake_load(self, path=None, *args, **kwargs):
        if path != "zipkin-span-2016-05-31":
            return load(self, path, *args, **kwargs)
        return spark.createDataFrame([(d,) for d in _CLIENT_SERVER], "_source string")

    monkeypatch.setattr(DataFrameReader, "load", fake_load)
    links_path = str(tmp_path / "links")
    monkeypatch.setenv("STORAGE_TYPE", "elasticsearch")
    monkeypatch.setenv("SPAN_FORMAT", "es")
    monkeypatch.setenv("LINKS_PATH", links_path)
    monkeypatch.setenv("SPARK_MASTER", "local[4]")

    assert cli.main(["2016-05-31"]) == 0
    assert _links_at(spark, links_path) == [
        (dt.date(2016, 5, 31), "frontend", "backend", 1, 0)
    ]


def test_cli_json_source_links_only_whole_docs(spark, tmp_path, monkeypatch):
    """SPAN_FORMAT=json: a day of JSON-lines docs links exactly as its clean
    docs alone do. A 33-char trace id, a wrong-typed field the job never
    reads (duration) and a truncated line are skipped whole, as the
    reference's decoder skips them (TraceIdAndJsonToDependencyLinks.java:38-44)."""
    import zipkin_dependencies_spark.__main__ as cli

    dirty = [
        _doc("a" * 33, kind="CLIENT", localEndpoint={"serviceName": "frontend"},
             remoteEndpoint={"serviceName": "search"}),
        _doc("000000000000000b", kind="CLIENT", duration="slow",
             localEndpoint={"serviceName": "frontend"},
             remoteEndpoint={"serviceName": "cache"}),
        _doc("000000000000000c", kind="CLIENT")[:40],
    ]
    monkeypatch.setenv("SPAN_FORMAT", "json")
    monkeypatch.setenv("SPARK_MASTER", "local[4]")
    for name, docs in (("clean", _CLIENT_SERVER), ("dirty", _CLIENT_SERVER + dirty)):
        (tmp_path / name).mkdir()
        (tmp_path / name / "spans.json").write_text("".join(d + "\n" for d in docs))
        monkeypatch.setenv("SPANS_PATH", str(tmp_path / name))
        monkeypatch.setenv("LINKS_PATH", str(tmp_path / f"{name}_links"))
        assert cli.main(["2016-05-31"]) == 0

    want = _links_at(spark, str(tmp_path / "clean_links"))
    assert want == [(dt.date(2016, 5, 31), "frontend", "backend", 1, 0)]
    assert _links_at(spark, str(tmp_path / "dirty_links")) == want


def _jvm_options(spark, jobj):
    """The options a JVM DataFrameReader/DataFrameWriter holds, keys as set."""
    convert = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return dict(convert.asJava(jobj.extraOptions().originalMap()))


def test_cli_cassandra_settings_reach_the_connector(spark, monkeypatch):
    """STORAGE_TYPE=cassandra3 SPAN_FORMAT=cassandra LINKS_SINK=backend: the
    CASSANDRA_* connector conf rides on both the span scan and the links
    write, and the scan splits at the fixed size. Only the connector's load
    and save are stubbed; the real projection, job and doc shape run."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    import zipkin_dependencies_spark.__main__ as cli
    from zipkin_dependencies_spark.sources.backends import (
        CASSANDRA_FORMAT,
        CASSANDRA_SPLIT_SIZE_MB,
    )

    seen = {}
    load, save = DataFrameReader.load, DataFrameWriter.save

    def fake_load(self, *args, **kwargs):
        if self._jreader.source() != CASSANDRA_FORMAT:
            return load(self, *args, **kwargs)
        seen["read"] = _jvm_options(spark, self._jreader)
        ts = 1_464_710_316_000_000
        return spark.createDataFrame(
            [
                ("000000000000000a", None, "1", "CLIENT", ts, ("web",), ("api",), None, None),
                ("000000000000000a", None, "1", "SERVER", ts, ("api",), ("web",), None, True),
            ],
            "trace_id string, parent_id string, id string, kind string, ts long, "
            "l_ep struct<service:string>, r_ep struct<service:string>, "
            "tags map<string,string>, shared boolean",
        ).coalesce(1)  # one partition: the clustered scan's promise holds

    def fake_save(self, *args, **kwargs):
        if self._jwrite.source() != CASSANDRA_FORMAT:
            return save(self, *args, **kwargs)
        seen["write"] = _jvm_options(spark, self._jwrite)
        seen["rows"] = sorted(map(tuple, self._df.collect()))

    monkeypatch.setattr(DataFrameReader, "load", fake_load)
    monkeypatch.setattr(DataFrameWriter, "save", fake_save)
    monkeypatch.delenv("LINKS_PATH", raising=False)
    monkeypatch.setenv("STORAGE_TYPE", "cassandra3")
    monkeypatch.setenv("SPAN_FORMAT", "cassandra")
    monkeypatch.setenv("LINKS_SINK", "backend")
    monkeypatch.setenv("CASSANDRA_CONTACT_POINTS", "a:9043,b:9043")
    monkeypatch.setenv("SPARK_MASTER", "local[4]")

    assert cli.main(["2016-05-31"]) == 0

    connection = {
        "spark.cassandra.connection.host": "a,b",
        "spark.cassandra.connection.port": "9043",
    }
    assert seen["read"].items() >= {
        **connection,
        "spark.cassandra.input.split.sizeInMB": CASSANDRA_SPLIT_SIZE_MB,
        "keyspace": "zipkin2",
        "table": "span",
    }.items()
    assert seen["write"].items() >= {
        **connection, "keyspace": "zipkin2", "table": "dependency",
    }.items()
    assert seen["rows"] == [(dt.date(2016, 5, 31), "web", "api", 1, None)]


def test_cli_es_flavor_is_probed_from_es_hosts(spark, tmp_path, monkeypatch):
    """STORAGE_TYPE=elasticsearch: the S6 probe asks ES_HOSTS for its
    distribution, and a cluster that answers "opensearch" is read through
    the OpenSearch connector with opensearch.* options
    (ZipkinElasticsearchStorage.java:77-128). A local server answers the
    probe; only the connector's load is stubbed."""
    from pyspark.sql.readwriter import DataFrameReader

    import tests.test_config as config_tests
    import zipkin_dependencies_spark.__main__ as cli
    from zipkin_dependencies_spark.sources.backends import OS_FORMAT

    seen = {}
    load = DataFrameReader.load

    def fake_load(self, path=None, *args, **kwargs):
        if path != "zipkin-span-2016-05-31":
            return load(self, path, *args, **kwargs)
        seen["format"] = self._jreader.source()
        seen["options"] = _jvm_options(spark, self._jreader)
        return spark.createDataFrame([(d,) for d in _CLIENT_SERVER], "_source string")

    monkeypatch.setattr(DataFrameReader, "load", fake_load)
    captured: list = []
    srv = config_tests.TestFlavorProbe._serve(
        ['{"version": {"distribution": "opensearch", "number": "2.11.0"}}'], captured
    )
    port = srv.server_address[1]
    links_path = str(tmp_path / "links")
    monkeypatch.setenv("STORAGE_TYPE", "elasticsearch")
    monkeypatch.setenv("SPAN_FORMAT", "es")
    monkeypatch.setenv("ES_HOSTS", f"http://127.0.0.1:{port}")
    monkeypatch.setenv("LINKS_PATH", links_path)
    monkeypatch.setenv("SPARK_MASTER", "local[4]")
    try:
        assert cli.main(["2016-05-31"]) == 0
    finally:
        srv.shutdown()

    assert captured == [None]  # one probe, no ES_USERNAME so no auth header
    assert seen["format"] == OS_FORMAT
    assert seen["options"]["opensearch.output.json"] == "true"
    assert seen["options"]["opensearch.nodes"] == f"127.0.0.1:{port}"
    assert all(k.startswith("opensearch.") for k in seen["options"])
    assert _links_at(spark, links_path) == [
        (dt.date(2016, 5, 31), "frontend", "backend", 1, 0)
    ]
