"""Driver-side config parsing (SURVEY §5 layer 1) — mirrors the reference's
pure unit tests: date parsing (ZipkinDependenciesJobTest.java:15-33), contact
point parsing (CassandraDependenciesJobTest.java:14-42), ES host parsing
(ElasticsearchDependenciesJobTest.java:88-103), flavor sniffing
(ZipkinElasticsearchStorageTest.java:17-90). No Spark session required."""

from __future__ import annotations

import datetime as dt

import pytest

from zipkin_dependencies_spark.config import (
    EngineEnv,
    engine_env,
    flavor_from_responses,
    micros_day_repr,
    midnight_utc,
    parse_cassandra_hosts,
    parse_cassandra_port,
    parse_day,
    parse_es_hosts,
    parse_spark_conf,
    parse_storage_urls,
    sniff_flavor,
)
from zipkin_dependencies_spark.operators.day_filter import DayFilter

# canned cluster-root bodies from ZipkinElasticsearchStorageTest.java:18-57
ES_BODY = """{
  "name" : "zipkin-elasticsearch",
  "version" : {"number" : "7.0.1", "build_flavor" : "default"},
  "tagline" : "You Know, for Search"
}"""
OS_BODY = """{
  "name" : "PV-NhJd",
  "version" : {
    "distribution" : "opensearch",
    "number" : "2.11.1"
  }
}"""


class TestParseDay:
    def test_parses_utc_midnight(self):
        # 2016-07-16T00:00:00Z == 1468627200000 ms
        assert parse_day("2016-07-16") == 1_468_627_200_000

    def test_rejects_malformed(self):
        with pytest.raises(ValueError, match="yyyy-MM-dd"):
            parse_day("2016/07/16")

    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            parse_day("not-a-date")

    def test_midnight_utc_floors(self):
        noon = 1_468_627_200_000 + 12 * 3600 * 1000
        assert midnight_utc(noon) == 1_468_627_200_000

    def test_day_repr_roundtrip(self):
        assert micros_day_repr(parse_day("2016-07-16")) == dt.date(2016, 7, 16)


class TestSparkConf:
    def test_pairs(self):
        assert parse_spark_conf("spark.a=1,spark.b=x") == {
            "spark.a": "1", "spark.b": "x"
        }

    def test_no_equals_is_empty(self):
        assert parse_spark_conf("garbage") == {}

    def test_none_and_empty(self):
        assert parse_spark_conf(None) == {}
        assert parse_spark_conf("") == {}

    def test_malformed_pair_dropped(self):
        # "a=b=c".split("=") has 3 parts → dropped, like the reference's
        # splits.length==2 guard (ZipkinDependenciesJob.java:39-41)
        assert parse_spark_conf("a=b=c,k=v") == {"k": "v"}


class TestCassandraContactPoints:
    # CassandraDependenciesJobTest.java:14-42, byte-for-byte expectations
    def test_hosts_ignores_port_section(self):
        assert parse_cassandra_hosts("1.1.1.1:9142") == "1.1.1.1"

    def test_hosts_comma_delimits(self):
        assert parse_cassandra_hosts("1.1.1.1:9143,2.2.2.2:9143") == "1.1.1.1,2.2.2.2"

    def test_port_ignores_host_section(self):
        assert parse_cassandra_port("1.1.1.1:9142") == "9142"

    def test_port_multiple_consistent(self):
        assert parse_cassandra_port("1.1.1.1:9143,2.2.2.2:9143") == "9143"

    def test_port_defaults_to_9042(self):
        assert parse_cassandra_port("1.1.1.1") == "9042"

    def test_port_defaults_to_9042_multi(self):
        assert parse_cassandra_port("1.1.1.1:9143,2.2.2.2") == "9042"

    def test_ipv6_bracketed(self):
        assert parse_cassandra_hosts("[2001:db8::1]:9042") == "2001:db8::1"
        assert parse_cassandra_port("[2001:db8::1]:7000") == "7000"

    def test_ipv6_bare_no_port(self):
        assert parse_cassandra_hosts("2001:db8::1") == "2001:db8::1"
        assert parse_cassandra_port("2001:db8::1") == "9042"


class TestEsHosts:
    # ElasticsearchDependenciesJobTest.java:88-103
    def test_default(self):
        assert parse_es_hosts("1.1.1.1") == "1.1.1.1"

    def test_comma_delimits(self):
        assert parse_es_hosts("1.1.1.1:9200,2.2.2.2:9200") == "1.1.1.1:9200,2.2.2.2:9200"

    def test_http_default_port(self):
        assert parse_es_hosts("http://1.1.1.1") == "1.1.1.1:80"

    def test_https_default_port(self):
        assert parse_es_hosts("https://1.1.1.1") == "1.1.1.1:443"

    def test_url_with_port(self):
        assert parse_es_hosts("http://1.1.1.1:9201") == "1.1.1.1:9201"


class TestStorageUrls:
    # ZipkinElasticsearchStorage.java:135-162
    def test_default_scheme_and_port(self):
        assert parse_storage_urls("1.1.1.1") == ["http://1.1.1.1:9200"]

    def test_https_infects_default_scheme(self):
        assert parse_storage_urls("https://a,b") == [
            "https://a:9200", "https://b:9200"
        ]

    def test_https_default_scheme_applies_to_bare(self):
        # reference scans ALL parts for https before assigning defaults
        assert parse_storage_urls("b,https://a") == [
            "https://b:9200", "https://a:9200"
        ]

    def test_explicit_port_kept(self):
        assert parse_storage_urls("http://h:9201") == ["http://h:9201"]


class TestFlavorSniff:
    # ZipkinElasticsearchStorageTest.java:61-90
    def test_opensearch(self):
        assert sniff_flavor(OS_BODY) == "opensearch"
        assert flavor_from_responses([OS_BODY]) == "opensearch"

    def test_elasticsearch_no_distribution_field(self):
        assert sniff_flavor(ES_BODY) is None
        assert flavor_from_responses([ES_BODY]) == "elasticsearch"

    def test_unreachable_hosts_fall_through(self):
        assert flavor_from_responses([None, OS_BODY]) == "opensearch"
        assert flavor_from_responses([None, None]) == "elasticsearch"

    def test_whitespace_tolerant_regex(self):
        assert sniff_flavor('{"distribution" :  "OpenSearch"}') == "opensearch"


class TestEngineEnv:
    def test_day_argument_wins(self):
        env = engine_env(environ={}, day_arg="2016-07-16")
        assert micros_day_repr(env.day_ms) == dt.date(2016, 7, 16)

    def test_no_argument_uses_now_floored(self):
        # now = 2016-07-16T12:34:56Z → floored to midnight
        now_ms = 1_468_627_200_000 + 45_296_000
        env = engine_env(environ={}, now_ms=now_ms)
        assert env.day_ms == 1_468_627_200_000

    def test_storage_type_profiles(self):
        assert engine_env({"STORAGE_TYPE": "cassandra3"}, "2016-07-16").day_filter is DayFilter.TRACE_ROOT
        assert engine_env({"STORAGE_TYPE": "mysql"}, "2016-07-16").day_filter is DayFilter.SPAN_WINDOW
        assert engine_env({"STORAGE_TYPE": "elasticsearch"}, "2016-07-16").day_filter is DayFilter.DAY_PARTITION
        assert engine_env({"STORAGE_TYPE": "opensearch"}, "2016-07-16").day_filter is DayFilter.DAY_PARTITION

    def test_unknown_storage_type_raises(self):
        with pytest.raises(ValueError, match="STORAGE_TYPE"):
            engine_env({"STORAGE_TYPE": "hbase"}, "2016-07-16")

    def test_span_formats_accepted(self):
        for fmt in ("parquet", "json", "v1", "es", "cassandra", "mysql"):
            assert engine_env({"SPAN_FORMAT": fmt}, "2016-07-16").source_format == fmt
        assert engine_env({}, "2016-07-16").source_format == "parquet"

    def test_unknown_span_format_raises(self):
        # a misspelled format must not be read as parquet
        with pytest.raises(ValueError, match="SPAN_FORMAT"):
            engine_env({"SPAN_FORMAT": "jsonl"}, "2016-07-16")

    def test_links_sink_backend_needs_live_format(self):
        for fmt in ("es", "cassandra", "mysql"):
            env = engine_env({"SPAN_FORMAT": fmt, "LINKS_SINK": "backend"}, "2016-07-16")
            assert env.source_format == fmt
        # a file format has no connector to write the links back through
        for fmt in ("parquet", "json", "v1"):
            with pytest.raises(ValueError, match="LINKS_SINK"):
                engine_env({"SPAN_FORMAT": fmt, "LINKS_SINK": "backend"}, "2016-07-16")
        with pytest.raises(ValueError, match="LINKS_SINK"):
            engine_env({"LINKS_SINK": "backend"}, "2016-07-16")

    def test_day_partition_needs_a_day_carrying_format(self):
        # F3 keeps spans by their `day`; these sources set none, so the
        # run would write zero links (or fail deep in the job)
        for fmt in ("json", "v1", "mysql", "cassandra"):
            with pytest.raises(ValueError, match="day_partition"):
                engine_env({"STORAGE_TYPE": "elasticsearch", "SPAN_FORMAT": fmt}, "2016-07-16")
        for fmt in ("parquet", "es"):
            env = engine_env({"STORAGE_TYPE": "opensearch", "SPAN_FORMAT": fmt}, "2016-07-16")
            assert env.day_filter is DayFilter.DAY_PARTITION

    def test_unknown_links_sink_raises(self):
        with pytest.raises(ValueError, match="LINKS_SINK"):
            engine_env({"SPAN_FORMAT": "es", "LINKS_SINK": "backnd"}, "2016-07-16")

    def test_strict_default_true_where_honored(self):
        # STRICT_TRACE_ID defaults true (CassandraDependenciesJob.java:65)
        assert engine_env({"STORAGE_TYPE": "cassandra3"}, "2016-07-16").strict_trace_id
        # …but the ES grouping is always lenient (ElasticsearchDependenciesJob.java:181)
        assert not engine_env({"STORAGE_TYPE": "elasticsearch"}, "2016-07-16").strict_trace_id

    def test_strict_override(self):
        env = engine_env(
            {"STORAGE_TYPE": "cassandra3", "STRICT_TRACE_ID": "false"}, "2016-07-16"
        )
        assert not env.strict_trace_id

    def test_spark_conf_and_master_passthrough(self):
        env = engine_env(
            {
                "SPARK_MASTER": "local[4]",
                "SPARK_CONF": "spark.x=1,spark.y=2",
            },
            "2016-07-16",
        )
        assert env.master == "local[4]"
        assert env.spark_conf == {"spark.x": "1", "spark.y": "2"}


class TestEsIndexNaming:
    def test_default_separator(self):
        import datetime as dt

        from zipkin_dependencies_spark.config import (
            es_dependency_index,
            es_span_index,
        )

        d = dt.date(2024, 3, 7)
        assert es_span_index("zipkin", d) == "zipkin-span-2024-03-07"
        assert es_dependency_index("zipkin", d) == "zipkin-dependency-2024-03-07"

    def test_empty_separator_compacts(self):
        import datetime as dt

        from zipkin_dependencies_spark.config import es_span_index

        assert es_span_index("zipkin", dt.date(2024, 3, 7), "") == "zipkin-span-20240307"

    def test_custom_separator(self):
        import datetime as dt

        from zipkin_dependencies_spark.config import es_span_index

        assert es_span_index("z", dt.date(2024, 3, 7), ".") == "z-span-2024.03.07"


class TestFlavorProbe:
    """Mirrors ElasticsearchDependenciesJobTest.authWorks/:33-122 — a local
    HTTP server traps the request so the basic-auth header and the sniff
    loop are asserted against real wire traffic, no mocks of our own code."""

    @staticmethod
    def _serve(responses, captured):
        import http.server
        import threading

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                captured.append(self.headers.get("Authorization"))
                body = responses.pop(0) if responses else "{}"
                data = body.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):
                pass

        srv = http.server.HTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    def test_auth_header_and_opensearch_sniff(self):
        import base64

        from zipkin_dependencies_spark.config import probe_flavor

        captured: list = []
        srv = self._serve(
            ['{"version": {"distribution": "opensearch", "number": "2.11.0"}}'],
            captured,
        )
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/"
            flavor = probe_flavor([url], username="foo", password="bar")
        finally:
            srv.shutdown()
        assert flavor == "opensearch"
        encoded = base64.b64encode(b"foo:bar").decode("ascii")
        assert captured == [f"Basic {encoded}"]

    def test_unreachable_host_falls_through_to_default(self):
        from zipkin_dependencies_spark.config import probe_flavor

        # nothing listens on this port; the probe must not raise
        assert probe_flavor(["http://127.0.0.1:1/"], timeout=0.5) == "elasticsearch"

    def test_no_auth_header_when_username_unset(self):
        from zipkin_dependencies_spark.config import probe_flavor

        captured: list = []
        srv = self._serve(["{}"], captured)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/"
            flavor = probe_flavor([url])
        finally:
            srv.shutdown()
        assert flavor == "elasticsearch"
        assert captured == [None]
