"""Live-backend seam contract tests (SURVEY §5 layer 1): the connector
option maps, URLs, resource names, and doc shapes the read/write appliers
hand to Spark — mirrored from the reference's own unit tests
(elasticsearch/.../ElasticsearchDependenciesJobTest.java:33-122,
cassandra3/.../CassandraDependenciesJobTest.java:14-42,
mysql/.../MySQLDependenciesJob.java:42-48,150-155).

No live store exists in this environment, so the `.load()`/`.save()` sides
are exercised only through their plans; everything downstream of the seam
shares the oracle-checked parquet path.
"""

from __future__ import annotations

from zipkin_dependencies_spark.sources.backends import (
    OS_FORMAT,
    cassandra_conf_from_env,
    cassandra_connector_conf,
    cassandra_settings_from_env,
    es_conf_from_env,
    es_connector_conf,
    es_link_docs,
    es_settings_from_env,
    mysql_config_from_env,
    mysql_jdbc_url,
)


# --- ES/OS conf (ElasticsearchDependenciesJobTest.java) ----------------------

def test_es_build_https():
    # buildHttps: hosts("https://foobar") → es.nodes foobar:443, ssl on
    conf = es_connector_conf(hosts="https://foobar", hosts_explicit=True)
    assert conf["es.nodes"] == "foobar:443"
    assert conf["es.net.ssl"] == "true"


def test_es_build_auth():
    # buildAuth: username/password → basic-auth conf keys
    conf = es_connector_conf(username="foo", password="bar")
    assert conf["es.net.http.auth.user"] == "foo"
    assert conf["es.net.http.auth.pass"] == "bar"


def test_es_no_auth_keys_when_unset():
    conf = es_connector_conf()
    assert "es.net.http.auth.user" not in conf
    assert conf["es.index.read.missing.as.empty"] == "true"
    assert conf["es.nodes.wan.only"] == "false"


def test_es_java_ssl_opts_redirected():
    # javaSslOptsRedirected: javax.net.ssl.* system properties forwarded,
    # store paths as file: resources
    sysprops = {
        "javax.net.ssl.keyStore": "keystore.jks",
        "javax.net.ssl.keyStorePassword": "superSecret",
        "javax.net.ssl.trustStore": "truststore.jks",
        "javax.net.ssl.trustStorePassword": "secretSuper",
    }
    conf = es_connector_conf(sysprops=sysprops)
    assert conf["es.net.ssl.keystore.location"] == "file:keystore.jks"
    assert conf["es.net.ssl.keystore.pass"] == "superSecret"
    assert conf["es.net.ssl.truststore.location"] == "file:truststore.jks"
    assert conf["es.net.ssl.truststore.pass"] == "secretSuper"


def test_es_empty_ssl_props_stay_empty():
    conf = es_connector_conf(sysprops={})
    assert conf["es.net.ssl.keystore.location"] == ""
    assert conf["es.net.ssl.keystore.pass"] == ""


def test_es_explicit_hosts_forces_wan_only():
    # Builder.hosts():103-106 — setting hosts flips wan.only to true
    assert es_connector_conf(hosts_explicit=True)["es.nodes.wan.only"] == "true"
    assert (
        es_connector_conf(hosts_explicit=False, wan_only="false")["es.nodes.wan.only"]
        == "false"
    )


def test_es_conf_from_env_wan_and_auth():
    env = {"ES_HOSTS": "https://1.1.1.1", "ES_USERNAME": "u", "ES_PASSWORD": "p"}
    conf = es_conf_from_env(env)
    assert conf["es.nodes"] == "1.1.1.1:443"
    assert conf["es.nodes.wan.only"] == "true"  # explicit hosts
    assert conf["es.net.http.auth.user"] == "u"
    assert conf["es.net.http.auth.pass"] == "p"
    assert conf["es.net.ssl"] == "true"


def test_os_conf_uses_opensearch_prefix():
    conf = es_conf_from_env({"ES_HOSTS": "http://2.2.2.2"}, flavor="opensearch")
    assert conf["opensearch.nodes"] == "2.2.2.2:80"
    assert conf["opensearch.index.read.missing.as.empty"] == "true"
    assert not any(k.startswith("es.") for k in conf)


# --- Cassandra conf (CassandraDependenciesJob.java:54-84,156-158) ------------

def test_cassandra_conf_hosts_and_port():
    conf = cassandra_connector_conf(contact_points="1.1.1.1:9143,2.2.2.2:9143")
    assert conf["spark.cassandra.connection.host"] == "1.1.1.1,2.2.2.2"
    assert conf["spark.cassandra.connection.port"] == "9143"
    assert conf["spark.cassandra.connection.localDC"] == "datacenter1"


def test_cassandra_conf_mixed_ports_fall_back():
    conf = cassandra_connector_conf(contact_points="1.1.1.1:9143,2.2.2.2")
    assert conf["spark.cassandra.connection.port"] == "9042"


def test_cassandra_auth_only_when_username_set():
    anon = cassandra_connector_conf()
    assert "spark.cassandra.auth.username" not in anon
    authed = cassandra_connector_conf(username="u", password="p")
    assert authed["spark.cassandra.auth.username"] == "u"
    assert authed["spark.cassandra.auth.password"] == "p"


def test_cassandra_conf_from_env_truststore():
    conf = cassandra_conf_from_env(
        {"CASSANDRA_CONTACT_POINTS": "host1", "CASSANDRA_USE_SSL": "true"},
        sysprops={
            "javax.net.ssl.trustStore": "ts.jks",
            "javax.net.ssl.trustStorePassword": "pw",
        },
    )
    assert conf["spark.cassandra.connection.ssl.enabled"] == "true"
    assert conf["spark.cassandra.connection.ssl.trustStore.path"] == "ts.jks"
    assert conf["spark.cassandra.connection.ssl.trustStore.password"] == "pw"


# --- one settings object per store -------------------------------------------

def test_store_settings_from_env():
    """Each store's settings come from its env variables alone, and
    STORAGE_TYPE=opensearch names the flavor without probing ES_HOSTS."""
    import tests.test_config as config_tests

    captured: list = []
    srv = config_tests.TestFlavorProbe._serve([], captured)
    port = srv.server_address[1]
    try:
        es = es_settings_from_env({
            "STORAGE_TYPE": "opensearch", "ES_HOSTS": f"http://127.0.0.1:{port}",
            "ES_INDEX": "z", "ES_DATE_SEPARATOR": ".",
        })
    finally:
        srv.shutdown()
    assert captured == []
    assert (es.index_prefix, es.date_separator, es.format, es.prefix) == (
        "z", ".", OS_FORMAT, "opensearch",
    )
    assert es.conf["opensearch.nodes"] == f"127.0.0.1:{port}"

    cs = cassandra_settings_from_env({"CASSANDRA_KEYSPACE": "zk", "CASSANDRA_USERNAME": "u"})
    assert cs.keyspace == "zk"
    assert cs.conf["spark.cassandra.auth.username"] == "u"


# --- MySQL (MySQLDependenciesJob.java:42-48,150-155) -------------------------

def test_mysql_jdbc_url_matches_reference():
    assert mysql_jdbc_url() == (
        "jdbc:mysql://localhost:3306/zipkin"
        "?permitMysqlScheme&autoReconnect=true&useSSL=false"
    )
    assert mysql_jdbc_url("db.example.com", 3307, "traces", use_ssl=True) == (
        "jdbc:mysql://db.example.com:3307/traces"
        "?permitMysqlScheme&autoReconnect=true&useSSL=true"
    )


def test_mysql_config_from_env_defaults_and_overrides():
    cfg = mysql_config_from_env({})
    assert cfg.url.startswith("jdbc:mysql://localhost:3306/zipkin")
    assert cfg.user == "" and cfg.password == "" and cfg.max_connections == 10

    cfg = mysql_config_from_env(
        {
            "MYSQL_HOST": "h",
            "MYSQL_TCP_PORT": "13306",
            "MYSQL_DB": "z2",
            "MYSQL_USER": "u",
            "MYSQL_PASS": "p",
            "MYSQL_MAX_CONNECTIONS": "4",
        }
    )
    assert cfg.url.startswith("jdbc:mysql://h:13306/z2")
    assert cfg.max_connections == 4


# --- link doc shape (P10; ElasticsearchDependenciesJob.java:209-221) ---------

def test_es_link_docs_synthetic_id(spark):
    links = spark.createDataFrame(
        [("frontend", "backend", 10, 2)],
        "parent string, child string, call_count long, error_count long",
    )
    doc = es_link_docs(links).first()
    assert doc.id == "frontend|backend"
    assert doc.callCount == 10 and doc.errorCount == 2
    assert es_link_docs(links).columns == [
        "id", "parent", "child", "callCount", "errorCount",
    ]


# --- W2 self-contained day upsert (MySQLDependenciesJob.java:243-252) --------

def test_mysql_write_day_upsert_is_rerun_idempotent(spark):
    """write_links_mysql issues the day-scoped DELETE itself before the
    distributed append (REPLACE-semantics parity), so a re-run for the same
    day never duplicates rows and never touches other days. Proven against
    a REAL JDBC database — the Derby engine embedded in the Spark JVM — not
    a mock: the exact statement, the prepared-date binding, and the
    delete-then-append ordering all execute for real."""
    import datetime as dt

    from zipkin_dependencies_spark.sources.backends import (
        MYSQL_DAY_DELETE_SQL,
        MysqlConfig,
        write_links_mysql,
    )

    # the statement itself is part of the contract
    assert MYSQL_DAY_DELETE_SQL == "DELETE FROM zipkin_dependencies WHERE day = ?"

    url = "jdbc:derby:memory:w2test;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url, "", "")
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE zipkin_dependencies (day DATE, parent VARCHAR(64), "
        "child VARCHAR(64), call_count BIGINT, error_count BIGINT)"
    )
    # a stale row for the target day (must be replaced) and a row for a
    # neighboring day (must survive untouched)
    st.execute(
        "INSERT INTO zipkin_dependencies VALUES "
        "('2024-01-02', 'stale', 'stale', 1, 0)"
    )
    st.execute(
        "INSERT INTO zipkin_dependencies VALUES "
        "('2024-01-03', 'keep', 'keep', 7, 1)"
    )
    st.close()
    conn.close()

    links = spark.createDataFrame(
        [("frontend", "backend", 10, 2), ("frontend", "cache", 5, 0)],
        "parent string, child string, call_count long, error_count long",
    )
    cfg = MysqlConfig(url=url, user="", password="", max_connections=2)
    day = dt.date(2024, 1, 2)

    write_links_mysql(links, day, cfg)
    write_links_mysql(links, day, cfg)  # re-run: delete-then-append again

    got = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "zipkin_dependencies")
        .load()
    )
    cols = {c.lower(): c for c in got.columns}
    rows = sorted(
        (
            r[cols["day"]].isoformat(),
            r[cols["parent"]],
            r[cols["child"]],
            r[cols["call_count"]],
            r[cols["error_count"]],
        )
        for r in got.collect()
    )
    assert rows == [
        ("2024-01-02", "frontend", "backend", 10, 2),
        ("2024-01-02", "frontend", "cache", 5, 0),
        ("2024-01-03", "keep", "keep", 7, 1),
    ]


# --- S1 co-partitioned scan declaration (CassandraDependenciesJob.java:220) --

def test_cassandra_scan_clustering_contract():
    """The live scan's complete-trace-per-partition property transfers to
    the linker's group key only in strict mode (lenient low-64 grouping
    crosses token ranges)."""
    from zipkin_dependencies_spark.sources.backends import (
        cassandra_scan_is_trace_clustered,
    )

    assert cassandra_scan_is_trace_clustered(strict_trace_id=True) is True
    assert cassandra_scan_is_trace_clustered(strict_trace_id=False) is False


def test_job_clustered_skips_repartition_and_dedupe_exchange(spark):
    """JobConfig(clustered=True) must produce a links plan with NO
    span-scale Exchange before the linker (the bucketed/token-range spanBy
    parity path) and skip the D1 dedupe; results equal the
    default path when the input really is trace-co-located."""
    import pyspark.sql.functions as F

    from zipkin_dependencies_spark.plans.job import DependencyLinksJob, JobConfig
    from zipkin_dependencies_spark.testdata import derived_spans

    spans = derived_spans(spark, "/root/testdata/sf0.001")
    # co-locate traces for real so the declaration is true
    co = spans.repartition(4, "trace_id").localCheckpoint(eager=True)

    day = "1996-03-15"
    base = DependencyLinksJob(
        spark, JobConfig(day=day, spans_path="unused")
    ).links(co)
    fast = DependencyLinksJob(
        spark, JobConfig(day=day, spans_path="unused", clustered=True)
    ).links(co)

    plan = fast._jdf.queryExecution().executedPlan().toString()
    pre_agg = plan.split("MapInPandas")[-1]  # below the linker stage
    assert "Exchange" not in pre_agg, pre_agg
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, base.collect()))
