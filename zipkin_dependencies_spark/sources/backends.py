"""Live-backend seams: the connector option maps and read/write plans for
the reference's three real stores, behind ``STORAGE_TYPE`` (SURVEY §2.1
S1/S4, §2.8 W1/W3, §2.9 config surface).

Everything here splits into two layers:

1. **Pure config builders** (option dicts, URLs, doc shaping) — exact
   mirrors of the reference's builder logic, unit/contract-tested in
   tests/test_backends.py with no store running (the reference itself
   unit-tests this layer the same way,
   elasticsearch/.../ElasticsearchDependenciesJobTest.java:33-122). Each
   store's builders end in one frozen settings object (``EsSettings``,
   ``CassandraSettings``, ``MysqlConfig``) that ``config.engine_env``
   builds once per run and the store's read and write both take.
2. **Thin read/write appliers** that hand the option map to
   ``spark.read.format(...)`` / ``df.write.format(...)``. These need the
   connector jar on the classpath (``elasticsearch-spark``,
   ``spark-cassandra-connector``, a JDBC driver) and a live store; neither
   exists in this sandbox, so they are exercised only via their *plans*
   (format + options + resource naming), never a live load. README documents
   exactly this boundary.

The engine's computation is backend-independent: every seam lands in the
same v2 span DataFrame and leaves from the same links DataFrame, so the
fully oracle-checked parquet path covers all downstream semantics.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import (
    es_dependency_index,
    es_span_index,
    parse_cassandra_hosts,
    parse_cassandra_port,
    parse_es_hosts,
    parse_storage_urls,
    probe_flavor,
)
from .jdbc import v1_pushdown_subquery
from .v1 import v2_spans_from_link_rows

# --- Elasticsearch / OpenSearch ---------------------------------------------

#: the es-hadoop connector's DataFrame-native format name; the OS fork
#: publishes `org.opensearch.spark.sql` with the same option surface
ES_FORMAT = "org.elasticsearch.spark.sql"
OS_FORMAT = "org.opensearch.spark.sql"


def _file_resource(sysprops: Mapping[str, str], key: str) -> str:
    # ElasticsearchDependenciesJob.getSystemPropertyAsFileResource:140-143:
    # non-empty javax.net.ssl.* system properties become file: URLs
    prop = sysprops.get(key, "")
    return f"file:{prop}" if prop else ""


def es_connector_conf(
    hosts: str = "127.0.0.1",
    username: str | None = None,
    password: str | None = None,
    wan_only: str = "false",
    hosts_explicit: bool = False,
    sysprops: Mapping[str, str] | None = None,
    flavor: str = "elasticsearch",
) -> dict[str, str]:
    """The es-hadoop/opensearch-hadoop option map the reference assembles
    (ElasticsearchDependenciesJob.java:64-77,160-169; the OS twin swaps the
    `es.` prefix for `opensearch.`):

    - missing daily index reads as empty (the cron-today case);
    - WAN-only flag from env, forced on when hosts were set explicitly
      (Builder.hosts:103-106 — cloud deployments resolve only public IPs);
    - keystore/truststore forwarded from javax.net.ssl.* system properties;
    - basic-auth user/pass when configured (Shield/X-Pack);
    - ``es.net.ssl`` turned on by an https host;
    - host list reduced to host:port pairs (P9 parsing).
    """
    sysprops = sysprops or {}
    p = "opensearch" if flavor == "opensearch" else "es"
    conf = {
        f"{p}.index.read.missing.as.empty": "true",
        f"{p}.nodes.wan.only": "true" if hosts_explicit else wan_only,
        f"{p}.net.ssl.keystore.location": _file_resource(sysprops, "javax.net.ssl.keyStore"),
        f"{p}.net.ssl.keystore.pass": sysprops.get("javax.net.ssl.keyStorePassword", ""),
        f"{p}.net.ssl.truststore.location": _file_resource(sysprops, "javax.net.ssl.trustStore"),
        f"{p}.net.ssl.truststore.pass": sysprops.get("javax.net.ssl.trustStorePassword", ""),
        f"{p}.nodes": parse_es_hosts(hosts),
    }
    if username:
        conf[f"{p}.net.http.auth.user"] = username
        conf[f"{p}.net.http.auth.pass"] = password or ""
    if "https" in hosts:
        conf[f"{p}.net.ssl"] = "true"
    return conf


def es_conf_from_env(
    env: Mapping[str, str], sysprops: Mapping[str, str] | None = None,
    flavor: str = "elasticsearch",
) -> dict[str, str]:
    """ES_HOSTS / ES_USERNAME / ES_PASSWORD / ES_NODES_WAN_ONLY → option map
    (the Builder's getEnv defaults, ElasticsearchDependenciesJob.java:57-60)."""
    return es_connector_conf(
        hosts=env.get("ES_HOSTS", "127.0.0.1"),
        username=env.get("ES_USERNAME") or None,
        password=env.get("ES_PASSWORD") or None,
        wan_only=env.get("ES_NODES_WAN_ONLY", "false"),
        hosts_explicit="ES_HOSTS" in env,
        sysprops=sysprops,
        flavor=flavor,
    )


@dataclass(frozen=True)
class EsSettings:
    """One ES/OpenSearch store, read from the environment once per run."""

    index_prefix: str          # ES_INDEX
    date_separator: str        # ES_DATE_SEPARATOR
    flavor: str                # STORAGE_TYPE=opensearch, else the S6 probe
    conf: Mapping[str, str]    # es_conf_from_env

    @property
    def format(self) -> str:
        return OS_FORMAT if self.flavor == "opensearch" else ES_FORMAT

    @property
    def prefix(self) -> str:  # the connector's option namespace
        return "opensearch" if self.flavor == "opensearch" else "es"


def es_settings_from_env(env: Mapping[str, str]) -> EsSettings:
    """The ES/OS store's settings. ``STORAGE_TYPE=opensearch`` names the
    flavor; otherwise the S6 probe asks the cluster, as the reference's
    storage does before its job runs (ZipkinElasticsearchStorage.java:77-128)."""
    if env.get("STORAGE_TYPE") == "opensearch":
        flavor = "opensearch"
    else:
        flavor = probe_flavor(
            parse_storage_urls(env.get("ES_HOSTS", "127.0.0.1")),
            env.get("ES_USERNAME") or None,
            env.get("ES_PASSWORD") or None,
        )
    return EsSettings(
        index_prefix=env.get("ES_INDEX", "zipkin"),
        date_separator=env.get("ES_DATE_SEPARATOR", "-"),
        flavor=flavor,
        conf=es_conf_from_env(env, flavor=flavor),
    )


def read_spans_es(
    spark: SparkSession, day: dt.date, settings: EsSettings
) -> tuple[DataFrame, DataFrame]:
    """Scan the daily span index ``{prefix}-span-{date}`` as raw JSON docs →
    (spans, audit) (S4 + P4; ElasticsearchDependenciesJob.java:173,180).

    The connector reads `_source` as a JSON string per doc when asked for
    `es.output.json`, which feeds ``sources/json.py::spans_from_json_strings``
    — the classifier every JSON source decodes through, so a doc the
    reference's decoder skips is skipped here too. The daily index is the
    day partition: its spans carry ``day``, so the ES profile's F3 filter
    keeps them."""
    from .json import spans_from_json_strings

    s = settings
    raw = (
        spark.read.format(s.format)
        .option(f"{s.prefix}.output.json", "true")
        .options(**s.conf)
        .load(es_span_index(s.index_prefix, day, s.date_separator))
    )
    # es.output.json=true yields a single string column of _source JSON
    spans, audit = spans_from_json_strings(raw, raw.columns[-1])
    return spans.withColumn("day", F.lit(day)), audit


def es_link_docs(links: DataFrame) -> DataFrame:
    """Link rows → the reference's dependency doc shape with the synthetic
    ``id = parent|child`` upsert key (P10 + DEPENDENCY_LINK_JSON,
    ElasticsearchDependenciesJob.java:209-221): re-runs overwrite, never
    duplicate."""
    return links.select(
        F.concat_ws("|", "parent", "child").alias("id"),
        "parent",
        "child",
        F.col("call_count").alias("callCount"),
        F.col("error_count").alias("errorCount"),
    )


def write_links_es(links: DataFrame, day: dt.date, settings: EsSettings) -> None:
    """Distributed upsert into ``{prefix}-dependency-{date}`` keyed by the
    synthetic doc id (W3; ElasticsearchDependenciesJob.java:198-203 — the one
    reference sink that never collects to the driver; ours follow suit)."""
    s = settings
    (
        es_link_docs(links).write.format(s.format)
        .option(f"{s.prefix}.mapping.id", "id")
        .options(**s.conf)
        .mode("append")
        .save(es_dependency_index(s.index_prefix, day, s.date_separator))
    )


# --- Cassandra 3 --------------------------------------------------------------

CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"

#: the scan's token-range → Spark-partition split target (the connector's
#: ``spark.cassandra.input.split.sizeInMB``), so a 100 TB keyspace arrives in
#: memory-bounded partitions instead of one task per vnode. Splits always
#: fall BETWEEN partition keys, so ``cassandra_scan_is_trace_clustered``
#: holds at any split size.
CASSANDRA_SPLIT_SIZE_MB = "64"


def cassandra_connector_conf(
    contact_points: str = "localhost",
    local_dc: str = "datacenter1",
    username: str | None = None,
    password: str | None = None,
    use_ssl: str = "false",
    sysprops: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """The spark-cassandra-connector session conf the reference sets
    (CassandraDependenciesJob.java:69-84,156-158): contact host list and the
    consistent port (P9), local DC, SSL truststore from javax.net.ssl.*,
    optional auth."""
    sysprops = sysprops or {}
    conf = {
        "spark.cassandra.connection.host": parse_cassandra_hosts(contact_points),
        "spark.cassandra.connection.port": parse_cassandra_port(contact_points),
        "spark.cassandra.connection.localDC": local_dc,
        "spark.cassandra.connection.ssl.enabled": use_ssl,
        "spark.cassandra.connection.ssl.trustStore.password":
            sysprops.get("javax.net.ssl.trustStorePassword", ""),
        "spark.cassandra.connection.ssl.trustStore.path":
            sysprops.get("javax.net.ssl.trustStore", ""),
    }
    if username:
        conf["spark.cassandra.auth.username"] = username
        conf["spark.cassandra.auth.password"] = password or ""
    return conf


def cassandra_conf_from_env(
    env: Mapping[str, str], sysprops: Mapping[str, str] | None = None
) -> dict[str, str]:
    """CASSANDRA_* env surface → connector conf (Builder getEnv defaults,
    CassandraDependenciesJob.java:54-84)."""
    return cassandra_connector_conf(
        contact_points=env.get("CASSANDRA_CONTACT_POINTS", "localhost"),
        local_dc=env.get("CASSANDRA_LOCAL_DC", "datacenter1"),
        username=env.get("CASSANDRA_USERNAME") or None,
        password=env.get("CASSANDRA_PASSWORD", ""),
        use_ssl=env.get("CASSANDRA_USE_SSL", "false"),
        sysprops=sysprops,
    )


@dataclass(frozen=True)
class CassandraSettings:
    """One Cassandra store, read from the environment once per run."""

    keyspace: str              # CASSANDRA_KEYSPACE
    conf: Mapping[str, str]    # cassandra_conf_from_env


def cassandra_settings_from_env(env: Mapping[str, str]) -> CassandraSettings:
    """CASSANDRA_KEYSPACE and the connector conf (CassandraDependenciesJob.java:54-84)."""
    return CassandraSettings(
        keyspace=env.get("CASSANDRA_KEYSPACE", "zipkin2"),
        conf=cassandra_conf_from_env(env),
    )


def cassandra_scan_is_trace_clustered(strict_trace_id: bool) -> bool:
    """Whether the Cassandra scan's partitioning co-locates complete traces
    — the reference's ``spanBy`` token-range exploitation
    (CassandraDependenciesJob.java:220): the zipkin2 ``span`` table's
    Cassandra partition key is ``trace_id``, and the connector maps each
    token range to one Spark partition WITHOUT splitting inside a partition
    key, so every row of a trace lands in one task.

    That guarantee transfers to the linker's group key only in STRICT mode
    (group key == the stored 128-bit trace_id). Lenient mode groups by the
    LOW 64 BITS, and two storage trace_ids sharing a low-64 suffix hash to
    different token ranges — the declared clustering would silently
    under-link them, so lenient scans must keep the repartition."""
    return strict_trace_id


def read_spans_cassandra(spark: SparkSession, settings: CassandraSettings) -> DataFrame:
    """Full scan of ``{keyspace}.span`` (S1 — deliberately NO server-side day
    predicate; time filtering is per-trace downstream, F2;
    CassandraDependenciesJob.java:177). Token-range partitioning and column
    pruning are the connector's job: unlike the reference's client-side
    full-row fetch (SURVEY §4 "known inefficiency we must NOT replicate"),
    the DataFrame projection prunes at the CQL level. The connector conf
    rides as reader options, and the scan splits at
    ``CASSANDRA_SPLIT_SIZE_MB``."""
    raw = (
        spark.read.format(CASSANDRA_FORMAT)
        .option("table", "span")
        .option("keyspace", settings.keyspace)
        .option("spark.cassandra.input.split.sizeInMB", CASSANDRA_SPLIT_SIZE_MB)
        .options(**settings.conf)
        .load()
    )
    # project the 9 consumed fields into canonical v2 shape (P1;
    # CassandraRowToSpan.java:25-63). UDT l_ep/r_ep arrive as structs.
    return raw.select(
        F.col("trace_id"),
        F.col("parent_id"),
        F.col("id"),
        F.col("kind"),
        F.col("ts").alias("timestamp"),
        F.col("l_ep").getField("service").alias("_local_service"),
        F.col("r_ep").getField("service").alias("_remote_service"),
        F.col("tags"),
        F.col("shared"),
    ).select(
        "trace_id", "parent_id", "id", "kind", "timestamp",
        F.struct(
            F.col("_local_service").alias("service_name"),
        ).alias("local_endpoint"),
        F.struct(
            F.col("_remote_service").alias("service_name"),
        ).alias("remote_endpoint"),
        "tags", "shared",
    )


def write_links_cassandra(
    links: DataFrame, day: dt.date, settings: CassandraSettings
) -> None:
    """Append into ``{keyspace}.dependency(day, parent, child, calls,
    errors)`` — idempotent by primary key (day, parent, child), so re-runs
    overwrite in place (W1; CassandraDependenciesJob.java:192-211). Errors
    are written as null when 0, matching the reference's conditional bind
    (:206). Distributed write — the reference's driver-side collect+INSERT
    loop is the scale bug we don't replicate (SURVEY §4)."""
    (
        links.select(
            F.lit(day).alias("day"),
            "parent",
            "child",
            F.col("call_count").alias("calls"),
            F.when(F.col("error_count") > 0, F.col("error_count")).alias("errors"),
        )
        .write.format(CASSANDRA_FORMAT)
        .option("table", "dependency")
        .option("keyspace", settings.keyspace)
        .options(**settings.conf)
        .mode("append")
        .save()
    )


# --- MySQL --------------------------------------------------------------------

@dataclass(frozen=True)
class MysqlConfig:
    """One MySQL store, read from the environment once per run
    (``mysql_config_from_env``)."""

    url: str
    user: str
    password: str
    max_connections: int


def mysql_jdbc_url(
    host: str = "localhost", port: int = 3306, db: str = "zipkin",
    use_ssl: bool = False,
) -> str:
    """The exact JDBC URL string the reference builds
    (MySQLDependenciesJob.java:150-155), including the MariaDB-driver scheme
    shim and autoReconnect."""
    return (
        f"jdbc:mysql://{host}:{port}/{db}"
        f"?permitMysqlScheme&autoReconnect=true&useSSL={str(use_ssl).lower()}"
    )


def mysql_config_from_env(env: Mapping[str, str]) -> MysqlConfig:
    """MYSQL_* env surface (MySQLDependenciesJob.java:42-48)."""
    return MysqlConfig(
        url=mysql_jdbc_url(
            host=env.get("MYSQL_HOST", "localhost"),
            port=int(env.get("MYSQL_TCP_PORT", "3306")),
            db=env.get("MYSQL_DB", "zipkin"),
            use_ssl=env.get("MYSQL_USE_SSL", "false").lower() == "true",
        ),
        user=env.get("MYSQL_USER", ""),
        password=env.get("MYSQL_PASS", ""),
        max_connections=int(env.get("MYSQL_MAX_CONNECTIONS", "10")),
    )


def read_spans_mysql(
    spark: SparkSession, cfg: MysqlConfig, start_us: int, end_us: int
) -> DataFrame:
    """v2 spans from a live zipkin v1 MySQL store: the pushed subquery
    (S2/S3, ``jdbc.py::v1_pushdown_subquery``) read as one query over one
    connection, as the reference reads it; the database returns only the
    day's joined link rows, which ``v2_spans_from_link_rows`` pivots."""
    rows = (
        spark.read.format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", v1_pushdown_subquery(start_us, end_us))
        .option("user", cfg.user)
        .option("password", cfg.password)
        .load()
    )
    return v2_spans_from_link_rows(rows)


#: the exact day-scope statement issued before every MySQL links write —
#: module-level so the contract test pins the SQL itself
MYSQL_DAY_DELETE_SQL = "DELETE FROM zipkin_dependencies WHERE day = ?"


def _jdbc_execute_day_delete(
    spark: SparkSession, url: str, user: str, password: str, day: dt.date
) -> int:
    """Run the day-scoped DELETE through the JVM's own JDBC DriverManager
    (one driver-side statement — no Spark job), returning the deleted row
    count. Uses a prepared statement so the date never round-trips through
    string formatting."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
    try:
        ps = conn.prepareStatement(MYSQL_DAY_DELETE_SQL)
        try:
            ps.setDate(1, jvm.java.sql.Date.valueOf(day.isoformat()))
            return ps.executeUpdate()
        finally:
            ps.close()
    finally:
        conn.close()


def write_links_mysql(links: DataFrame, day: dt.date, cfg: MysqlConfig) -> None:
    """``zipkin_dependencies(day, parent, child, call_count, error_count)``
    upsert (W2; MySQLDependenciesJob.java:243-252). The reference's
    ``REPLACE INTO`` is row-wise delete+insert; Spark's JDBC writer has no
    REPLACE mode, so day-level parity is SELF-CONTAINED here as
    delete-then-append: one driver-side ``DELETE ... WHERE day = ?``
    (MYSQL_DAY_DELETE_SQL) through the JVM's DriverManager, then the
    distributed append — re-running the job for a day is idempotent without
    any caller ritual. Distributed write, one connection per partition,
    capped by coalesce to the connection budget."""
    _jdbc_execute_day_delete(
        links.sparkSession, cfg.url, cfg.user, cfg.password, day
    )
    (
        links.coalesce(cfg.max_connections)
        .select(
            F.lit(day).alias("day"),
            "parent",
            "child",
            "call_count",
            "error_count",
        )
        .write.format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", "zipkin_dependencies")
        .option("user", cfg.user)
        .option("password", cfg.password)
        .mode("append")
        .save()
    )
