"""CLI entry: ``python -m zipkin_dependencies_spark [yyyy-MM-dd]``.

The Spark-native replacement for the reference's
``STORAGE_TYPE=<backend> java -jar zipkin-dependencies.jar [date]``
(main/src/main/java/zipkin2/dependencies/ZipkinDependenciesJob.java:21-87).
Environment surface (see config.engine_env, the one place that reads it):
STORAGE_TYPE picks the parity profile (and so the day filter),
SPANS_PATH/LINKS_PATH the storage locations, SPAN_FORMAT the source adapter
(parquet|json|v1|es|cassandra|mysql),
LINKS_SINK=backend writes the links back through a live format's connector,
STRICT_TRACE_ID overrides the profile's grouping,
SPARK_MASTER/SPARK_CONF/ZIPKIN_LOG_LEVEL the session. A live format's store
settings (sources/backends.py) are built once and serve both its read and
its write-back.
"""

from __future__ import annotations

import logging
import sys

from .config import engine_env, micros_day_repr
from .operators.day_filter import DayFilter
from .plans.job import DependencyLinksJob, JobConfig


USAGE = """usage: python -m zipkin_dependencies_spark [yyyy-MM-dd]

Aggregates service dependency links for one UTC day (default: today).
Configuration comes from env variables, mirroring the reference jar:

  SPANS_PATH        span table location (required for file formats)
  LINKS_PATH        link sink location (optional: print instead of write)
  SPAN_FORMAT       parquet | json | v1 | es | cassandra | mysql (default parquet)
  STORAGE_TYPE      cassandra3 | mysql | elasticsearch | opensearch parity profile
  STRICT_TRACE_ID   false => group by low 64 bits (profile default)
  LINKS_SINK        backend => write links back through the live connector
  SPARK_MASTER, SPARK_CONF, ZIPKIN_LOG_LEVEL     session controls

Live formats (es | cassandra | mysql) read through the reference's connector
surface and need the matching connector jar on the classpath; the file
formats are self-contained:

  es         ES_HOSTS, ES_USERNAME, ES_PASSWORD, ES_NODES_WAN_ONLY, ES_INDEX,
             ES_DATE_SEPARATOR; the flavor is probed from ES_HOSTS unless
             STORAGE_TYPE=opensearch
  cassandra  CASSANDRA_KEYSPACE, CASSANDRA_CONTACT_POINTS, CASSANDRA_LOCAL_DC,
             CASSANDRA_USERNAME, CASSANDRA_PASSWORD, CASSANDRA_USE_SSL
  mysql      MYSQL_HOST, MYSQL_TCP_PORT, MYSQL_DB, MYSQL_USER, MYSQL_PASS,
             MYSQL_USE_SSL, MYSQL_MAX_CONNECTIONS
"""


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("-h", "--help"):
        print(USAGE)
        return 0
    env = engine_env(day_arg=argv[0] if argv else None)

    logging.basicConfig(level=getattr(logging, env.log_level.upper(), logging.INFO))
    log = logging.getLogger("zipkin_dependencies_spark")

    from pyspark.sql import SparkSession

    from .functions.time import day_window_micros
    from .session import get_spark
    from .sources import backends, read_spans_json, read_spans_parquet
    from .sources.v1 import v1_to_v2_spans

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(master=env.master, extra_conf=env.spark_conf)
    spark.sparkContext.setLogLevel("WARN" if env.log_level == "INFO" else env.log_level)

    day = micros_day_repr(env.day_ms)
    log.info("Running dependency links for %s (filter=%s strict=%s)",
             day, env.day_filter.value, env.strict_trace_id)

    clustered_scan = False
    start_us, end_us = day_window_micros(day)
    # the v1 sources (parquet tables, live mysql) apply the F1 window in
    # their scan, as the reference's pushed WHERE s.start_ts BETWEEN does;
    # their spans carry no timestamp, so the job must not filter again
    window_at_source = env.day_filter is DayFilter.SPAN_WINDOW and (
        env.source_format in ("v1", "mysql")
    )
    if env.source_format == "v1":
        window = (start_us, end_us) if window_at_source else (None, None)
        spans_df = v1_to_v2_spans(
            spark.read.parquet(f"{env.spans_path}/zipkin_spans"),
            spark.read.parquet(f"{env.spans_path}/zipkin_annotations"),
            *window,
        )
    elif env.source_format == "json":
        spans_df, _ = read_spans_json(spark, env.spans_path)
    elif env.source_format == "es":
        spans_df, _ = backends.read_spans_es(spark, day, env.store)
    elif env.source_format == "cassandra":
        spans_df = backends.read_spans_cassandra(spark, env.store)
        # strict-mode token-range scans co-locate complete traces: the
        # linker can skip its span-scale shuffle (the spanBy parity path)
        clustered_scan = backends.cassandra_scan_is_trace_clustered(env.strict_trace_id)
    elif env.source_format == "mysql":
        spans_df = backends.read_spans_mysql(spark, env.store, start_us, end_us)
    else:  # parquet (engine_env rejects any other SPAN_FORMAT)
        spans_df = read_spans_parquet(spark, env.spans_path)

    job = DependencyLinksJob(
        spark,
        JobConfig(
            day=day,
            spans_path=env.spans_path,
            links_path=env.links_path,
            day_filter=None if window_at_source else env.day_filter,
            strict_trace_id=env.strict_trace_id,
            clustered=clustered_scan,
        ),
    )
    links = job.run(spans_df)
    if env.write_back:  # engine_env checked that the format is live
        write = {
            "es": backends.write_links_es,
            "cassandra": backends.write_links_cassandra,
            "mysql": backends.write_links_mysql,
        }[env.source_format]
        write(links, day, env.store)
        log.info("Wrote day=%s back to %s", day, env.source_format)
    elif env.links_path is None:
        links.show(100, truncate=False)  # no sink configured: print like a REPL
    else:
        log.info("Wrote day=%s to %s", day, env.links_path)
    if not preexisting:  # embedded callers (tests, notebooks) own their session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
