"""Primary span source: parquet with the explicit v2 schema (SURVEY §2.1 S1/S4).

Schema is declared, never inferred — at 100 TB a schema-inference pass is a
full extra scan, and drift across files must fail loudly, not merge silently.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import SPAN_SCHEMA


def read_spans_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a span table. Day-partitioned layouts (dir per ``day=``) get
    partition pruning for free when the F3 filter applies; flat layouts rely
    on F1's pushed timestamp predicate instead.

    A missing path reads as empty, as the reference sets
    ``ES_INDEX_READ_MISSING_AS_EMPTY``
    (elasticsearch/.../ElasticsearchDependenciesJob.java:66): a day with no
    data yet — the cron-today case — is an empty result, not a crash. The
    explicit schema makes the empty frame indistinguishable downstream.

    Glob paths (``spans/day=2024*``) are existence-checked by EXPANSION, not
    by literal lookup: a literal ``os.path.exists`` on a glob is always false,
    which would silently turn a valid multi-day read into an empty frame —
    data-loss semantics on the primary source."""
    if not _exists(spark, path):
        return spark.createDataFrame([], schema=SPAN_SCHEMA)
    return spark.read.schema(SPAN_SCHEMA).parquet(path)


#: metacharacters Hadoop's GlobFilter / Spark path resolution treat as globs
_GLOB_CHARS = frozenset("*?[]{}")


def _exists(spark: SparkSession, path: str) -> bool:
    # local/posix fast path; fall back to the Hadoop FS API for remote URIs
    if "://" not in path or path.startswith("file://"):
        local = path.removeprefix("file://")
        if _GLOB_CHARS.intersection(local):
            import glob as _glob

            return bool(_glob.glob(local))
        return os.path.exists(local)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if _GLOB_CHARS.intersection(path):
        matches = fs.globStatus(p)  # None or empty array when nothing matches
        return matches is not None and len(matches) > 0
    return fs.exists(p)
