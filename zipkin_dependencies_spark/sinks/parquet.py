"""Link sink (SURVEY §2.8 W1-W3 normative semantics).

Writing day D is an atomic overwrite of partition D keyed by (parent, child):
re-running a day yields identical storage state, matching all three reference
sinks (Cassandra PK insert, MySQL REPLACE, ES mapped doc id). Spark-native:
day-partitioned parquet + dynamic partition overwrite (the session sets
``spark.sql.sources.partitionOverwriteMode=dynamic``), distributed write —
never the reference's collect-to-driver row loop
(CassandraDependenciesJob.java:199, MySQLDependenciesJob.java:220), which
would bottleneck a 1000-executor cluster on one connection.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def write_links(links: DataFrame, path: str, day: dt.date) -> None:
    """Stamp the day (P8/W1 write-time column) and overwrite that partition.

    Dynamic overwrite of zero rows writes nothing and so would leave the old
    partition in place, which is NOT what a re-run over now-empty data
    should do. The write counts its rows as it goes (an observed metric, no
    extra job); when there were none, the day's partition is overwritten
    with an empty one, so the table keeps its schema.
    """
    columns = [
        F.col("parent"),
        F.col("child"),
        F.col("call_count").cast("long"),
        F.col("error_count").cast("long"),
    ]
    written = Observation()
    (
        links.select(F.lit(day).cast("date").alias("day"), *columns)
        .observe(written, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    if written.get["rows"] == 0:
        empty = links.limit(0).select(*columns)
        empty.write.mode("overwrite").parquet(f"{path}/day={day.isoformat()}")
