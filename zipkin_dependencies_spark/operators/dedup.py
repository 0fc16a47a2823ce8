"""Span dedup (SURVEY §2.4 D1/D2).

The reference dedupes redundantly-stored spans per trace with a
LinkedHashSet over the 9 projected fields while it walks the trace
(cassandra3/.../CassandraRowsToDependencyLinks.java:31-36). Here that is a
window over the kernel's own sort: hash-partition on ``trace_key``, then
keep the first row of each group of identical rows (``row_number()`` over
all 9 fields, ``= 1``). The window sorts on ``schemas.KERNEL_SORT_ORDER``,
the order the linker sorts in, so Spark removes the linker's sort as
redundant: one sort both puts copies side by side and groups the traces,
and the stage plans no hash aggregate. The window holds one identity group
at a time, where a hash dedupe holds a task's whole distinct span set.

``trace_key`` is one of the window's partition columns, so the trace
exchange already meets its clustering requirement, and a later
``repartition("trace_key")`` of the same width (the linker's, or
``trace_paths``') is removed by Spark's EnsureRequirements. So the dedupe
shares the trace exchange: the daily job shuffles its spans once.

There is no map-side partial dedupe (it would only shrink the exchange
when storage replays are common). The linker kernel's tree merge makes
exact duplicates harmless anyway (tests/test_linker_properties.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import KERNEL_SORT_ORDER


def dedupe_spans(normalized_spans: DataFrame) -> DataFrame:
    # the rows of one group are identical, so any of them may come first
    copies = Window.partitionBy(*KERNEL_SORT_ORDER).orderBy(F.lit(0))
    return (
        normalized_spans.repartition("trace_key")
        .withColumn("__copy", F.row_number().over(copies))
        .filter(F.col("__copy") == 1)
        .drop("__copy")
    )
