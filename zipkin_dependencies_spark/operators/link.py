"""The per-trace linking operator — the one non-relational kernel (SURVEY §2.6).

Spark mapping: ``repartition(trace_key)`` + ``sortWithinPartitions`` +
``kernel_input`` + one ``mapInPandas`` pass over the Arrow channel.
``kernel_input`` is the kernel's input contract: one JVM projection applies
its null rules, as the reference's row mappers normalize a span before
linking (cassandra3/.../CassandraRowToSpan.java:38-59), so the Python side
only links. ``_sorted_groups`` cuts each task's sorted span stream into
complete traces as column lists, and ``linker.link_columns`` links each one
on integer slots (no ``Span`` objects) — the reference's per-task linker
over a trace-sorted row stream
(mysql/.../DependencyLinkSpanIterator.java:25-56). The path walker
(operators/paths.py) runs its per-trace chain walk on the same helper.
Output is the per-partition link table, which the global A2 aggregation
then sums. Map-side cost is bounded: the kernel's output cardinality is
O(|services|²) per partition, orders of magnitude smaller than its input.

Scale notes (100 TB):
- the repartition(trace_key) shuffle is THE big shuffle of the pipeline;
  the D1 dedupe shares it and its sort (operators/dedup.py). Bucketed span
  storage on trace_key removes it entirely (``clustered``, G1 parity — see
  plans/job.py notes).
- per-trace skew ("Heavy" scenario): one giant trace lands on one task,
  together with whatever light traces hash beside it. The kernel is O(n) in
  spans-per-trace with small constants (dict/list), and holds only the open
  trace's narrow columns across batches — a 10⁷-span trace is ~1 GB of
  Python objects, survivable; ``links_from_spans_two_phase`` is the route
  beyond that, the one that splits a giant across tasks.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..linker import DependencyLinker, link_columns, roots_in_day_window
from ..schemas import KERNEL_SORT_ORDER, LINK_INPUT_SCHEMA, TRACE_LINKS_SCHEMA
from .aggregate import aggregate_links

#: fraction of spans the seeded heavy-trace pre-pass samples (see
#: ``_heavy_trace_keys``)
HEAVY_SAMPLE_FRACTION = 0.05

#: the columns the kernel reads, in LINK_INPUT_SCHEMA order after
#: ``trace_key``: ``link_columns``' arguments, then the F2 window's timestamp
_SPAN_COLS = LINK_INPUT_SCHEMA.fieldNames()[1:]


def kernel_input(spans: DataFrame) -> DataFrame:
    """The linker kernel's input contract: its null rules, applied once on
    the JVM. A null ``shared`` or ``is_error`` is false, and a null
    ``timestamp`` is 0, which the F2 window already treats as missing
    (``roots_in_day_window``); Arrow would hand the kernel that null as a
    float NaN. Strings need no rule: Arrow delivers them as ``str`` or
    None. Columns are replaced in place, so a caller's extra columns (the
    multi-day ``day``, a stream's watermark column) pass through."""
    return spans.withColumns(
        {
            "shared": F.coalesce("shared", F.lit(False)),
            "is_error": F.coalesce("is_error", F.lit(False)),
            "timestamp": F.coalesce("timestamp", F.lit(0)),
        }
    )


def _sorted_groups(
    batches: Iterable[pd.DataFrame],
    key_cols: Sequence[str],
    value_cols: Sequence[str],
) -> Iterator[tuple[tuple, list]]:
    """Cut a partition's key-sorted Arrow batch stream into complete groups.

    Yields ``(key, columns)`` once per group, in stream order: ``key`` is
    the tuple of the group's ``key_cols`` values, ``columns`` one list per
    ``value_cols`` entry. Each batch's value columns become Python lists
    once, as Arrow delivers them: a caller that needs null rules applies
    them on the JVM first (``kernel_input``, ``trace_paths``' ``svc``
    coalesce). A group is yielded when the next key (or the end of the
    stream) closes it, so a group that straddles Arrow batches arrives
    whole: its per-batch slices are kept and concatenated once. Memory
    stays O(batch + open group), never O(partition)."""
    open_key: tuple | None = None
    chunks: list[list] = []
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        keys = [pdf[c].to_numpy() for c in key_cols]
        cols = [pdf[c].to_numpy().tolist() for c in value_cols]
        # boundary where ANY key column changes between adjacent rows
        changed = keys[0][1:] != keys[0][:-1]
        for k in keys[1:]:
            changed = changed | (k[1:] != k[:-1])
        starts = [0, *(np.flatnonzero(changed) + 1).tolist(), n]
        for s, e in zip(starts, starts[1:]):
            key = tuple(k[s] for k in keys)
            if chunks and key != open_key:
                yield open_key, _joined(chunks)
                chunks = []
            open_key = key
            chunks.append([c[s:e] for c in cols])
    if chunks:
        yield open_key, _joined(chunks)


def _joined(chunks: list[list]) -> list:
    if len(chunks) == 1:
        return chunks[0]
    return [list(chain.from_iterable(parts)) for parts in zip(*chunks)]


def _heavy_trace_keys(df: DataFrame, over: int) -> DataFrame:
    """→ the ``trace_key`` of every trace with more than ``over`` spans.

    Discovery is SAMPLED (``HEAVY_SAMPLE_FRACTION``, seeded): a group with
    n rows surfaces ~n·f sampled rows, so thresholding sampled counts at
    over·f/2 finds every genuinely heavy key with overwhelming probability
    while scanning only f of the table — at 100 TB an exact
    ``groupBy().count()`` pre-pass would itself be a span-scale
    aggregation. Mis-detection only moves work: a missed heavy trace still
    links correctly through the kernel (one task, slower), a false positive
    links a light trace relationally. The result is tiny (skew means FEW
    keys)."""
    cutoff = max(1.0, over * HEAVY_SAMPLE_FRACTION / 2.0)
    return (
        df.sample(fraction=HEAVY_SAMPLE_FRACTION, seed=11)
        .groupBy("trace_key")
        .count()
        .filter(F.col("count") > cutoff)
        .select("trace_key")
    )


def trace_links_partitioned(
    normalized_spans: DataFrame,
    window: tuple[int, int] | None = None,
    day_col: str | None = None,
    clustered: bool = False,
) -> DataFrame:
    """LINK_INPUT_SCHEMA rows → per-partition links (pre-aggregation).

    repartition by trace_key + sortWithinPartitions + ``kernel_input``'s
    null rules, then one mapInPandas pass that links each complete trace
    ``_sorted_groups`` cuts from the partition's sorted stream (the
    reference's MySQL sorted-iterator shape,
    mysql/.../DependencyLinkSpanIterator.java:25-56, done with a secondary
    sort instead of a peeking iterator).

    Why this shape:
    - ONE shuffle, and the Python boundary is crossed once per *partition*,
      not once per *trace*: Arrow batches stream through, and only the
      trace open at a batch boundary is carried over. Input that
      ``dedupe_spans`` already hash-partitioned on trace_key at the same
      width and sorted in ``KERNEL_SORT_ORDER`` (the daily job's) keeps
      that exchange and that sort: Spark drops this repartition and this
      sort as redundant, so the job shuffles and sorts its spans once.
    - links are partially aggregated map-side into one ``DependencyLinker``
      per task before emission, so the final A2 exchange moves one row per
      distinct (parent, child) per partition — the reference's reduceByKey
      combiner, done one stage earlier than Catalyst's partial aggregate.
    - skew: a giant trace still lands on one task, but costs only its own
      O(n) linking, with no per-trace setup tax. A hash exchange cannot
      give it a task of its own (any routing key is hashed like the rest),
      so the route that spreads a giant is ``links_from_spans_two_phase``.

    Width: the exchange is a column-only ``repartition``, so AQE sizes it.
    It starts at ``spark.sql.shuffle.partitions`` hash partitions
    (``session.get_spark`` raises the start to one per core) and AQE's
    default ``parallelismFirst`` coalescing merges neighbours into
    partitions of max(min(64 MB, shuffle bytes / defaultParallelism),
    1 MB): a small day runs about one Python task per core, a large day
    64 MB tasks. Coalescing only merges whole hash partitions, so a trace
    never splits and the result stays placement-independent.

    ``window=(start_us, end_us)`` enables the F2 per-trace root-timestamp
    filter *inside* the kernel — zero extra shuffle, exactly where the
    reference applies it (cassandra3/.../SpansToDependencyLinks.java:36-42).

    With ``day_col`` set, the group key becomes (day, trace_key) and the
    output carries ``day`` — one job links every affected day (the streaming
    incremental mode and multi-day backfills use this instead of a per-day
    driver loop).

    ``clustered=True`` declares the input already hash-clustered on the
    group key (a bucketed span table, sources/bucketed.py): the repartition
    is skipped and the pipeline's one span-scale shuffle disappears — the
    G1 ``spanBy`` parity path. The caller owns the guarantee; a mis-declared
    input would split traces across tasks and under-link them.
    """
    group_cols = ([day_col] if day_col else []) + ["trace_key"]
    # Secondary sort keys make the per-trace span ORDER deterministic. The
    # kernel's root election ("first parentless span", linker.py build_tree)
    # and its merge of reports that share (id, shared) (first non-null field
    # wins) both depend on arrival order. Sorting on the full identity tuple
    # pins both, so shuffle arrival order never decides a link. It is the
    # D1 dedupe's window order too, so after ``dedupe_spans`` Spark plans
    # no sort here: the dedupe's sort already delivers it.
    order_cols = ([day_col] if day_col else []) + KERNEL_SORT_ORDER
    out_cols = ([day_col] if day_col else []) + [
        "parent", "child", "call_count", "error_count",
    ]
    schema = (
        TRACE_LINKS_SCHEMA
        if not day_col
        else T.StructType(
            [T.StructField(day_col, T.DateType()), *TRACE_LINKS_SCHEMA.fields]
        )
    )

    def link_partition(batches: Iterable[pd.DataFrame]):
        # one accumulator per (task, day) = the reference's per-task linker
        # (CassandraRowsToDependencyLinks) doubling as the map-side combiner
        linkers: dict = {}
        for key, cols in _sorted_groups(batches, group_cols, _SPAN_COLS):
            if window is not None and not roots_in_day_window(
                cols[0], cols[7], *window
            ):
                continue
            day = key[0] if day_col else None
            linkers.setdefault(day, DependencyLinker()).put_links(
                link_columns(*cols[:7])
            )
        rows = [
            (
                (day, link["parent"], link["child"], link["call_count"], link["error_count"])
                if day_col
                else (link["parent"], link["child"], link["call_count"], link["error_count"])
            )
            for day, linker in linkers.items()
            for link in linker.link()
        ]
        yield pd.DataFrame(rows, columns=out_cols)

    if not clustered:
        normalized_spans = normalized_spans.repartition(*group_cols)
    # bucketed input (clustered) holds complete traces per partition by
    # construction: only the in-partition sort remains. The null rules go
    # after the sort, so the kernel sees rows in exactly the sorted order
    sorted_spans = normalized_spans.sortWithinPartitions(*order_cols)
    return kernel_input(sorted_spans).mapInPandas(link_partition, schema=schema)


def links_from_spans(
    normalized_spans: DataFrame,
    window: tuple[int, int] | None = None,
    clustered: bool = False,
) -> DataFrame:
    """Full core: per-trace linking (``trace_links_partitioned``) + global
    A2 reduction. clustered=True: input is a bucketed span table; skip the
    grouping shuffle (G1 parity)."""
    return aggregate_links(
        trace_links_partitioned(normalized_spans, window, clustered=clustered)
    )


def links_from_spans_two_phase(
    normalized_spans: DataFrame,
    giant_over: int = 100_000,
) -> DataFrame:
    """Two-phase linking for GIANT traces (SURVEY §4's one custom scale
    piece; the reference's Heavy IT hazard,
    ITCassandraDependenciesHeavy.java:17-31) — the linker's one giant-trace
    route.

    The kernel path links a trace in ONE task — a 10⁸-span trace is hours
    on one core. This operator splits the giant trace ACROSS tasks:

    - phase 1 (subtree phase): giant traces route to the pure-Catalyst
      relational linker (operators/link_relational.py) whose operations key
      on per-SPAN attributes — candidate explode + parent-resolution join,
      per-span kind matrix — so one trace's spans spread over the whole
      cluster; resolving each span's tree parent IS linking its one-hop
      subtree, and AQE's skew-join splitting absorbs hot parent keys
      (it applies here precisely because nothing is a stateful Python
      group). Giants the relational path can't own (dup span keys, deep or
      cyclic chains — eligibility E1-E4) fall back to the kernel.
    - phase 2 (merge phase): the per-span link emissions from both routes
      merge in the global (parent, child) aggregate — boundary spans need
      no special casing because every span's emission depends only on its
      resolved parent chain, which phase 1 materialized.

    Results are byte-equal to the kernel path on every input (the hybrid ==
    kernel contract is pinned by randomized cross-checks in
    tests/test_link_relational.py; the giant split by tests/test_skew.py).

    Giant discovery is ``_heavy_trace_keys`` (seeded sample; a missed giant
    still links correctly via the kernel, just slower — placement-only)."""
    from .link_relational import links_from_spans_hybrid

    df = normalized_spans
    giants = _heavy_trace_keys(df, giant_over)

    # key-cardinality driver check (like the reference's isEmpty() actions,
    # F5): on the overwhelmingly common day with NO giant trace, skip the
    # relational branch entirely — its eligibility machinery costs several
    # materialization rounds that would all run on empty input
    if giants.isEmpty():
        return links_from_spans(df)

    tagged = df.join(
        F.broadcast(giants.withColumn("_giant", F.lit(True))),
        "trace_key",
        "left_outer",
    )
    giant_links = links_from_spans_hybrid(tagged.filter(F.col("_giant")).drop("_giant"))
    normal_links = links_from_spans(tagged.filter(F.col("_giant").isNull()).drop("_giant"))
    return aggregate_links(giant_links.unionByName(normal_links))
