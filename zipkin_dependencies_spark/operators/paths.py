"""Root→leaf service-path analytics — "what call chains dominate this
system" (extension operator; the reference computes only single-edge
links, never multi-hop paths).

The path of a leaf span is the service sequence along its raw
``parent_id`` chain, root-first, joined with ``->``. Two construction
engines (``strategy``, see ``DEFAULT_STRATEGY``):

- **kernel** (default since r11): ONE repartition by trace_key + sort +
  one Arrow ``mapInPandas`` pass that walks each trace's chains in plain
  Python — the flagship linker's shape, on its shared sorted-stream
  helper (operators/link.py::_sorted_groups). One shuffle of the narrow
  4-column span projection at any scale.
- **doubling**: distributed POINTER DOUBLING with segment concatenation
  (the same O(log depth) technique as the relational linker's E4 proof):
  every span starts with ``(ptr = parent_id, seg = [service])``; each
  round a span splices its pointer's accumulated segment in front of its
  own and adopts the pointer's pointer — after r rounds a segment covers
  2^r ancestors, so depth ``max_depth`` costs ceil(log2(max_depth+1))
  narrow self-joins (each re-shuffling the span frame twice), never a
  per-level loop. Kept as the semantic twin and the fully-distributed
  route for a pathological single trace too large for one task.

Semantics (deliberately raw-tree, identical to the DuckDB recursive-CTE
twin by definition):
- a span with null ``parent_id`` is a root; a DANGLING parent_id (no such
  span in the trace) terminates the chain there — the span acts as its
  own subtree root (storage loss shouldn't void the whole trace's paths);
- leaves are spans that are nobody's parent within their trace;
- CYCLIC chains never resolve and their leaves are dropped (counted
  nowhere — the linker kernel, not paths, is the recovery route there);
- null service names render as ``(unknown)`` (Spark's concat_ws would
  silently skip nulls while SQL would null the whole path — the coalesce
  pins one behavior on both engines);
- callers must provide unique (trace_key, id) rows — run D1
  ``dedupe_spans`` first (duplicate keys would multiply every splice
  join, the same d^rounds hazard the linker's E4 dedupes away).

Scale: each round shuffles (trace, id) → a few strings; the final count
is |distinct paths| cardinality with a TakeOrdered top-k — no global
sort, no driver collect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..memo import register_memo
from .link import _kernel_partitions, _sorted_groups

MAX_DEPTH = 127

#: per-round materialization policy (measured at derived sf1, see
#: BASELINE.md r05 ledger). Each doubling round must be materialized:
#: the early-exit probe and the next round's self-join would otherwise
#: recompute an exponentially deepening plan. HOW it is materialized is
#: the knob:
#:   "eager"   — localCheckpoint(eager=True): truncates lineage into a
#:               LogicalRDD; blocks freed only when the JVM GCs the RDD
#:               reference (no explicit release), which is what pushed GC
#:               at sf1 (r04 watch item).
#:   "persist" — persist(MEMORY_AND_DISK) + count(), with the PREVIOUS
#:               round explicitly unpersisted as soon as the new round is
#:               materialized (each round depends only on its
#:               predecessor, so the release is safe; recomputation after
#:               eviction falls back to lineage).
DEFAULT_MATERIALIZE = "persist"

#: same-session reuse of the finished path table (top_trace_paths and
#: trace_depth_histogram both layer one aggregate on it — the
#: multi-consumer-subtree rule); opt-in via memo_key, exact by determinism
_PATH_MEMO: dict[tuple, DataFrame] = register_memo({})

#: path-construction engine (r11, guide §4.2 / §2.4). "kernel": ONE
#: exchange (repartition by trace_key) + sort + one mapInPandas pass whose
#: per-trace chain walk runs in plain Python — the flagship linker's
#: shape, through the same sorted-stream helper
#: (operators/link.py::_sorted_groups), measured
#: 2× faster at sf0.1 AND strictly fewer shuffles at any scale (the
#: doubling re-shuffles the full span frame twice per round,
#: log2(depth) rounds). "doubling": the distributed pointer-doubling
#: loop — kept as the semantic twin (the kernel is pinned against it on
#: random forests) and as the route for pathological single traces too
#: large for one task (the linker's heavy-isolation caveat applies to
#: the kernel identically; zipkin traces are small by construction).
DEFAULT_STRATEGY = "kernel"


def _make_paths_walker(max_depth: int):
    """mapInPandas kernel: walk each trace's leaf→root chains in plain
    Python over a trace_key-sorted partition stream (``_sorted_groups``
    delivers each trace whole, even when it straddles Arrow batches).

    Exact doubling semantics (pinned by tests/test_pipeline_ops.py's
    random forests + the DuckDB recursive-CTE twins): a leaf is a span
    nobody's parent_id names; the walk keeps a chain iff it terminates
    (null parent = root, missing parent = dangling) within
    ``max_depth + 1`` visited nodes — after r doubling rounds a pointer
    has advanced 2^r hops, so ceil(log2(max_depth+1)) rounds resolve
    exactly the chains of ≤ max_depth+1 nodes; cycles never terminate
    and fall out of the same bound."""
    bound = max_depth + 1

    def walk_partition(batches):
        import pandas as pd

        out_rows: list[tuple] = []
        for (trace_key,), (ids, pars, svcs) in _sorted_groups(
            batches, ["trace_key"], ["id", "parent_id", "svc"]
        ):
            nodes = dict(zip(ids, zip(pars, svcs)))
            # a null parent arrives as None (a NaN would act the same: it
            # names no span, so the chain terminates there)
            parents = {p for p, _ in nodes.values() if p is not None}
            for leaf in nodes:
                if leaf in parents:
                    continue
                segs: list[str] = []
                cur = leaf
                for _ in range(bound):
                    par, svc = nodes[cur]
                    segs.append(svc)
                    if par is None or par not in nodes:
                        out_rows.append(
                            (
                                trace_key,
                                leaf,
                                "->".join(reversed(segs)),
                                len(segs),
                            )
                        )
                        break
                    cur = par
                # bound exhausted without termination: cycle or deeper
                # than max_depth+1 — dropped, exactly like a pointer
                # that never resolves
        yield pd.DataFrame(
            out_rows, columns=["trace_key", "leaf_id", "path", "depth"]
        )

    return walk_partition


def _trace_paths_kernel(
    normalized_spans: DataFrame, max_depth: int
) -> DataFrame:
    """Kernel-strategy path build: project the 4 consumed columns (the
    mapInPandas boundary is opaque to column pruning — guide §4.1), ONE
    repartition by trace_key at the linker's Python-kernel width
    (``_kernel_partitions``), in-partition sort for contiguous traces,
    one Arrow pass."""
    nodes = normalized_spans.select(
        "trace_key",
        "id",
        "parent_id",
        F.coalesce(F.col("local_service"), F.lit("(unknown)")).alias("svc"),
    )
    return (
        nodes.repartition(_kernel_partitions(normalized_spans.sparkSession), "trace_key")
        .sortWithinPartitions("trace_key")
        .mapInPandas(
            _make_paths_walker(max_depth),
            schema="trace_key string, leaf_id string, path string, depth long",
        )
    )


def trace_paths(
    normalized_spans: DataFrame,
    max_depth: int = MAX_DEPTH,
    memo_key: str | None = None,
    materialize: str | None = None,
    strategy: str | None = None,
) -> DataFrame:
    """→ (trace_key, leaf_id, path, depth): one row per acyclic leaf span,
    path = root-first ``->``-joined service chain. ``memo_key``: see
    ``_PATH_MEMO`` — pass a stable corpus key to share the finished table
    across same-session consumers. ``materialize``: per-round policy for
    the doubling engine, see ``DEFAULT_MATERIALIZE``. ``strategy``: see
    ``DEFAULT_STRATEGY``."""
    from pyspark import StorageLevel

    engine = DEFAULT_STRATEGY if strategy is None else strategy
    if engine not in ("kernel", "doubling"):
        raise ValueError(f"unknown strategy {engine!r}")
    if engine == "kernel":
        if memo_key is not None:
            key = (memo_key, max_depth)
            hit = _PATH_MEMO.get(key)
            if (
                hit is not None
                and hit.sparkSession is normalized_spans.sparkSession
            ):
                return hit
        out = _trace_paths_kernel(normalized_spans, max_depth)
        if memo_key is not None:
            out = out.localCheckpoint(eager=True)
            _PATH_MEMO[(memo_key, max_depth)] = out
        return out

    policy = DEFAULT_MATERIALIZE if materialize is None else materialize
    if policy not in ("eager", "persist"):
        raise ValueError(f"unknown materialize policy {policy!r}")
    to_release: list[DataFrame] = []

    def _materialize(df: DataFrame) -> DataFrame:
        if policy == "eager":
            return df.localCheckpoint(eager=True)
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        while to_release:
            to_release.pop().unpersist(False)
        to_release.append(out)
        return out

    if memo_key is not None:
        key = (memo_key, max_depth)
        hit = _PATH_MEMO.get(key)
        if hit is not None and hit.sparkSession is normalized_spans.sparkSession:
            return hit
    nodes = normalized_spans.select(
        "trace_key",
        "id",
        "parent_id",
        F.coalesce(F.col("local_service"), F.lit("(unknown)")).alias("svc"),
    )
    cur = _materialize(
        nodes.select(
            "trace_key",
            "id",
            F.col("parent_id").alias("ptr"),
            F.array("svc").alias("seg"),
        )
    )
    # keep the materialized round-0 frame: the leaf anti-join's parent
    # set below is a pure projection of it (ptr IS the original
    # parent_id), so deriving it here avoids re-running the corpus-scale
    # scan → normalize pipeline a second time (r10, guide §2.4 — the
    # same materialize-once lesson as prefix_filter_pairs). Under
    # "persist" it must survive the loop's release discipline (each
    # round normally frees its predecessor), so it leaves `to_release`
    # here and is unpersisted explicitly once the result frame is
    # materialized; under "eager" the checkpoint blocks are GC-freed as
    # always.
    cur0 = cur
    if policy == "persist":
        to_release.clear()
    try:
        return _walk_and_finish(
            cur, cur0, max_depth, policy, memo_key, _materialize, to_release
        )
    except BaseException:
        # persist pins do not GC like localCheckpoint blocks: an exception
        # escaping mid-loop (executor loss during a round's count, ctrl-C)
        # would otherwise leak cur0's and the last round's CacheManager
        # pins for the session (r10 ADVICE item)
        if policy == "persist":
            while to_release:
                to_release.pop().unpersist(False)
            cur0.unpersist(False)
        raise


def _walk_and_finish(
    cur: DataFrame,
    cur0: DataFrame,
    max_depth: int,
    policy: str,
    memo_key: str | None,
    _materialize,
    to_release: list[DataFrame],
) -> DataFrame:
    """Doubling rounds + leaf resolution — the body of trace_paths, split
    out so the caller can guarantee pin release on ANY exit path."""
    for _ in range(max(1, math.ceil(math.log2(max_depth + 1)))):
        # early exit: once no live pointer remains, every chain is fully
        # resolved (or provably broken/dangling) and further rounds are
        # no-ops — a depth-2 production forest pays ONE round, not
        # log2(max_depth). isEmpty on the checkpointed frame is a cheap
        # scan of materialized blocks.
        if cur.filter(F.col("ptr").isNotNull()).isEmpty():
            break
        t = cur.select(
            F.col("trace_key").alias("t_trace"),
            F.col("id").alias("t_id"),
            F.col("ptr").alias("t_ptr"),
            F.col("seg").alias("t_seg"),
        )
        cur = (
            cur.alias("c")
            .join(
                t,
                (F.col("c.trace_key") == F.col("t_trace"))
                & (F.col("c.ptr") == F.col("t_id")),
                "left_outer",
            )
            .select(
                F.col("c.trace_key").alias("trace_key"),
                F.col("c.id").alias("id"),
                # pointer resolved but ancestor row missing => dangling:
                # chain terminates here (t_ptr is null in that case too)
                F.when(F.col("t_id").isNotNull(), F.col("t_ptr")).alias("ptr"),
                F.when(
                    F.col("t_id").isNotNull(),
                    F.concat(F.col("t_seg"), F.col("c.seg")),
                )
                .otherwise(F.col("c.seg"))
                .alias("seg"),
            )
        )
        cur = _materialize(cur)
    parents = cur0.filter(F.col("ptr").isNotNull()).select(
        F.col("trace_key").alias("p_trace"), F.col("ptr").alias("p_id")
    ).distinct()
    leaves = cur.join(
        parents,
        (cur.trace_key == parents.p_trace) & (cur.id == parents.p_id),
        "left_anti",
    )
    # ptr still set after the walk = cycle (or deeper than max_depth): drop
    out = leaves.filter(F.col("ptr").isNull()).select(
        "trace_key",
        F.col("id").alias("leaf_id"),
        F.concat_ws("->", "seg").alias("path"),
        F.size("seg").cast("long").alias("depth"),
    )
    if memo_key is not None:
        # memoized table: materialize under the same policy (for "persist"
        # this also releases the final round's blocks — the memo row is
        # the only thing downstream consumers read)
        out = _materialize(out)
        _PATH_MEMO[(memo_key, max_depth)] = out
    elif policy == "persist":
        # non-memo path: materializing the RESULT releases the final
        # round's intermediate (CacheManager pins don't GC like
        # localCheckpoint blocks — leaving `cur` persisted would leak it
        # for the session). The returned frame is itself persisted; a
        # caller that is done with it may unpersist() it.
        out = _materialize(out)
    if policy == "persist":
        # round 0 was exempted from the per-round release so the parents
        # projection could read it; the result frame is materialized (or
        # the caller holds only lazy frames over it), so release it now —
        # recomputation after eviction falls back to lineage as before
        cur0.unpersist(False)
    return out


def top_trace_paths(
    normalized_spans: DataFrame,
    k: int = 50,
    max_depth: int = MAX_DEPTH,
    memo_key: str | None = None,
) -> DataFrame:
    """→ (path, n_occurrences, rank): the k most common root→leaf service
    paths (ties broken by path text — deterministic under any
    partitioning). orderBy+limit plans as TakeOrdered: per-partition heaps
    + driver merge of k rows, never a single-partition global sort."""
    from pyspark.sql import Window

    counts = (
        trace_paths(normalized_spans, max_depth=max_depth, memo_key=memo_key)
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("path").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
    return top.select(
        "path",
        "n_occurrences",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def top_trace_paths_sql(spans_cte: str, k: int = 50, max_depth: int = 127) -> str:
    """DuckDB twin: recursive CTE walking each leaf's parent chain upward,
    same dangling/cycle/unknown-service semantics by construction.
    ``spans_cte`` must define a ``spans`` relation with (trace_id, id,
    parent_id, local_service)."""
    return f"""
WITH RECURSIVE {spans_cte.strip()},
nodes AS (
  SELECT trace_id AS trace_key, id, parent_id,
         coalesce(local_service, '(unknown)') AS svc
  FROM spans
),
parents AS (
  SELECT DISTINCT trace_key, parent_id AS pid FROM nodes
  WHERE parent_id IS NOT NULL
),
leaves AS (
  SELECT n.* FROM nodes n
  LEFT JOIN parents p ON p.trace_key = n.trace_key AND p.pid = n.id
  WHERE p.pid IS NULL
),
walk AS (
  SELECT trace_key, id AS leaf_id, parent_id AS nxt, svc AS path, 1 AS depth
  FROM leaves
  UNION ALL
  SELECT w.trace_key, w.leaf_id, n.parent_id, n.svc || '->' || w.path,
         w.depth + 1
  FROM walk w
  JOIN nodes n ON n.trace_key = w.trace_key AND n.id = w.nxt
  WHERE w.depth <= {max_depth}
),
term AS (
  SELECT trace_key, leaf_id, nxt, path,
         row_number() OVER (PARTITION BY trace_key, leaf_id
                            ORDER BY depth DESC) AS rn
  FROM walk
),
resolved AS (
  SELECT t.path FROM term t
  WHERE t.rn = 1 AND (t.nxt IS NULL OR NOT EXISTS (
    SELECT 1 FROM nodes n
    WHERE n.trace_key = t.trace_key AND n.id = t.nxt
  ))
),
counted AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM resolved GROUP BY path
)
SELECT path, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, path ASC) AS BIGINT)
         AS rank
FROM counted
ORDER BY n_occurrences DESC, path ASC
LIMIT {k}
"""


def trace_depth_histogram(
    normalized_spans: DataFrame,
    max_depth: int = MAX_DEPTH,
    memo_key: str | None = None,
) -> DataFrame:
    """→ (depth, n_leaves): distribution of root→leaf chain lengths — the
    trace-shape health metric (a sudden deep tail usually means a retry
    storm or a linking bug upstream). One aggregate over the path build's
    (already computed) depth column; output cardinality ≤ max_depth."""
    return (
        trace_paths(normalized_spans, max_depth=max_depth, memo_key=memo_key)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_leaves"))
    )


def trace_depth_histogram_sql(spans_cte: str, max_depth: int = 127) -> str:
    """DuckDB twin: the recursive walk's terminal depth, aggregated."""
    return f"""
WITH RECURSIVE {spans_cte.strip()},
nodes AS (
  SELECT trace_id AS trace_key, id, parent_id,
         coalesce(local_service, '(unknown)') AS svc
  FROM spans
),
parents AS (
  SELECT DISTINCT trace_key, parent_id AS pid FROM nodes
  WHERE parent_id IS NOT NULL
),
leaves AS (
  SELECT n.* FROM nodes n
  LEFT JOIN parents p ON p.trace_key = n.trace_key AND p.pid = n.id
  WHERE p.pid IS NULL
),
walk AS (
  SELECT trace_key, id AS leaf_id, parent_id AS nxt, 1 AS depth
  FROM leaves
  UNION ALL
  SELECT w.trace_key, w.leaf_id, n.parent_id, w.depth + 1
  FROM walk w
  JOIN nodes n ON n.trace_key = w.trace_key AND n.id = w.nxt
  WHERE w.depth <= {max_depth}
),
term AS (
  SELECT trace_key, leaf_id, nxt, depth,
         row_number() OVER (PARTITION BY trace_key, leaf_id
                            ORDER BY depth DESC) AS rn
  FROM walk
),
resolved AS (
  SELECT CAST(t.depth AS BIGINT) AS depth FROM term t
  WHERE t.rn = 1 AND (t.nxt IS NULL OR NOT EXISTS (
    SELECT 1 FROM nodes n
    WHERE n.trace_key = t.trace_key AND n.id = t.nxt
  ))
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_leaves
FROM resolved GROUP BY depth
"""


def path_latencies(
    normalized_spans: DataFrame,
    k: int = 50,
    max_depth: int = MAX_DEPTH,
    memo_key: str | None = None,
) -> DataFrame:
    """→ (path, n_leaves, max_lag_us, sum_lag_us, rank): the k slowest
    root→leaf service paths, "slow" = a leaf's timestamp lag behind its
    trace's first span — which call chains sit at the END of their
    traces, and by how much. The latency complement of
    ``top_trace_paths`` (which only counts occurrences); together they
    answer "what chains dominate" and "what chains drag".

    Lags are epoch-µs integer differences — hash-exact on both engines,
    no float rounding anywhere. Join shape: the leaf table (leaf-span
    cardinality) joins the per-trace min-timestamp aggregate on
    trace_key — both sides already shuffle on trace_key in the path
    build, so AQE coalesces this into the existing exchange. Final
    orderBy+limit plans as TakeOrdered (per-partition heaps), never a
    global sort.
    """
    from pyspark.sql import Window

    leaves = trace_paths(
        normalized_spans, max_depth=max_depth, memo_key=memo_key
    )
    ts = normalized_spans.select("trace_key", "id", "timestamp")
    t0 = ts.groupBy("trace_key").agg(F.min("timestamp").alias("t0"))
    lag = (F.col("timestamp") - F.col("t0")).alias("lag")
    per_path = (
        leaves.join(
            ts.withColumnRenamed("id", "leaf_id"), ["trace_key", "leaf_id"]
        )
        .join(t0, "trace_key")
        .select("path", lag)
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_leaves"),
            F.max("lag").alias("max_lag_us"),
            F.sum("lag").alias("sum_lag_us"),
        )
    )
    top = per_path.orderBy(
        F.col("max_lag_us").desc(), F.col("path").asc()
    ).limit(k)
    w = Window.orderBy(F.col("max_lag_us").desc(), F.col("path").asc())
    return top.select(
        "path",
        "n_leaves",
        "max_lag_us",
        "sum_lag_us",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def path_latencies_sql(spans_cte: str, k: int = 50, max_depth: int = 127) -> str:
    """DuckDB twin of :func:`path_latencies`. ``spans_cte`` must define a
    ``spans`` relation with (trace_id, id, parent_id, local_service, ts)
    where ``ts`` is epoch µs."""
    return f"""
WITH RECURSIVE {spans_cte.strip()},
nodes AS (
  SELECT trace_id AS trace_key, id, parent_id,
         coalesce(local_service, '(unknown)') AS svc
  FROM spans
),
parents AS (
  SELECT DISTINCT trace_key, parent_id AS pid FROM nodes
  WHERE parent_id IS NOT NULL
),
leaves AS (
  SELECT n.* FROM nodes n
  LEFT JOIN parents p ON p.trace_key = n.trace_key AND p.pid = n.id
  WHERE p.pid IS NULL
),
walk AS (
  SELECT trace_key, id AS leaf_id, parent_id AS nxt, svc AS path, 1 AS depth
  FROM leaves
  UNION ALL
  SELECT w.trace_key, w.leaf_id, n.parent_id, n.svc || '->' || w.path,
         w.depth + 1
  FROM walk w
  JOIN nodes n ON n.trace_key = w.trace_key AND n.id = w.nxt
  WHERE w.depth <= {max_depth}
),
term AS (
  SELECT trace_key, leaf_id, nxt, path,
         row_number() OVER (PARTITION BY trace_key, leaf_id
                            ORDER BY depth DESC) AS rn
  FROM walk
),
resolved AS (
  SELECT t.trace_key, t.leaf_id, t.path FROM term t
  WHERE t.rn = 1 AND (t.nxt IS NULL OR NOT EXISTS (
    SELECT 1 FROM nodes n
    WHERE n.trace_key = t.trace_key AND n.id = t.nxt
  ))
),
t0 AS (
  SELECT trace_id AS trace_key, min(ts) AS t0 FROM spans GROUP BY 1
),
lagged AS (
  SELECT r.path, s.ts - t0.t0 AS lag
  FROM resolved r
  JOIN spans s ON s.trace_id = r.trace_key AND s.id = r.leaf_id
  JOIN t0 ON t0.trace_key = r.trace_key
),
per_path AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_leaves,
         CAST(max(lag) AS BIGINT) AS max_lag_us,
         CAST(sum(lag) AS BIGINT) AS sum_lag_us
  FROM lagged GROUP BY path
)
SELECT path, n_leaves, max_lag_us, sum_lag_us,
       CAST(row_number() OVER (ORDER BY max_lag_us DESC, path ASC) AS BIGINT)
         AS rank
FROM per_path
ORDER BY max_lag_us DESC, path ASC
LIMIT {k}
"""


def error_paths(
    normalized_spans: DataFrame,
    k: int = 50,
    max_depth: int = MAX_DEPTH,
    memo_key: str | None = None,
) -> DataFrame:
    """→ (path, n_leaves, n_error_leaves, err_rate9, rank): root→leaf
    service paths ranked by how many of their leaf spans carry the error
    tag — WHICH call chains fail, the error-attribution complement of
    ``top_trace_paths`` (volume) and ``path_latencies`` (latency). Rank
    orders by error count then path text; paths with zero failing leaves
    still appear (a 0-rate chain next to a failing sibling is the
    interesting contrast).

    Same shape discipline as the siblings: the leaf table joins span
    error flags on the (trace_key, id) key it already shuffled on, the
    aggregate is |distinct paths| cardinality, and top-k plans as
    TakeOrdered. err_rate9 is a single division rounded to 9 dp — the
    house hash-stable form.
    """
    from pyspark.sql import Window

    leaves = trace_paths(
        normalized_spans, max_depth=max_depth, memo_key=memo_key
    )
    flags = normalized_spans.select(
        "trace_key", F.col("id").alias("leaf_id"), "is_error"
    )
    per_path = (
        leaves.join(flags, ["trace_key", "leaf_id"])
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_leaves"),
            F.sum(
                F.when(F.coalesce("is_error", F.lit(False)), 1).otherwise(0)
            ).alias("n_error_leaves"),
        )
    )
    top = per_path.orderBy(
        F.col("n_error_leaves").desc(), F.col("path").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_error_leaves").desc(), F.col("path").asc())
    return top.select(
        "path",
        "n_leaves",
        "n_error_leaves",
        F.round(F.col("n_error_leaves") / F.col("n_leaves"), 9).alias(
            "err_rate9"
        ),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def error_paths_sql(spans_cte: str, k: int = 50, max_depth: int = 127) -> str:
    """DuckDB twin of :func:`error_paths`. ``spans_cte`` must define a
    ``spans`` relation with (trace_id, id, parent_id, local_service,
    is_error)."""
    return f"""
WITH RECURSIVE {spans_cte.strip()},
nodes AS (
  SELECT trace_id AS trace_key, id, parent_id,
         coalesce(local_service, '(unknown)') AS svc
  FROM spans
),
parents AS (
  SELECT DISTINCT trace_key, parent_id AS pid FROM nodes
  WHERE parent_id IS NOT NULL
),
leaves AS (
  SELECT n.* FROM nodes n
  LEFT JOIN parents p ON p.trace_key = n.trace_key AND p.pid = n.id
  WHERE p.pid IS NULL
),
walk AS (
  SELECT trace_key, id AS leaf_id, parent_id AS nxt, svc AS path, 1 AS depth
  FROM leaves
  UNION ALL
  SELECT w.trace_key, w.leaf_id, n.parent_id, n.svc || '->' || w.path,
         w.depth + 1
  FROM walk w
  JOIN nodes n ON n.trace_key = w.trace_key AND n.id = w.nxt
  WHERE w.depth <= {max_depth}
),
term AS (
  SELECT trace_key, leaf_id, nxt, path,
         row_number() OVER (PARTITION BY trace_key, leaf_id
                            ORDER BY depth DESC) AS rn
  FROM walk
),
resolved AS (
  SELECT t.trace_key, t.leaf_id, t.path FROM term t
  WHERE t.rn = 1 AND (t.nxt IS NULL OR NOT EXISTS (
    SELECT 1 FROM nodes n
    WHERE n.trace_key = t.trace_key AND n.id = t.nxt
  ))
),
per_path AS (
  SELECT r.path, CAST(count(*) AS BIGINT) AS n_leaves,
         CAST(sum(CASE WHEN coalesce(s.is_error, false) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_error_leaves
  FROM resolved r
  JOIN spans s ON s.trace_id = r.trace_key AND s.id = r.leaf_id
  GROUP BY r.path
)
SELECT path, n_leaves, n_error_leaves,
       round(CAST(n_error_leaves AS DOUBLE) / n_leaves, 9) AS err_rate9,
       CAST(row_number() OVER (ORDER BY n_error_leaves DESC, path ASC)
         AS BIGINT) AS rank
FROM per_path
ORDER BY n_error_leaves DESC, path ASC
LIMIT {k}
"""
