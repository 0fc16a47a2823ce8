"""Root→leaf service-path analytics — "what call chains dominate this
system" (extension operator; the reference computes only single-edge
links, never multi-hop paths).

The path of a leaf span is the service sequence along its raw
``parent_id`` chain, root-first, joined with ``->``. One construction
engine, the flagship linker's shape on its shared sorted-stream helper
(operators/link.py::_sorted_groups): ONE repartition by trace_key + sort +
one Arrow ``mapInPandas`` pass that walks each trace's chains in plain
Python. One shuffle of the narrow 4-column span projection at any scale;
a giant trace is one task, exactly as in the linker.

Semantics (deliberately raw-tree, identical to the DuckDB recursive-CTE
twin by definition):
- a span with null ``parent_id`` is a root; a DANGLING parent_id (no such
  span in the trace) terminates the chain there — the span acts as its
  own subtree root (storage loss shouldn't void the whole trace's paths);
- leaves are spans that are nobody's parent within their trace;
- a chain is kept iff it terminates within ``MAX_DEPTH + 1`` nodes;
  longer chains and CYCLIC chains (which never terminate) have their
  leaves dropped (counted nowhere — the linker kernel, not paths, is the
  recovery route there);
- null service names render as ``(unknown)`` (Spark's concat_ws would
  silently skip nulls while SQL would null the whole path — the coalesce
  pins one behavior on both engines);
- callers must provide unique (trace_key, id) rows — run D1
  ``dedupe_spans`` first (a duplicate id keeps only one of its rows in
  the walk). That costs no extra shuffle: the dedupe's trace_key
  partitioning survives the 4-column projection, so the walker's
  repartition(trace_key) plans no exchange of its own, and the dedupe's
  sort (trace_key first) already groups the traces, so the walker's
  sortWithinPartitions plans no sort of its own either.

Scale: the final count is |distinct paths| cardinality with a
TakeOrdered top-k — no global sort, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..memo import register_memo
from .link import _sorted_groups

MAX_DEPTH = 127

#: same-session reuse of the finished path table (top_trace_paths and
#: trace_depth_histogram both layer one aggregate on it — the
#: multi-consumer-subtree rule); opt-in via memo_key, exact by determinism
_PATH_MEMO: dict[str, DataFrame] = register_memo({})


def _paths_walker(batches):
    """mapInPandas kernel: walk each trace's leaf→root chains in plain
    Python over a trace_key-sorted partition stream (``_sorted_groups``
    delivers each trace whole, even when it straddles Arrow batches).

    A leaf is a span nobody's parent_id names. The walk keeps a chain of
    at most ``MAX_DEPTH + 1`` nodes: it emits the path iff the chain
    terminates (null parent = root, missing parent = dangling) within
    that many visited nodes — the DuckDB twin's ``depth <= max_depth``
    extension rule. Cycles never terminate and fall out of the same
    bound (pinned by tests/test_pipeline_ops.py's random forests and the
    recursive-CTE twins)."""
    import pandas as pd

    bound = MAX_DEPTH + 1
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
                        (trace_key, leaf, "->".join(reversed(segs)), len(segs))
                    )
                    break
                cur = par
            # bound exhausted without termination: a cycle or a chain
            # deeper than MAX_DEPTH + 1 nodes — dropped
    yield pd.DataFrame(out_rows, columns=["trace_key", "leaf_id", "path", "depth"])


def trace_paths(
    normalized_spans: DataFrame, memo_key: str | None = None
) -> DataFrame:
    """→ (trace_key, leaf_id, path, depth): one row per resolved leaf span,
    path = root-first ``->``-joined service chain. ``memo_key``: see
    ``_PATH_MEMO`` — pass a stable corpus key to share the finished table
    across same-session consumers.

    Plan: project the 4 consumed columns (the mapInPandas boundary is
    opaque to column pruning — guide §4.1), ONE repartition by trace_key
    that AQE sizes as it sizes the linker's (see
    ``link.trace_links_partitioned``), in-partition sort for contiguous
    traces, one Arrow pass."""
    spark = normalized_spans.sparkSession
    if memo_key is not None:
        hit = _PATH_MEMO.get(memo_key)
        if hit is not None and hit.sparkSession is spark:
            return hit
    out = (
        normalized_spans.select(
            "trace_key",
            "id",
            "parent_id",
            F.coalesce(F.col("local_service"), F.lit("(unknown)")).alias("svc"),
        )
        .repartition("trace_key")
        .sortWithinPartitions("trace_key")
        .mapInPandas(
            _paths_walker,
            schema="trace_key string, leaf_id string, path string, depth long",
        )
    )
    if memo_key is not None:
        out = out.localCheckpoint(eager=True)
        _PATH_MEMO[memo_key] = out
    return out


def top_trace_paths(
    normalized_spans: DataFrame,
    k: int = 50,
    memo_key: str | None = None,
) -> DataFrame:
    """→ (path, n_occurrences, rank): the k most common root→leaf service
    paths (ties broken by path text — deterministic under any
    partitioning). orderBy+limit plans as TakeOrdered: per-partition heaps
    + driver merge of k rows, never a single-partition global sort."""
    from pyspark.sql import Window

    counts = (
        trace_paths(normalized_spans, memo_key=memo_key)
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
    memo_key: str | None = None,
) -> DataFrame:
    """→ (depth, n_leaves): distribution of root→leaf chain lengths — the
    trace-shape health metric (a sudden deep tail usually means a retry
    storm or a linking bug upstream). One aggregate over the path build's
    (already computed) depth column; output cardinality ≤ MAX_DEPTH + 1."""
    return (
        trace_paths(normalized_spans, memo_key=memo_key)
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

    leaves = trace_paths(normalized_spans, memo_key=memo_key)
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

    leaves = trace_paths(normalized_spans, memo_key=memo_key)
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
