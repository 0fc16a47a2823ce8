"""Exact two-sample Kolmogorov–Smirnov distance, distributed.

The drift gate every large-scale data pipeline runs before shipping a new
corpus snapshot: D = max over x of |F_A(x) − F_B(x)| between the empirical
CDFs of two samples (Kolmogorov 1933; Smirnov 1939 — the classic
distribution-free two-sample test). At 100 TB the textbook single-node
formulation (sort both samples together, walk once) is unusable; the
distributed decomposition:

  1. quantize + tag:  one scan emits (v, is_a) — the quantization to
     integer units makes every later comparison engine-exact.
  2. collapse to distinct values:  groupBy(v) → (v, count_a, count_b).
     ONE data-scale shuffle, map-side combined; everything after runs on
     the distinct-value table (bounded by the quantization grid, not by
     the corpus).
  3. two running sums, one pass:  cum_a(v), cum_b(v) over v-order via
     `distributed_prefix_sums` — the two-phase range-bucketed prefix sum
     (operators/rank.py), so no single-partition window anywhere. Both
     ECDFs share one bucketing, one offset collect (n_buckets rows), one
     within-bucket window.
  4. the gap maximum as ONE aggregate:  |cum_a·n_b − cum_b·n_a| is the
     D numerator cross-multiplied into integers (no per-row division —
     exact, and safe to compare). max(struct(gap, −v)) returns the max
     gap AND the smallest v attaining it in a single deterministic
     reduction (struct ordering is lexicographic) — no second pass, no
     orderBy.

Exactness: cumulative counts stay integral; the cross-multiplied gap is
computed in DECIMAL(38,0) (counts up to ~1e12 per side square to ~1e24 —
past BIGINT, nowhere near 38 digits). Only the final reported statistic
divides, once, in double, then quantizes to 1e-6 units — the repo's
engine-safe float recipe.

Ties need no special case: collapsing to distinct values first means both
ECDFs step at the same points, which is exactly the right-continuous
definition (the max over distinct observed values IS the max over all x).

Reference parity: no statistics operators exist in the reference
(SURVEY §2); extension operator for the training-data surface. Oracle:
`llm/oracles.py::ks_drift_sql` (windowed sums over the same distinct-value
table; value-identical by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rank import distributed_prefix_sums


def ks_statistic(
    df: DataFrame,
    value_col: Column | str,
    is_a: Column,
    n_buckets: int = 64,
) -> DataFrame:
    """→ single row (n_a, n_b, n_vals, at_v, ks_q6).

    value_col: an INTEGRAL column (quantize floats first — integer values
    are what make the cross-engine comparison exact). is_a: boolean column
    tagging sample A; false → sample B. Rows where the VALUE is NULL or
    the MEMBERSHIP predicate is NULL are dropped — an ECDF has no place
    for the former, and a row that belongs to neither sample would
    otherwise silently skew n_vals while counting in neither ECDF. If
    either sample ends up empty the statistic is undefined: ks_q6
    reports NULL (try_divide, not a guess and not an ANSI
    divide-by-zero abort), while at_v degenerates to the smallest
    observed value (every integer gap is 0, so max(struct(gap, -v))
    resolves on the -v tiebreak) — the DuckDB twin degenerates
    identically, so the cross-engine contract holds; treat at_v as
    meaningful only when ks_q6 is non-NULL.

    ks_q6 = round(1e6 · D); at_v = the smallest value attaining the max
    ECDF gap; n_vals = distinct value count (the size of the reduced
    table every post-shuffle stage ran on)."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    # materialize the distinct-value reduction ONCE (eager localCheckpoint,
    # the repo's materialize-once idiom): three consumers read it — the
    # bucketing sketch (approxQuantile), the running sums, and the totals —
    # and without the checkpoint each would rescan the full input. The
    # checkpointed table is distinct-value-sized (bounded by the
    # quantization grid), never corpus-sized.
    per_v = (
        df.where(v.isNotNull() & is_a.isNotNull())
        .select(v.alias("v"), is_a.cast("int").alias("ga"))
        .groupBy("v")
        .agg(
            F.sum("ga").cast("long").alias("ca"),
            F.sum(1 - F.col("ga")).cast("long").alias("cb"),
        )
        .localCheckpoint(eager=True)
    )
    cum = distributed_prefix_sums(
        per_v,
        "v",
        ["ca", "cb"],
        tiebreak_cols=[],
        n_buckets=n_buckets,
        out_cols=["ca_before", "cb_before"],
    )
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("nv"),
    )
    dec = "decimal(38,0)"
    cum_a = (F.col("ca_before") + F.col("ca")).cast(dec)
    cum_b = (F.col("cb_before") + F.col("cb")).cast(dec)
    gap = F.abs(
        cum_a * F.col("nb").cast(dec) - cum_b * F.col("na").cast(dec)
    )
    best = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.struct(gap.alias("gap"), (-F.col("v")).alias("nv_"))
            ).alias("m"),
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.max("nv").alias("n_vals"),
        )
    )
    return best.select(
        "n_a",
        "n_b",
        "n_vals",
        (-F.col("m.nv_")).cast("bigint").alias("at_v"),
        # try_divide: an empty sample makes the statistic undefined — the
        # row reports NULL instead of an ANSI DIVIDE_BY_ZERO abort
        F.round(
            F.try_divide(
                F.lit(1e6) * F.col("m.gap").cast("double"),
                F.col("n_a").cast("double") * F.col("n_b").cast("double"),
            )
        )
        .cast("bigint")
        .alias("ks_q6"),
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, ...] = (0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999),
    n_buckets: int = 64,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """EXACT quantiles of ``value_col`` by distributed selection — the
    percentile report a pipeline wants precise (SLA cutoffs, length
    caps) where ``percentile_approx`` gives an approximation with no
    error contract. → (*partition_by, prob, rank_idx, value), one row
    per requested probability (per group when ``partition_by`` is
    given); type-1 (lower) quantile semantics pinned identically on
    both engines: rank = min(n, floor(p·n) + 1) over the group's
    non-null values ascending.

    The textbook exact formulation (global sort, pick indexes) is a
    single-partition sort at 100 TB. Distributed selection instead:
    approxQuantile splits bucket the values (GLOBAL splits even under
    grouping — they only LOAD-BALANCE; whatever the splits, ranks stay
    exact), one map-side-combined count per (group, bucket) collects to
    the driver (groups × n_buckets rows — the `distributed_row_number`
    offsets-collect shape: a size the caller chose), the driver
    pinpoints which bucket holds each target rank and its within-bucket
    offset, and ONLY those buckets (≤ groups × len(probs) of them) pay
    a sort — every other bucket is touched by nothing but the count
    scan (a broadcast semi-join prunes them before the window). Ties
    need no tiebreak: any permutation of equal values has the same
    value at every rank, so the output is deterministic even though the
    within-bucket order of duplicates is not. NULLs are excluded
    (quantiles of the observed distribution); a group with no non-null
    values emits no rows.

    Reference parity: no statistics operators in the reference
    (SURVEY §2); extension surface. Oracle: the naive row_number twin
    in the registered SQL (single-partition there — DuckDB's problem,
    not ours)."""
    import math

    from pyspark.sql import Window

    pcols = list(partition_by)
    vals = df.select(
        *[F.col(c) for c in pcols], F.col(value_col).alias("v")
    ).where(F.col("v").isNotNull())
    qs = [i / n_buckets for i in range(1, n_buckets)]
    splits = sorted(set(vals.stat.approxQuantile("v", qs, 0.01)))
    # chained-add bucketing is codegen-friendly IN AN AGGREGATE (the
    # counts job below measured ~4 s at sf1); it must NOT appear under
    # a join key — the null-filter pushdown duplicates the whole
    # n_buckets-deep tree and drops it out of codegen (measured 50 s).
    # The selection job therefore avoids per-row bucketing entirely:
    # see the value-range CASE below.
    bucket = F.lit(0)
    for s in splits:
        bucket = bucket + (F.col("v") > F.lit(s)).cast("int")
    bucketed = vals.withColumn("__bkt", bucket)
    counts = (
        bucketed.groupBy(*pcols, "__bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_group: dict[tuple, list] = {}
    for r in counts:
        by_group.setdefault(tuple(r[c] for c in pcols), []).append(
            (r["__bkt"], r["c"])
        )
    spark = df.sparkSession
    target_rows = []
    for g, lst in by_group.items():
        prefix = {}
        acc = 0
        for bkt, c in sorted(lst):
            prefix[bkt] = acc
            acc += c
        n = acc
        for p in probs:
            r = min(n, math.floor(float(p) * n) + 1)
            # last bucket whose exclusive prefix is < r holds rank r
            bkt = max(b for b, off in prefix.items() if off < r)
            target_rows.append(
                (*g, float(p), int(r), int(bkt), int(r - prefix[bkt]))
            )
    t_schema = bucketed.select(
        *pcols,
        F.lit(0.0).alias("prob"),
        F.lit(0).cast("long").alias("rank_idx"),
        F.col("__bkt").alias("__tbkt"),
        F.lit(0).cast("long").alias("__trr"),
    ).schema
    targets = spark.createDataFrame(target_rows, schema=t_schema)
    # The selection job never computes the full bucket id per row: the
    # driver KNOWS each needed bucket's value range from the splits, so
    # the scan filters on ≤ len(probs) range predicates (tiny codegen
    # CASE, single evaluation of v — and nothing for the join-key
    # null-filter pushdown to blow up) and tags the matching bucket id.
    # A row whose value falls in a bucket only some OTHER group needs
    # still passes (value pruning is global) — it forms its own window
    # partition and the final targets join drops it; the extra sorted
    # volume is bounded by groups × len(probs) buckets.
    needed = sorted({t[-2] for t in target_rows})
    bkt_tag = None
    in_any = None
    for b in needed:
        lo = splits[b - 1] if b > 0 else None
        hi = splits[b] if b < len(splits) else None
        cond = F.lit(True)
        if lo is not None:
            cond = F.col("v") > F.lit(float(lo))
        if hi is not None:
            cond = cond & (F.col("v") <= F.lit(float(hi)))
        in_any = cond if in_any is None else (in_any | cond)
        bkt_tag = (
            F.when(cond, F.lit(b))
            if bkt_tag is None
            else bkt_tag.when(cond, F.lit(b))
        )
    if in_any is None:  # no targets (empty input)
        in_any, bkt_tag = F.lit(False), F.lit(0)
    pruned = vals.where(in_any).withColumn("__bkt", bkt_tag.cast("int"))
    w = Window.partitionBy(*pcols, "__bkt").orderBy("v")
    ranked = pruned.withColumn("__rn", F.row_number().over(w).cast("long"))
    cond = [
        ranked[c].eqNullSafe(targets[c]) for c in pcols
    ] + [
        ranked["__bkt"] == targets["__tbkt"],
        ranked["__rn"] == targets["__trr"],
    ]
    picked = ranked.join(F.broadcast(targets), cond)
    return picked.select(
        *[targets[c] for c in pcols],
        targets["prob"],
        targets["rank_idx"],
        ranked["v"].alias("value"),
    )
