"""v1 two-table adapter (MySQL parity; SURVEY §2.1 S2/S3, §2.5 G5, §2.6 matrix).

The reference pushes a filter+join+distinct subquery to MySQL
(mysql/.../MySQLDependenciesJob.java:185-209), then walks the sorted rows
re-deriving v2 kind/endpoints from v1 core annotations
(DependencyLinkSpanIterator.java:78-172). Spark-first decomposition:

1. F1 window on ``zipkin_spans.start_ts``           → pushed scan predicate
2. annotation key filter (F4), then conditional-aggregation pivot per
   (trace_id, span_id): one column per core annotation key — replaces the
   reference's ~160-line peeking-iterator re-segmentation (G5) with one
   aggregate. The pivot runs BEFORE the join (aggregate-then-join): the
   annotation table is the biggest input, and collapsing it first means the
   join moves one row per span per side instead of one row per annotation —
   at 100 TB this is the difference between joining the raw fact table and
   joining an already-reduced span-cardinality table. Duplicate annotation
   rows are absorbed by the max() pivot, which also subsumes the reference's
   pushed DISTINCT (D2).
3. span-side collapse: groupBy (trace_id, id) → max(parent_id) — the
   reference's GROUP BY all-but-parent_id.
4. left equi-join of the two pre-aggregated sides on
   (trace_id, id)=(trace_id, span_id) — deliberately ignores trace_id_high,
   as the reference's SQL does.
5. the kind matrix (DependencyLinkSpanIterator.java:133-171):
     sr               ⇒ SERVER   local=sr              remote=ca||cs
     sa (no sr)       ⇒ CLIENT if cs else kind-null; local=ca||lc, remote=sa
     cs only          ⇒ SERVER   local=ca              remote=null
     mr               ⇒ CONSUMER local=mr              remote=ma
     ms               ⇒ PRODUCER local=ms              remote=ma
   with the Finagle rule (ca==sa ⇒ drop ca, :126-131 — applied *after*
   ca||cs) and the tag rule (error counts only when a_type=6, :120-122).

Deviation note (SURVEY-documented): the reference's iterator reads a_key /
endpoint_service_name from the stale first row of each span group
(DependencyLinkSpanIterator.java:95-123 uses ``row`` where the loop consumes
``next``), which would ignore every annotation after the first. We implement
the evidently-intended semantics: every annotation row contributes.

Output: canonical v2 span columns ready for `normalize_spans`. Trace ids are
rendered as 16-hex of the low 64 bits — grouping ignores trace_id_high
exactly like the reference (DependencyLinkSpanIterator.java:72-75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CORE_KEYS = ("lc", "ca", "cs", "sa", "sr", "ma", "ms", "mr", "error")
STRING_TYPE = 6  # BINARY_ANNOTATION_TYPE_STRING (DependencyLinkSpanIterator.java:23)


def _svc(key: str):
    """max(endpoint_service_name) where a_key=key — deterministic stand-in for
    the reference's order-dependent last-write-wins (values differ only when
    storage holds conflicting service names for one annotation key)."""
    return F.max(
        F.when(
            (F.col("a_key") == key) & (F.nullif(F.col("endpoint_service_name"), F.lit("")).isNotNull()),
            F.col("endpoint_service_name"),
        )
    ).alias(f"{key}_service")


def v1_to_v2_spans(
    zipkin_spans: DataFrame,
    zipkin_annotations: DataFrame,
    start_us: int | None = None,
    end_us: int | None = None,
) -> DataFrame:
    """Two v1 tables → canonical v2 spans. ``start_us``/``end_us`` is the F1
    day window on ``zipkin_spans.start_ts``, applied at the scan like the
    reference's pushed WHERE. The output carries no span ``timestamp`` or
    ``day``, so the window must be applied here, not downstream."""
    spans = zipkin_spans
    if start_us is not None:
        spans = spans.filter(F.col("start_ts").between(start_us, end_us))
    # span-side collapse: one row per (trace_id, id), parent_id max-resolved
    # (the reference's GROUP BY all-but-parent_id keeps one arbitrary value)
    spans = (
        spans.select("trace_id", "id", "parent_id")
        .groupBy("trace_id", "id")
        .agg(F.max("parent_id").alias("parent_id"))
    )

    annos = zipkin_annotations.filter(F.col("a_key").isin(*CORE_KEYS)).select(
        F.col("trace_id"),
        F.col("span_id"),
        F.col("a_key"),
        F.col("endpoint_service_name"),
        F.col("a_type"),
    )

    # aggregate-then-join: collapse the (much larger) annotation table to span
    # cardinality FIRST. max() pivots are idempotent, so duplicate annotation
    # rows are absorbed here — this subsumes the reference's pushed DISTINCT
    # (D2) while moving strictly fewer rows through the join exchange.
    an_pivot = annos.groupBy("trace_id", "span_id").agg(
        *[_svc(k) for k in ("lc", "ca", "cs", "sa", "sr", "ma", "ms", "mr")],
        F.max(
            (F.col("a_key") == "error") & (F.col("a_type") == STRING_TYPE)
        ).alias("is_error"),
    )

    pivoted = spans.join(
        an_pivot,
        on=[spans.trace_id == an_pivot.trace_id, spans.id == an_pivot.span_id],
        how="left_outer",
    ).select(
        spans.trace_id,
        spans.id,
        spans.parent_id,
        *[f"{k}_service" for k in ("lc", "ca", "cs", "sa", "sr", "ma", "ms", "mr")],
        "is_error",
    )
    return _v2_from_pivoted(pivoted)


def v2_spans_from_link_rows(rows: DataFrame) -> DataFrame:
    """Already-joined (trace_id, parent_id, id, a_key, endpoint_service_name,
    a_type) rows → v2 spans. This is the shape the reference's pushed JDBC
    subquery returns (MySQLDependenciesJob.java:185-209 — the DB did the
    join); only the pivot and the kind matrix remain for Spark."""
    pivoted = rows.groupBy("trace_id", "id").agg(
        F.max("parent_id").alias("parent_id"),
        *[_svc(k) for k in ("lc", "ca", "cs", "sa", "sr", "ma", "ms", "mr")],
        F.max(
            (F.col("a_key") == "error") & (F.col("a_type") == STRING_TYPE)
        ).alias("is_error"),
    )
    return _v2_from_pivoted(pivoted)


def _v2_from_pivoted(pivoted: DataFrame) -> DataFrame:
    """(trace_id, id, parent_id, {key}_service…, is_error) → canonical v2
    spans via the kind matrix (DependencyLinkSpanIterator.java:133-171)."""
    ca = F.coalesce(F.col("ca_service"), F.col("cs_service"))  # ca more authoritative than cs owner
    ca = F.when(
        F.col("sa_service").isNotNull() & (F.col("sa_service") == ca), F.lit(None)
    ).otherwise(ca)  # Finagle same-name ca==sa: drop ca to avoid fake loopback

    kind = (
        F.when(F.col("sr_service").isNotNull(), F.lit("SERVER"))
        .when(
            F.col("sa_service").isNotNull(),
            F.when(F.col("cs_service").isNotNull(), F.lit("CLIENT")),
        )
        .when(F.col("cs_service").isNotNull(), F.lit("SERVER"))
        .when(F.col("mr_service").isNotNull(), F.lit("CONSUMER"))
        .when(F.col("ms_service").isNotNull(), F.lit("PRODUCER"))
    )

    local = (
        F.when(F.col("sr_service").isNotNull(), F.col("sr_service"))
        .when(F.col("sa_service").isNotNull(), F.coalesce(ca, F.col("lc_service")))
        .when(F.col("cs_service").isNotNull(), ca)
        .when(F.col("mr_service").isNotNull(), F.col("mr_service"))
        .when(F.col("ms_service").isNotNull(), F.col("ms_service"))
    )

    remote = (
        F.when(F.col("sr_service").isNotNull(), ca)
        .when(F.col("sa_service").isNotNull(), F.col("sa_service"))
        .when(F.col("cs_service").isNotNull(), F.lit(None).cast("string"))
        .when(
            F.col("mr_service").isNotNull() | F.col("ms_service").isNotNull(),
            F.col("ma_service"),
        )
    )

    hex16 = lambda c: F.lpad(F.lower(F.hex(c)), 16, "0")  # noqa: E731
    return pivoted.select(
        hex16(F.col("trace_id")).alias("trace_id"),
        # parentId(0) means root in the v1 model (iterator maps null→0, the
        # span builder normalizes 0 back to null)
        F.when(
            F.col("parent_id").isNotNull() & (F.col("parent_id") != 0),
            hex16(F.col("parent_id")),
        ).alias("parent_id"),
        hex16(F.col("id")).alias("id"),
        kind.alias("kind"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("long").alias("timestamp"),
        F.lit(None).cast("long").alias("duration"),
        F.struct(
            local.alias("service_name"),
            F.lit(None).cast("string").alias("ipv4"),
            F.lit(None).cast("string").alias("ipv6"),
            F.lit(None).cast("int").alias("port"),
        ).alias("local_endpoint"),
        F.struct(
            remote.alias("service_name"),
            F.lit(None).cast("string").alias("ipv4"),
            F.lit(None).cast("string").alias("ipv6"),
            F.lit(None).cast("int").alias("port"),
        ).alias("remote_endpoint"),
        F.lit(None).cast("array<struct<timestamp:bigint,value:string>>").alias("annotations"),
        F.when(
            F.coalesce(F.col("is_error"), F.lit(False)),
            F.create_map(F.lit("error"), F.lit("")),
        ).alias("tags"),
        F.lit(False).alias("shared"),
        F.lit(None).cast("boolean").alias("debug"),
        F.lit(None).cast("date").alias("day"),
    )
