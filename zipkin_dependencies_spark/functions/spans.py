"""Span-projection scalar functions (SURVEY §2.2 P1, P5-P7).

`normalize_spans` is the single projection every source funnels through: it
prunes the scan to the 8 consumed fields and produces the linker kernel's
input shape (schemas.LINK_INPUT_SCHEMA).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..linker import VALID_KINDS
from .trace import trace_key


def clean_kind(col: Column | str) -> Column:
    """Lenient kind parse: invalid enum values become NULL (dropped with a
    debug log in the reference, CassandraRowToSpan.java:41-48)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(*sorted(VALID_KINDS)), c)


def service_name(col: Column | str) -> Column:
    """Empty string → NULL (P6; CassandraRowToSpan.java:59,
    DependencyLinkSpanIterator.java:179-182)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(""))


def error_flag(tags_col: Column | str) -> Column:
    """``tags contains key 'error'`` (P5; CassandraRowToSpan.java:38-40)."""
    c = F.col(tags_col) if isinstance(tags_col, str) else tags_col
    return F.coalesce(F.map_contains_key(c, "error"), F.lit(False))


def normalize_spans(spans: DataFrame, strict_trace_id: bool = False) -> DataFrame:
    """v2 span DataFrame → linker input shape.

    Selecting only consumed fields lets Catalyst push column pruning into the
    parquet scan (ReadSchema shrinks to 8 of 14 columns — SURVEY §4).
    """
    return spans.select(
        trace_key("trace_id", strict_trace_id).alias("trace_key"),
        F.nullif(F.col("parent_id"), F.lit("")).alias("parent_id"),
        F.col("id").alias("id"),
        clean_kind("kind").alias("kind"),
        service_name("local_endpoint.service_name").alias("local_service"),
        service_name("remote_endpoint.service_name").alias("remote_service"),
        F.coalesce(F.col("shared"), F.lit(False)).alias("shared"),
        error_flag("tags").alias("is_error"),
        F.col("timestamp").alias("timestamp"),
    )
