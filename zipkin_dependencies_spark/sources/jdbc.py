"""JDBC v1 pushdown: the reference's MySQL subquery, Spark-native (SURVEY §2.1
S2/S3).

The reference wraps its filter+join+distinct as a ``dbtable`` subquery so the
database executes it and only result rows cross the wire
(mysql/.../MySQLDependenciesJob.java:185-209). Same move here: Catalyst's
JDBC relation takes the subquery verbatim, and
``sources/backends.py::read_spans_mysql`` reads it as one query, as the
reference does.

No live database exists in this environment, so the connector is covered by
contract tests on the generated SQL (tests/test_sources.py) rather than an
integration run; the downstream row adapter (``v2_spans_from_link_rows``)
shares every line of pivot/matrix logic with the fully oracle-checked
parquet v1 path.
"""

from __future__ import annotations

from .v1 import CORE_KEYS

LINK_FIELDS = "s.trace_id, s.parent_id, s.id, a.a_key, a.endpoint_service_name, a.a_type"


def v1_pushdown_subquery(start_us: int, end_us: int) -> str:
    """The pushed SELECT, textually equivalent to the reference's
    (MySQLDependenciesJob.java:185-196): day window on every span (F1),
    core-annotation key filter (F4), DISTINCT via GROUP BY all-but-parent_id
    (D2). ``trace_id_high`` is never selected: linking ignores it
    (DependencyLinkSpanIterator.java:72-75), so one statement serves both
    v1 schema layouts (PARITY S5)."""
    keys = ", ".join(f"'{k}'" for k in CORE_KEYS)
    return (
        f"(SELECT DISTINCT {LINK_FIELDS} "
        "FROM zipkin_spans s "
        "LEFT OUTER JOIN zipkin_annotations a ON "
        "(s.trace_id = a.trace_id AND s.id = a.span_id "
        f"AND a.a_key IN ({keys})) "
        f"WHERE s.start_ts BETWEEN {int(start_us)} AND {int(end_us)} "
        "GROUP BY s.trace_id, s.id, a.a_key, "
        "a.endpoint_service_name, a.a_type) AS link_spans"
    )
