#!/usr/bin/env python
"""Regenerate QUERIES.md from queries() registry order + the q_* docstrings.

    python tools/gen_queries_md.py
"""
from __future__ import annotations

import importlib.util
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADER = """# QUERIES — the driver-contract surface (`__spark_entry__.py`)

One row per `queries()` entry in REGISTRY ORDER (the driver's correctness
gate runs the first 50 — see PARITY.md "Evidence tiers"; per-query driver
freshness lives in EVIDENCE.json); every query has a DuckDB `oracle_sql()`
twin unless marked rows-only. Generated from the query docstrings —
regenerate with `python tools/gen_queries_md.py`.

| query | what it computes |
|---|---|
"""


def render() -> str:
    """QUERIES.md's text: HEADER, then one row per queries() entry."""
    spec = importlib.util.spec_from_file_location(
        "se", os.path.join(ROOT, "__spark_entry__.py")
    )
    se = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(se)
    rows = []
    for name, fn in se.queries().items():
        doc = re.sub(r"\s+", " ", (fn.__doc__ or "").strip())
        doc = doc.replace("|", "\\|")
        rows.append(f"| `{name}` | {doc} |")
    return HEADER + "\n".join(rows) + "\n"


def main() -> None:
    out = render()
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as fh:
        fh.write(out)
    n_rows = out.count("\n| `")
    print(f"wrote QUERIES.md: {n_rows} rows")


if __name__ == "__main__":
    main()
