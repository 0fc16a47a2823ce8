"""zipkin_dependencies_spark — a PySpark-native engine with the query and
data-processing capabilities of openzipkin/zipkin-dependencies, plus
LLM-data-pipeline extension operators (dedup, similarity search, multimodal
columns, text analysis), every operator designed for 100 TB scale.

Blueprint: SURVEY.md (reference citations are file:line into /root/reference).
"""

import importlib

#: export → the submodule that defines it. PEP 562 loads each on first use,
#: so importing the package imports no PySpark: ``-m
#: zipkin_dependencies_spark.worker_daemon`` runs this file first and must
#: order ``sys.path`` before PySpark is imported.
_EXPORTS = {
    "DependencyLinker": "linker",
    "Span": "linker",
    "link_trace": "linker",
    "DependencyLinksJob": "plans",
    "JobConfig": "plans",
    "get_spark": "session",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    try:
        module = _EXPORTS[name]
    except KeyError:  # ``from . import <submodule>`` relies on this error
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    return getattr(importlib.import_module(f".{module}", __name__), name)
