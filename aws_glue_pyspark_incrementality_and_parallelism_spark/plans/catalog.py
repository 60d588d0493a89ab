"""Assemble the full query catalog.

Importing this module imports every operator module, which registers its
queries into ``REGISTRY`` via the ``@query`` decorator. Catalog order is
registration order.
"""

from __future__ import annotations

from ..operators import (  # noqa: F401
    queries_reports,
    queries_joins,
    queries_tpch,
    queries_tpch2,
    queries_windows,
    queries_setops,
    queries_functions,
    queries_analytics,
    queries_sessions,
    queries_quality,
    queries_udf,
    similarity,
    skew,
    text,
    graph,
    queries_aggregates,
    dedup,
    layout,
    multimodal,
    queries_scrub,
    embeddings,
    queries_streaming,
    maintenance,
    pq,
    governance,
    entity,
    geo,
    bucketed,
    archive,
    features,
    formats,
    web,
    bpe,
    substrings,
)

from .registry import REGISTRY, QuerySpec  # noqa: F401


def all_queries():
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles():
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
