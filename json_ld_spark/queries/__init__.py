"""Query registry: every query is a ``q_<name>`` function registered with
the DuckDB SQL that checks it.

``@query(oracle=SQL)`` is the only place that pairs a query with its
oracle. The name is the function name without ``q_``; its prefix names
the family module that defines it (``kg_triples_native`` lives in
``queries/kg.py``). Importing this package imports every family, so
``REGISTRY`` holds all queries in registration order.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class Query(NamedTuple):
    fn: QueryFn
    oracle: str


REGISTRY: dict[str, Query] = {}


def query(oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register the decorated ``q_<name>`` function under ``<name>``,
    checked by the DuckDB query ``oracle``."""
    if not isinstance(oracle, str) or not oracle.strip():
        raise ValueError("a query's oracle must be a non-empty SQL string")

    def register(fn: QueryFn) -> QueryFn:
        if not fn.__name__.startswith("q_"):
            raise ValueError(f"query function {fn.__name__!r} must be named q_<name>")
        name = fn.__name__[2:]
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        REGISTRY[name] = Query(fn, oracle)
        return fn

    return register


from json_ld_spark.queries import (  # noqa: E402,F401  (registers the families)
    kg, jsonld, dedup, data, text, rel, sketch, ann, multimodal, streaming,
)
