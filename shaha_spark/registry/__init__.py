"""The driver query registry: one record per query.

Each family module declares its queries with the :func:`query`
decorator, which pairs the Spark builder — ``(spark, sf_dir) ->
DataFrame`` — with its DuckDB oracle SQL, so a query's name, Spark
side and SQL twin sit together and are written once. The families live
inside the package, so the zip that ``common.ensure_pkg`` ships to the
Python workers carries every module a pickled function can refer to.

``__spark_entry__`` derives the driver contract (``queries``,
``oracle_sql``, ``local_oracle_sql``) from :func:`records`; COVERAGE.md
maps queries to the operators they exercise.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

#: Family modules, in registry order.
FAMILIES = ("hashdb", "tpch", "events", "docs", "text", "emb", "orders")


@dataclass(frozen=True)
class Query:
    """One registry entry.

    ``oracle`` is DuckDB SQL over the testdata views, runnable on a
    plain connection (the driver's gate). ``local_oracle`` needs the
    scalar UDFs of ``__spark_entry__.local_oracle_setup`` and therefore
    runs only in the local suite. ``note`` states an oracle contract
    that is deliberately weaker than value equivalence; COVERAGE.md
    renders it."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    local_oracle: str | None = None
    note: str | None = None


_RECORDS: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    *,
    local_oracle: str | None = None,
    note: str | None = None,
) -> Callable:
    """Register the decorated builder under ``name``."""

    def register(build):
        if name in _RECORDS:
            raise ValueError(f"query {name!r} is registered twice")
        _RECORDS[name] = Query(name, build, oracle, local_oracle, note)
        return build

    return register


def records() -> dict[str, Query]:
    """Every record, family by family in :data:`FAMILIES` order and in
    declaration order within a family."""
    rank = {}
    for family in FAMILIES:
        module = importlib.import_module(f"{__name__}.{family}")
        rank[module.__name__] = len(rank)
    return dict(
        sorted(_RECORDS.items(), key=lambda kv: rank[kv[1].build.__module__])
    )
