"""The query registry: every workloads module registers its queries here.

A leaf module (no kukur_spark imports), so a workloads module can import
it at any point of any import order.  Each query registers once, at its
definition site, with its DuckDB oracle SQL when it has one; the order
of registration carries no meaning (``kukur_spark.workloads`` orders the
public registry by name after the driver window).
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def register(
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    oracle: Optional[str] = None,
) -> None:
    """Register query ``name``; a second registration of it raises."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle
