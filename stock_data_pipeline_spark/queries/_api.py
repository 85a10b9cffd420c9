"""Registry API: driver-facing queries()/oracle_sql()/headline_queries(),
all in registry order."""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ._p1_parity_corpus import REGISTRY


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}
