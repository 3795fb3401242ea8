"""Query catalog: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI/DuckDB SQL string for the driver's oracle check
(``None`` → rows-only check, used for genuinely non-SQL-expressible
ops). Registration happens at import time via the ``@query`` decorator.

Cross-engine determinism rules (why every aggregate looks the way it
does):
- double sums are order-dependent across engines → aggregate exact
  decimals (``cast(x as decimal(18,k))``), then ``round(cast(.. as
  double), k)`` so both engines emit bit-identical doubles.
- per-row double arithmetic is IEEE-identical when written identically
  in both dialects — safe without decimals.
- any value produced by a float *reduction* (norms, cosines, scores) is
  rounded explicitly in BOTH dialects.
- every computed column is aliased identically in both dialects (the
  driver hash-compares by sorted column name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .evidence import is_stale, load_manifest


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from ..sources.catalog import read_parquet_table

    return read_parquet_table(spark, sf_dir, table)


# Import for side effects: each module registers its queries.
from . import relational  # noqa: E402,F401
from . import rag  # noqa: E402,F401
from . import textops  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import streaming_q  # noqa: E402,F401
from . import logsq  # noqa: E402,F401
from . import ingestq  # noqa: E402,F401
from . import mediaq  # noqa: E402,F401
from . import tpch_extra  # noqa: E402,F401
from . import pipelineq  # noqa: E402,F401
from . import cdcq  # noqa: E402,F401
from . import corpusq  # noqa: E402,F401
from . import auditq  # noqa: E402,F401
from . import analyticsq  # noqa: E402,F401
from . import curationq  # noqa: E402,F401
from . import round7q  # noqa: E402,F401
from . import round8q  # noqa: E402,F401
from . import stattestsq  # noqa: E402,F401
from . import forecastq  # noqa: E402,F401
from . import sketchq  # noqa: E402,F401
from . import linkageq  # noqa: E402,F401
from . import round9q  # noqa: E402,F401


def _reorder_for_driver_window() -> None:
    """Each correctness run (CORRECTNESS_rNN.json) checks only the first
    50 REGISTRY entries, so the order decides which queries earn
    evidence. Tiers: 0 = stale (changed since their newest green row);
    1 = oracle queries no run has passed; 2 = fresh, OLDEST evidence first,
    so spare slots refresh the oldest rows; 3 = rows-only (a slot buys
    them only the weak row-count check). Within a tier, registration
    order. Reads only the manifest: no digest is computed at import."""
    manifest = load_manifest()

    def rank(item: tuple[str, QuerySpec]) -> tuple[int, int]:
        name, spec = item
        row = manifest.get(name, {})
        if spec.oracle is None:
            return (3, 0)
        if row.get("evidence") is None:
            return (1, 0)
        return (0, 0) if is_stale(row) else (2, row["evidence"]["round"])

    ordered = sorted(REGISTRY.items(), key=rank)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_for_driver_window()
