"""Registry plumbing + float-safety helpers shared by query modules.

Float-safety convention (the oracle compares order-insensitive value
hashes, so results must be *bit-identical* across engines):

- Sums over double columns are order-dependent in IEEE arithmetic, so
  every aggregated money/measure column is cast to DECIMAL(18,2) *before*
  SUM (exact, associative) and the result cast back to DOUBLE (identical
  bits both sides). The testdata doubles carry <=2 decimal digits, so the
  decimal cast is lossless.
- Averages are computed explicitly as decimal-sum / count.
- Row-wise double arithmetic (least/greatest, negation, fixed-order
  a+b+c) is deterministic and identical across engines — left as double.
- Never ROUND doubles at midpoint-capable digits (engines disagree on
  double midpoint rounding); round decimals instead.
- Window/rank orders always include a unique tiebreaker (W6).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import wraps

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        # Cache-release discipline (round 14, VERDICT r13 #5): building
        # a query releases every ledger-registered persist of OTHER
        # queries — queries return lazy plans, so release cannot
        # happen inside the producing function without voiding the
        # persist; deferring to the next different-query build bounds
        # any long-lived session to one query's cached blocks while
        # keeping same-query rebuilds warm (see caching.begin_query).
        # No registered query calls another registered query (verified
        # round 14), so a build never releases its own intermediates.
        @wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from osmart_etl_spark import caching

            caching.begin_query(name)
            try:
                return fn(spark, sf_dir)
            finally:
                # a persist made after the build (a pipeline, a test) is
                # untagged, so the next build of ANY query releases it
                caching._CURRENT = None

        REGISTRY[name] = QueryDef(fn=wrapped, oracle=oracle, tags=tags)
        return wrapped

    return deco


def dec(col):
    """Exact-money cast: double → DECIMAL(18,2) (lossless for testdata)."""
    return col.cast("decimal(18,2)")


def dbl(col):
    return col.cast("double")


def queries() -> dict[str, QueryFn]:
    return {name: qd.fn for name, qd in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle is not None}
