"""Driver-contract query catalog.

Each query demonstrates one (or a tight group) of the operators in
SURVEY.md §2 over the driver testdata tables. It is declared once, in
its family module, with `@register(oracle=...)` holding its exact
DuckDB oracle. Conventions that make the driver's row-count + schema +
value-hash comparison deterministic:

  - every computed column is aliased identically in both engines;
  - float outputs are ROUND()ed (sum-order differences live far below
    the rounding grain); money sums use an exact integer-cents trick;
  - timestamps are emitted as formatted strings (Spark session TZ may
    differ from DuckDB's naive timestamps);
  - ranking ties are broken by a unique key column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[Query, str | Callable[[], str]]] = {}


def register(oracle: str | Callable[[], str]) -> Callable[[Query], Query]:
    """Catalog `fn` under its own name with its DuckDB oracle: the SQL
    text, or a function that builds it on each `oracle_sql()` call."""

    def add(fn: Query) -> Query:
        if fn.__name__ in _REGISTRY:
            raise ValueError(f"catalog query {fn.__name__!r} registered twice")
        _REGISTRY[fn.__name__] = (fn, oracle)
        return fn

    return add


def queries() -> dict[str, Query]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name, (_, oracle) in _REGISTRY.items():
        if callable(oracle):
            try:
                oracle = oracle()
            except OSError:
                # oracle-gate testdata absent (e.g. packaged run on a
                # cluster): the query falls back to the rows-only check
                continue
        out[name] = oracle
    return out


# importing a family module registers its queries; the names below are
# the ones __spark_entry__.py and bench.py read from this package
from . import audio, multimodal, relational, sketches, text  # noqa: E402,F401
from .common import _t  # noqa: E402,F401
from .curation import flagship  # noqa: E402,F401
from .vectors import (  # noqa: E402,F401
    _LSH_DIM,
    _LSH_PLANES,
    _LSH_SCALE,
    _LSH_TABLES,
    _lsh_contract_planes,
)
