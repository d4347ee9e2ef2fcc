"""Named workload registry: the driver-facing query surface.

Every implemented operator from SURVEY.md §2 registers here as a named
workload: a Spark builder `(spark, sf_dir) -> DataFrame` plus (when the
semantics are SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the
same parquet tables. `__spark_entry__.queries()/oracle_sql()` simply expose
this registry.

Workloads are grouped by family, one module per family; `load_all` imports
every module in this package, so a new family module needs no edit here.
A workload's name prefix says where it lives:

  tpch_queries           tpch
  aggregation_queries    agg, cube, grouping, having, percentile, pivot,
                         rollup, unpivot, window
  relational             join, setop, subquery, scalar, array, explode,
                         sort, sql, range, distinct, date, orders
  timeseries_queries     timeseries
  stats_queries          stats, regression, pareto, alloc
  ml_queries             ml, reco
  event_queries          events, cohort, rfm, sketch
  text_queries           text
  graph_linkage_queries  graph, er
  similarity_queries     sim, embedding
  dedup_queries          dedup
  streaming_queries      stream
  ledger_queries         ledger
  governance_queries     dq, source, layout
  pipeline_queries       scd2, incremental
  curation_queries       sample, train, split
  asof_queries           asof
  multimodal_queries     multimodal
  table_queries          cdc, snapshot, table

Workloads that joined a family module before this layout keep their place
where their prefix points elsewhere (e.g. `timeseries_twap` and
`features_user_daily` in event_queries, `sketch_countmin_token_counts` in
text_queries, `dq_profile_orders` in pipeline_queries,
`join_events_to_runs` in ledger_queries); `Workload.fn.__module__` is the
authority.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Workload:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = field(default="")


REGISTRY: dict[str, Workload] = {}


def workload(name: str, oracle: str | None = None):
    """Register a named workload; `oracle` is ANSI SQL for DuckDB or None
    for non-SQL-expressible operators (driver falls back to rows-only)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate workload {name!r}")
        REGISTRY[name] = Workload(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def load_all() -> dict[str, Workload]:
    """Import every module in this package (registration is an import
    side-effect), so adding or removing a family module needs no edit here."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    return REGISTRY
