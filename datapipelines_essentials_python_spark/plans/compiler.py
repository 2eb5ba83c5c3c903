"""Metadata → DataFrame pipeline compiler.

Capability parity (SURVEY.md §2.2 P1-P2, §2.4 A1-A2, §3.2): the reference
compiles metadata rows into SQL-string fragments —
``CAST(udf(col, args) AS type) AS tgt`` select lists
(``MetaModel.py:298-322``, ``CColumn.py:32-52``), WHERE clauses from the
filter DSL (``ITable.py:40-66``), GROUP BY/HAVING blocks
(``MetaModel.py:381-399``) — and runs them through ``selectExpr`` /
``spark.sql``. Its DataFrame aggregation path is visibly unfinished
(``ETLTransform.py:83-97``); this compiler completes those semantics.

Everything here emits ``Column`` objects. The generated plan is:

    read sources → per-table project/cast/udf/filter → pk/fk join fold
    → groupBy(non-aggregated) agg(aggregated) → HAVING filters

which Catalyst sees as one declarative tree: filters push to the scans,
projections prune columns at the parquet reader, and join order/strategy
stay optimizer-owned.

``compile()`` then stages that plan: one eager ``localCheckpoint()`` runs it
once and keeps the rows in the executors' block managers. Every consumer of
a landing batch (CDC, DQ rules, each write) reads the staged rows instead
of re-running the scans, joins and aggregates, and can no longer see a
source file change or vanish between two of them. The staged blocks live
as long as the returned DataFrame: Spark frees them when it is
garbage-collected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.errors import MetadataValidationError
from datapipelines_essentials_python_spark.expr.filter_dsl import compile_filter
from datapipelines_essentials_python_spark.expr.registry import resolve_function
from datapipelines_essentials_python_spark.io.readers import read_data
from datapipelines_essentials_python_spark.plans.datamodel import DataModel
from datapipelines_essentials_python_spark.plans.join_planner import execute_joins, plan_joins
from datapipelines_essentials_python_spark.plans.metadata import ColumnSpec, TableSpec

# Aggregate dispatch — parity with ``mapAggregationFunction``
# (ETLTransform.py:41-51: min,max,count,sum,avg) plus the extensions SURVEY
# §2.4 recommends.
AGGREGATORS = {
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "mean": F.avg,
    "count_distinct": F.count_distinct,
    "approx_count_distinct": F.approx_count_distinct,
    "collect_set": F.collect_set,
    "collect_list": F.collect_list,
    "first": F.first,
    "last": F.last,
    "stddev": F.stddev,
    "variance": F.variance,
}


def compile_column(spec: ColumnSpec) -> Column:
    """One metadata row → ``cast(udf(col, args) as type).alias(target)``.

    Mirrors the reference's generated fragment (CColumn.py:32-52) with the
    UDF resolved from the native-function registry instead of a registered
    Python UDF.
    """
    col: Column = F.col(spec.src_col)
    if spec.udf:
        col = resolve_function(spec.udf)(col, *spec.udf_args)
    # aggregated columns are cast AFTER the aggregate (see aggregate());
    # casting the raw input would break e.g. count over a string column
    if not spec.aggregator:
        col = col.cast(spec.target_type)
    return col.alias(spec.target_col)


class PipelineCompiler:
    """Compile (TableSpecs, DataModel, main table) → one staged DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        tables: list[TableSpec],
        model: DataModel | None = None,
        main_table: str | None = None,
        broadcast_tables: set[str] | None = None,
    ) -> None:
        if not tables:
            raise MetadataValidationError("no table specs given")
        self.spark = spark
        self.tables = {t.name: t for t in tables}
        self.model = model
        self.main_table = main_table or tables[0].name
        self.broadcast_tables = broadcast_tables or set()

    # -- binding ------------------------------------------------------------
    def read_sources(self, overrides: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
        """Bind each TableSpec to a DataFrame (parity: readSourceFilesIntoDF,
        MetaModel.py:251-275). ``overrides`` lets tests/callers inject
        pre-built DataFrames instead of paths."""
        out: dict[str, DataFrame] = {}
        for name, spec in self.tables.items():
            if overrides and name in overrides:
                out[name] = overrides[name]
            else:
                if not spec.path:
                    raise MetadataValidationError(f"table {name!r} has no path and no override")
                out[name] = read_data(
                    self.spark, spec.filetype, spec.path, options=spec.options
                )
        return out

    # -- per-table stage ----------------------------------------------------
    def project_table(
        self, df: DataFrame, spec: TableSpec, join_keys: list[str] | None = None
    ) -> DataFrame:
        """Apply source-side filters then the projection/cast/udf/alias list.

        Filters are applied on *source* columns before projection (as the
        reference does — ITable.py:125-145), which lets Catalyst push them
        into the scan. ``join_keys`` are source columns the join fold needs;
        they're carried through under reserved ``__jk_<table>_<col>`` aliases
        (the reference similarly appends pk/fk columns to the generated
        select list, ITable.py:125-145) and dropped after the joins.
        """
        pred: Column | None = None
        for col_spec in spec.columns:
            if col_spec.filter:
                clause = compile_filter(col_spec.src_col, col_spec.filter)
                pred = clause if pred is None else (pred & clause)
        if pred is not None:
            df = df.where(pred)
        exprs = [compile_column(c) for c in spec.columns]
        for key in join_keys or []:
            exprs.append(F.col(key).alias(_jk(spec.name, key)))
        return df.select(*exprs)

    # -- aggregation stage --------------------------------------------------
    def aggregate(self, df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
        """GROUP BY every non-aggregated target column; aggregate the rest;
        apply aggregator_filter as HAVING (parity: MetaModel.py:381-399)."""
        agg_specs = [s for s in specs if s.aggregator]
        if not agg_specs:
            return df
        group_cols = [s.target_col for s in specs if not s.aggregator]
        agg_exprs = []
        for s in agg_specs:
            fn = AGGREGATORS.get(s.aggregator.strip().lower())
            if fn is None:
                raise MetadataValidationError(
                    f"unknown aggregator {s.aggregator!r}; known: {sorted(AGGREGATORS)}"
                )
            agg_exprs.append(fn(s.target_col).cast(s.target_type).alias(s.target_col))
        out = (
            df.groupBy(*group_cols).agg(*agg_exprs) if group_cols else df.agg(*agg_exprs)
        )
        having: Column | None = None
        for s in agg_specs:
            if s.aggregator_filter:
                clause = compile_filter(s.target_col, s.aggregator_filter)
                having = clause if having is None else (having & clause)
        if having is not None:
            out = out.where(having)
        return out

    # -- full pipeline ------------------------------------------------------
    def compile(self, overrides: dict[str, DataFrame] | None = None) -> DataFrame:
        """read → project → join fold → aggregate → HAVING, run once.

        The plan is staged by an eager ``localCheckpoint()``, which runs it
        once: the returned DataFrame reads the staged rows, so callers that
        use it several times do not re-read the sources. Its blocks are
        freed when the DataFrame is garbage-collected.
        """
        sources = self.read_sources(overrides)
        steps: list = []
        join_keys: dict[str, set[str]] = {name: set() for name in self.tables}
        if self.model is not None and len(self.tables) > 1:
            steps = plan_joins(self.model, self.main_table)
            steps = [s for s in steps if s.table in self.tables and s.child in self.tables]
            for step in steps:
                join_keys[step.child].update(step.child_cols)
                join_keys[step.table].update(step.parent_cols)
        projected = {
            name: self.project_table(df, self.tables[name], sorted(join_keys[name]))
            for name, df in sources.items()
        }
        if steps:
            # rewrite steps against the reserved join-key aliases
            aliased = [
                type(s)(
                    child=s.child,
                    table=s.table,
                    child_cols=tuple(_jk(s.child, c) for c in s.child_cols),
                    parent_cols=tuple(_jk(s.table, c) for c in s.parent_cols),
                    how=s.how,
                )
                for s in steps
            ]
            joined = execute_joins(projected, self.main_table, aliased, self.broadcast_tables)
        else:
            joined = projected[self.main_table]
        all_specs = [c for t in self.tables.values() for c in t.columns]
        dupes = {s.target_col for s in all_specs} if len(all_specs) == len(
            {s.target_col for s in all_specs}
        ) else None
        if dupes is None:
            seen_counts: dict[str, int] = {}
            for s in all_specs:
                seen_counts[s.target_col] = seen_counts.get(s.target_col, 0) + 1
            raise MetadataValidationError(
                "duplicate target columns across tables: "
                f"{sorted(c for c, n in seen_counts.items() if n > 1)}"
            )
        joined = joined.select(*[F.col(s.target_col) for s in all_specs])
        return self.aggregate(joined, all_specs).localCheckpoint(eager=True)


def _jk(table: str, col: str) -> str:
    """Reserved alias for a join-key column carried through projection."""
    return f"__jk_{table}_{col}"
