"""Single-pass DQ rule execution.

Capability parity (SURVEY.md §2.11 Q1-Q4): reference ``data_quality.py``
runs each rule as its own Spark action — Q1 unique (``:50-68``), Q2 not-null
(``:70-87``), Q3 arbitrary-SQL (``:89-108``), orchestration + HTML
(``:110-223``) — plus an extra ``df.count()`` (``:127``): N rules ⇒ N+1 full
scans.

Here a whole rule config is ONE query and ONE Spark action. The total count
and every not-null rule are fused into one conditional aggregation
(``F.sum(F.when(pred, 1))`` — the fix SURVEY §2.11 calls for); each unique
rule is a 1-row ``groupBy → count > 1 → agg`` and each query rule a 1-row
``count`` over the user's SQL; the 1-row aggregates are unioned and read with
a single ``collect()``. Because they sit in one plan, the subtrees that read
the input share its exchanges (ReuseExchange), so an expensive input plan — a
landing batch's scans and joins — is evaluated once per rule config instead
of once per rule group. A union rather than a cross join of the 1-row
aggregates: the cross join broadcasts each of them, one extra Spark job per
unique or query rule.
"""

from __future__ import annotations

import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.dq.rules import DQConfig, RuleResult
from datapipelines_essentials_python_spark.functions.audit import source_file_name
from datapipelines_essentials_python_spark.functions.nulls import is_null_or_blank


def _not_null_violation_pred(columns: tuple[str, ...]):
    """Reference semantics (data_quality.py:70-87): a row violates when ANY
    listed column is NULL or blank (ORed)."""
    return reduce(lambda a, b: a | b, [is_null_or_blank(c) for c in columns])


def execute_rules(
    spark: SparkSession, df: DataFrame, config: DQConfig
) -> tuple[bool, list[RuleResult]]:
    """Run all rules as one Spark action; returns (all_passed, one result per
    configured rule, in config order).

    Every 1-row aggregate is keyed by rule position, not ``rule_id``, so
    rules that share an id still get a result each.

    Query rules read the batch as ``temp``: a CTE of that name over a view
    registered under a per-call name, so neither a caller's own ``temp``
    view nor a concurrent call on the same session is touched. The view is
    dropped before returning.
    """
    kinds = [r.rule_type.strip().lower() for r in config.rules]
    view = f"__dq_{uuid.uuid4().hex}"
    if "query" in kinds:
        df.createOrReplaceTempView(view)
    try:
        # each part is one (key, counts) row; key 0 is the fused aggregate
        # [total, one count per not-null rule], key i the unique or query rule
        # at position i (1-based); slots[i - 1] says where rule i's count is
        fused = [F.count(F.lit(1))]
        parts, slots = [], []
        for i, (r, kind) in enumerate(zip(config.rules, kinds), start=1):
            if kind == "not null":
                slots.append((0, len(fused)))
                fused.append(F.sum(F.when(_not_null_violation_pred(r.columns), 1).otherwise(0)))
                continue
            if kind == "unique":
                part = (
                    df.groupBy(*r.columns)
                    .agg(F.count(F.lit(1)).alias("__cnt"))
                    .where(F.col("__cnt") > 1)
                    .agg(
                        F.lit(i),
                        F.array(
                            F.coalesce(F.sum(F.col("__cnt") - 1), F.lit(0)),  # duplicate rows
                            F.count(F.lit(1)),  # duplicate keys
                        ),
                    )
                )
            else:
                # a statement's trailing ``;`` is not legal in a subquery, and
                # the newlines keep a trailing ``--`` comment off the ``)``
                rule_sql = r.query.rstrip("; \t\r\n")
                query = f"WITH temp AS (SELECT * FROM {view}) SELECT * FROM (\n{rule_sql}\n)"
                part = spark.sql(query).agg(F.lit(i), F.array(F.count(F.lit(1))))
            parts.append(part)
            slots.append((i, 0))
        parts.insert(0, df.agg(F.lit(0), F.array(*fused)))
        counts = dict(reduce(DataFrame.union, parts).collect())
    finally:
        if "query" in kinds:
            spark.catalog.dropTempView(view)

    total = counts[0][0]
    results = []
    for r, kind, (key, pos) in zip(config.rules, kinds, slots):
        violations = int(counts[key][pos] or 0)
        if kind == "not null":
            detail = f"columns={list(r.columns)}"
        elif kind == "unique":
            detail = f"duplicate keys={counts[key][1]} over columns={list(r.columns)}"
        else:
            detail = "nonzero rows from rule query = violations"
        results.append(
            RuleResult(
                rule_id=r.rule_id,
                name=r.name,
                rule_type=r.rule_type,
                passed=violations == 0,
                violation_count=violations,
                total_count=total,
                detail=detail,
            )
        )
    return all(r.passed for r in results), results


def file_completeness(
    df: DataFrame, expected_files: list[str]
) -> DataFrame:
    """Missing-input-file check — the reference's rule 1013 anti-join shape
    (``conf/data-quality/rules/production_configs/recipe-task1-dq-rules.json``):
    every expected file name that no scanned row reports via
    ``input_file_name()`` is a violation row.

    Returns ``(missing_file)``. Scale shape: the distinct file-name side
    collapses to one row per input file at the scan (map-side partial
    aggregation over a name-only projection); the expected list is a tiny
    local relation, so the anti-join broadcasts. Zero rows = rule passes.
    """
    spark = df.sparkSession
    seen = df.select(source_file_name().alias("missing_file")).distinct()
    expected = spark.createDataFrame(
        [(name,) for name in expected_files], "missing_file string"
    )
    return expected.join(seen, "missing_file", "left_anti")


def dq_summary_df(spark: SparkSession, results: list[RuleResult]) -> DataFrame:
    """Rule results as a DataFrame (for sinks/reporting)."""
    rows = [
        (r.rule_id, r.name, r.rule_type, r.passed, r.violation_count, r.total_count, r.detail)
        for r in results
    ]
    return spark.createDataFrame(
        rows,
        "rule_id string, name string, rule_type string, passed boolean, "
        "violation_count long, total_count long, detail string",
    )


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-pass column profile: total rows + per-column null and distinct
    counts, returned long-format ``(n_rows, col_name, n_nulls,
    n_distinct)`` — one row per profiled column.

    The whole profile is a SINGLE aggregation over one scan (2·N aggregate
    expressions, partial map-side); the long-format pivot is a ``stack``
    over the one-row result, so cost is one pass regardless of how many
    columns are profiled. The standard first look at an unknown 100 TB
    table before writing DQ rules against it.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"__nl_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"__nd_{c}"))
    row = df.agg(*aggs)
    pairs = ", ".join(f"'{c}', __nl_{c}, __nd_{c}" for c in columns)
    return row.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(columns)}, {pairs}) AS (col_name, n_nulls, n_distinct)"
        ),
    )


def fd_violations(
    df: DataFrame,
    dependencies: list[tuple[str, str]],
) -> DataFrame:
    """Functional-dependency violation profile: for each candidate
    ``A → B``, how many A-values map to MORE than one distinct B — the
    schema-inference / data-contract check behind "is this column a
    lookup of that one?" (order → customer, zip → city, code → label).
    Zero violating keys means the dependency HOLDS on this data.

    One pass per dependency, each a (A)-keyed count-distinct with
    map-side partials (state bounded by |distinct A|), folded into one
    dependency-cardinality summary — rule count never multiplies scans
    of anything corpus-sized beyond the keyed aggs themselves.

    → ``(determinant, dependent, n_keys, n_violating_keys, max_images)``
    per dependency: distinct A count, A-values with ≥ 2 images, and the
    worst key's image count.
    """
    if not dependencies:
        raise ValueError("fd_violations needs at least one (A, B) pair")
    outs = []
    for a, b in dependencies:
        images = df.groupBy(F.col(a).alias("__k")).agg(
            F.countDistinct(F.col(b)).cast("long").alias("__imgs")
        )
        outs.append(
            images.agg(
                F.lit(a).alias("determinant"),
                F.lit(b).alias("dependent"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum((F.col("__imgs") > 1).cast("long"))
                .cast("long")
                .alias("n_violating_keys"),
                F.max("__imgs").alias("max_images"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
