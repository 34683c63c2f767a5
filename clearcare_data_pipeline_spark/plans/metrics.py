"""Devlog metrics & transparency score (SURVEY.md §2.6 A1-A12).

The reference accumulates ~10 counter families in one Python loop; here
each family is a declarative aggregation and the scalar families share
a single ``agg()`` pass (Catalyst computes them in one scan with
map-side partial aggregation — the Spark analog of the reference's
single-pass counters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.cleaning import modifiers_to_array_expr
from clearcare_data_pipeline_spark.plans.rules import RULE_NAMES
from clearcare_data_pipeline_spark.schema import ALLOWED_CODE_TYPES, CANONICAL_COLUMNS


def field_presence(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A1: one row; per-column count of present (non-null, non-blank
    for strings) values."""
    columns = columns or [c for c in CANONICAL_COLUMNS if c in df.columns]
    aggs = []
    for name in columns:
        field = df.schema[name]
        present = F.col(name).isNotNull()
        if field.dataType.typeName() == "string":
            present = present & (F.trim(F.col(name)) != "")
        aggs.append(F.count(F.when(present, F.lit(1))).alias(name))
    return df.agg(*aggs)


def code_type_histogram(df: DataFrame) -> DataFrame:
    """A2: counts per normalized code type."""
    return (
        df.where(F.col("code_type").isNotNull())
        .groupBy("code_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def missing_code_types(df: DataFrame) -> list[str]:
    """A4: allowed types never observed (driver-side set diff on a
    broadcast-scale aggregate)."""
    seen = {r["code_type"] for r in code_type_histogram(df).collect()}
    return [t for t in ALLOWED_CODE_TYPES if t not in seen]


def modifier_counts(df: DataFrame) -> DataFrame:
    """A6: per-modifier token counts (explode the normalized list)."""
    return (
        df.select(F.explode(modifiers_to_array_expr(F.col("modifiers"))).alias("modifier"))
        .groupBy("modifier")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def violation_counts(tagged: DataFrame) -> DataFrame:
    """A8+A9: one row; per-rule violation totals (+ algorithm-format
    flag when present) — a single agg pass over the tagged plan."""
    aggs = [F.sum(F.col(r).cast("long")).alias(r) for r in RULE_NAMES if r in tagged.columns]
    if "negotiated_algorithm_invalid" in tagged.columns:
        aggs.append(
            F.sum(F.col("negotiated_algorithm_invalid").cast("long")).alias("algorithm_format_issues")
        )
    aggs.append(F.count(F.lit(1)).alias("total_rows"))
    aggs.append(
        F.count(F.when(F.col("rules_violated") != "", F.lit(1))).alias("quarantined_rows")
    )
    return tagged.agg(*aggs)


def transparency_score(clean_rows: int, per_rule_counts: dict[str, int]) -> float:
    """A11 (cleaning_utils.py:214-216): ``max(0, 1 - V / (N * 10))``
    where V = sum of per-rule counts (a row violating k rules counts k
    times — the reference's double-counting is intentional semantics)
    and N = clean rows + V.
    """
    total_violations = sum(per_rule_counts.values())
    total_examined = clean_rows + total_violations
    if total_examined == 0:
        return 0.0
    return max(0.0, 1.0 - total_violations / (total_examined * 10))
