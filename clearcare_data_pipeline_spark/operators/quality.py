"""Declarative data-quality constraint checking (deequ-style, Spark-first).

A constraint suite runs as ONE aggregation job regardless of how many
row-level checks it contains: each check contributes a conditional-sum
column to a single wide ``agg``, and the wide row is exploded back to
one row per check (same one-pass trick as operators/profiling.py).
Key-uniqueness checks need their own keyed aggregation (a groupBy on
the key), so they run as one extra job each and union into the report.

At 100 TB this means a 20-check suite over lineitem costs one full
scan with map-side partial aggregation (no shuffle of data rows — only
the 1-row partial aggregates move) plus one keyed shuffle per
uniqueness constraint — the floor for exact semantics.

Row-check NULL semantics: a row where the predicate evaluates to NULL
counts as a VIOLATION (the constraint "l_quantity BETWEEN 1 AND 50"
is not satisfied by a NULL quantity). Mirror in SQL with
``NOT coalesce(pred, FALSE)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_check_report(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Evaluate row-level boolean constraints in one pass.

    ``checks`` maps check name -> boolean Column; returns one row per
    check: (check_name, n_rows, n_violations, passed).
    """
    aggs = [F.count(F.lit(1)).alias("_total")]
    for name, pred in checks.items():
        aggs.append(
            F.sum(F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)).alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    entries = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.col("_total").alias("n_rows"),
            F.col(f"_v_{name}").alias("n_violations"),
            (F.col(f"_v_{name}") == 0).alias("passed"),
        )
        for name in checks
    ]
    return wide.select(F.explode(F.array(*entries)).alias("r")).select("r.*")


def uniqueness_report(df: DataFrame, key_cols: list[str], check_name: str | None = None) -> DataFrame:
    """Key-uniqueness constraint: n_violations = rows beyond the first
    occurrence of each key (0 when the key is unique). NULL keys group
    together, matching SQL GROUP BY."""
    name = check_name or ("unique_" + "_".join(key_cols))
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    return per_key.agg(
        F.lit(name).alias("check_name"),
        F.sum("_n").alias("n_rows"),
        (F.sum("_n") - F.count(F.lit(1))).alias("n_violations"),
        (F.sum("_n") == F.count(F.lit(1))).alias("passed"),
    )


def quality_report(
    df: DataFrame,
    row_checks: dict[str, Column],
    unique_keys: list[list[str]] | None = None,
) -> DataFrame:
    """Full suite: row checks (one job) + uniqueness checks (one keyed
    agg each), unioned into a single long-format report."""
    report = row_check_report(df, row_checks)
    for keys in unique_keys or []:
        report = report.unionByName(uniqueness_report(df, keys))
    return report
