"""End-to-end ETL orchestration (SURVEY.md §3 lifecycle).

The Spark re-expression of ``ETL_pipeline.py``: registry lookup ->
format dispatch -> extract -> (parquet checkpoint) -> clean/validate/
score -> sinks (clean, quarantine, devlog) -> registry upsert.

The reference's file-based IR between stages is preserved as parquet
checkpoints: extraction output is materialized before cleaning (the
same boundary the reference crosses via
``data/extracted data/{system}/{campus_id}_extracted.csv``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.pipeline import run_cleaning_pipeline
from clearcare_data_pipeline_spark.plans import metrics as M
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS, REFERENCE_HEADERS
from clearcare_data_pipeline_spark.sources.extract_json import extract_json
from clearcare_data_pipeline_spark.sources.extract_tall import extract_tall
from clearcare_data_pipeline_spark.sources.extract_wide import extract_wide
from clearcare_data_pipeline_spark.sources.registry import lookup_campus, load_registry, upsert_campus

# C1: format dispatch (ETL_pipeline.py:19-38)
EXTRACTOR_DISPATCH = {
    "json": extract_json,
    "tall csv": extract_tall,
    "wide csv": extract_wide,
}


@dataclass
class EtlResult:
    campus_id: str
    clean_path: str
    quarantine_path: str
    devlog_path: str
    score: float
    clean_rows: int
    quarantined_rows: int


def run_etl(
    spark: SparkSession,
    *,
    campus_id: str,
    raw_path: str,
    registry_path: str,
    output_dir: str,
    user: str = "spark",
    file_format: str | None = None,
) -> EtlResult:
    registry = load_registry(spark, registry_path)
    campus = lookup_campus(registry, campus_id)
    fmt = (file_format or campus["structure"] or "").lower()
    if fmt not in EXTRACTOR_DISPATCH:
        raise ValueError(f"Unsupported format {fmt!r}; expected one of {sorted(EXTRACTOR_DISPATCH)}")

    # --- extract phase + checkpoint (file IR, reference parity) ------
    extracted = EXTRACTOR_DISPATCH[fmt](
        spark,
        raw_path,
        hospital_name=campus["hospital_name"] or "",
        zip_code=campus["zip_code"] or "",
    )
    extracted_path = os.path.join(output_dir, "extracted", campus_id)
    extracted.charges.write.mode("overwrite").parquet(extracted_path)
    charges = spark.read.parquet(extracted_path)

    # --- clean phase -------------------------------------------------
    result = run_cleaning_pipeline(charges)
    clean_path = os.path.join(output_dir, "cleaned", campus_id)
    quarantine_path = os.path.join(output_dir, "quarantine", campus_id)
    try:
        result.clean.write.mode("overwrite").parquet(clean_path)
        result.quarantine.write.mode("overwrite").parquet(quarantine_path)
    finally:
        # blocking: the cached blocks are gone when run_etl returns, so
        # their removal does not overlap the caller's next job
        result.tagged.unpersist(blocking=True)

    # --- devlog (K5): one JSON document of run metrics ---------------
    clean_df = spark.read.parquet(clean_path)
    presence = M.field_presence(clean_df).first().asDict()
    type_hist = {r["code_type"]: r["n"] for r in M.code_type_histogram(clean_df).collect()}
    unknown_hist = {r["raw_code_type"]: r["n"] for r in extracted.unknown_types.collect()}
    mod_counts = {r["modifier"]: r["n"] for r in M.modifier_counts(clean_df).collect()}
    now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    devlog = {
        "campus_id": campus_id,
        "processed_by": user,
        "processed_on": now,
        "source_format": fmt,
        "source_metadata": extracted.metadata,
        "field_presence": presence,
        "code_type_histogram": type_hist,
        "unknown_code_types": unknown_hist,
        "missing_code_types": M.missing_code_types(clean_df),
        "modifier_counts": mod_counts,
        "rule_violation_counts": result.rule_counts,
        "algorithm_format_issues": result.algorithm_format_issues,
        "clean_rows": result.clean_rows,
        "quarantined_rows": result.quarantined_rows,
        "transparency_score": result.score,
    }
    devlog_path = os.path.join(output_dir, "devlogs", f"{campus_id}.json")
    os.makedirs(os.path.dirname(devlog_path), exist_ok=True)
    existing = []
    if os.path.exists(devlog_path):
        with open(devlog_path) as f:
            existing = json.load(f)
    existing.append(devlog)
    with open(devlog_path, "w") as f:
        json.dump(existing, f, indent=2, default=str)

    # --- registry update phase (J4/K6) -------------------------------
    upsert_campus(
        spark,
        registry_path,
        campus_id,
        {
            "etl_status": "processed",
            "processed_by": user,
            "last_processed_on": now,
            "transparency_score": f"{result.score:.6f}",
            "issues_encountered": str(result.quarantined_rows),
            "file_format": fmt,
        },
    )

    return EtlResult(
        campus_id=campus_id,
        clean_path=clean_path,
        quarantine_path=quarantine_path,
        devlog_path=devlog_path,
        score=result.score,
        clean_rows=result.clean_rows,
        quarantined_rows=result.quarantined_rows,
    )


def write_jdbc(
    df,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    isolation_level: str = "READ_COMMITTED",
    **properties: str,
) -> None:
    """K7: relational sink via Spark's JDBC writer.

    The reference declares a Postgres dependency but ships no sink code
    (requirements.txt:12; hospital_enricher.py never opens a
    connection), so this is parity-plus: a thin adapter over
    ``df.write.jdbc`` with the two options that matter at scale —
    ``batchsize`` (rows per INSERT round-trip) and ``numPartitions``
    (concurrent connections; cap it well below the database's
    connection limit, executors x cores parallel writers is a DDoS on
    a single Postgres). Credentials ride in ``properties``
    (user/password/driver), never in the URL.
    """
    if mode not in ("append", "overwrite", "ignore", "error", "errorifexists"):
        raise ValueError(f"unsupported JDBC save mode: {mode!r}")
    out = df.coalesce(num_partitions) if num_partitions else df
    props = {
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
        **{k: str(v) for k, v in properties.items()},
    }
    out.write.jdbc(url, table, mode=mode, properties=props)


def export_reference_csv(df, path: str) -> None:
    """K1/K2: export canonical parquet back to the reference's exact
    CSV layout (space-separated headers, every field quoted)."""
    out = df
    for canon, ref in zip(CANONICAL_COLUMNS, REFERENCE_HEADERS):
        out = out.withColumnRenamed(canon, ref)
    (
        out.select(*[F.col(f"`{h}`").cast("string") for h in REFERENCE_HEADERS])
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
