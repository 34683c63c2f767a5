"""End-to-end ETL orchestration + registry tests."""

from __future__ import annotations

import json
import os

import pytest

from clearcare_data_pipeline_spark.etl import export_reference_csv, run_etl
from clearcare_data_pipeline_spark.schema import REFERENCE_HEADERS, REGISTRY_SCHEMA
from clearcare_data_pipeline_spark.sources.registry import (
    CampusNotFound,
    load_registry,
    lookup_campus,
    upsert_campus,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def registry_path(spark, tmp_path):
    path = str(tmp_path / "registry.parquet")
    rows = [
        tuple(
            {
                "campus_id": "general_springfield",
                "hospital_name": "General Hospital",
                "zip_code": "12345",
                "structure": "tall csv",
            }.get(c)
            for c in REGISTRY_SCHEMA.fieldNames()
        )
    ]
    spark.createDataFrame(rows, REGISTRY_SCHEMA).write.mode("overwrite").parquet(path)
    return path


def test_registry_lookup_and_upsert(spark, registry_path):
    reg = load_registry(spark, registry_path)
    row = lookup_campus(reg, "general_springfield")
    assert row["hospital_name"] == "General Hospital"
    with pytest.raises(CampusNotFound):
        lookup_campus(reg, "nope")
    upsert_campus(spark, registry_path, "general_springfield", {"etl_status": "done"})
    upsert_campus(spark, registry_path, "new_campus", {"hospital_name": "New One"})
    reg2 = load_registry(spark, registry_path)
    assert reg2.count() == 2
    assert lookup_campus(reg2, "general_springfield")["etl_status"] == "done"
    assert lookup_campus(reg2, "new_campus")["hospital_name"] == "New One"


@pytest.mark.slow
def test_run_etl_tall_end_to_end(spark, registry_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=out,
        user="tester",
    )
    assert res.clean_rows + res.quarantined_rows == 8
    clean = spark.read.parquet(res.clean_path)
    assert clean.count() == res.clean_rows
    assert all(r["hospital_name"] == "General Hospital" for r in clean.collect())
    with open(res.devlog_path) as f:
        devlog = json.load(f)
    assert devlog[-1]["transparency_score"] == res.score
    assert devlog[-1]["unknown_code_types"] == {"LOCAL": 1}
    # registry updated (J4/K6)
    row = lookup_campus(load_registry(spark, registry_path), "general_springfield")
    assert row["etl_status"] == "processed"
    assert row["processed_by"] == "tester"
    assert float(row["transparency_score"]) == pytest.approx(res.score)


def test_run_etl_format_dispatch_errors(spark, registry_path, tmp_path):
    with pytest.raises(ValueError, match="Unsupported format"):
        run_etl(
            spark,
            campus_id="general_springfield",
            raw_path=f"{FIX}/tall.csv",
            registry_path=registry_path,
            output_dir=str(tmp_path / "o"),
            file_format="excel",
        )


def test_run_etl_releases_cached_frames(spark, registry_path, tmp_path):
    """run_etl persists the tagged frame for its sinks and metrics and
    must release it: the session holds no more persisted RDDs after the
    call than before it."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=str(tmp_path / "out"),
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


@pytest.mark.slow
def test_run_etl_twice_appends_devlog(spark, registry_path, tmp_path):
    out = str(tmp_path / "out")
    kw = dict(
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=out,
    )
    run_etl(spark, **kw)
    res2 = run_etl(spark, **kw)
    with open(res2.devlog_path) as f:
        assert len(json.load(f)) == 2


@pytest.mark.slow
def test_export_reference_csv(spark, registry_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=out,
    )
    csv_dir = str(tmp_path / "export_csv")
    export_reference_csv(spark.read.parquet(res.clean_path), csv_dir)
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.columns == REFERENCE_HEADERS
    assert back.count() == res.clean_rows


def test_write_jdbc_validates_and_reaches_jdbc_layer(spark, tmp_path):
    """K7 parity-plus: the sink rejects bad modes up front, and with no
    JDBC driver on the classpath the configured write surfaces the JVM's
    driver-resolution error (proof the plumbing reaches the JDBC data
    source, the only integration available in this sandbox)."""
    import pytest

    from clearcare_data_pipeline_spark.etl import write_jdbc

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    with pytest.raises(ValueError, match="save mode"):
        write_jdbc(df, "jdbc:sqlite:x.db", "t", mode="replace")
    with pytest.raises(Exception, match="(?i)driver|jdbc"):
        write_jdbc(
            df, f"jdbc:sqlite:{tmp_path}/t.db", "t", mode="overwrite", num_partitions=1
        )
