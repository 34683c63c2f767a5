"""Seeded input preparation for the benchmark workloads.

Everything is derived from ``--seed`` and written under the run's own
work directory; the engine only ever sees the resulting files.

* TPC-H-shaped parquet tables come from ``tools/make_testdata.generate``.
  Its two fixed dimensions (region, nation) are written here rather than
  copied from a reference dataset, so preparation needs nothing outside
  the checkout.
* The hospital MRF file (tall CSV) comes from the fixture builder in
  ``queries/extractors.py``, which derives it from the lineitem table
  with DuckDB.
* The hospital registry is a parquet dimension padded to 1,000 campuses.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale factors, chosen so that one run of a workload (JVM start, a cold
# pass, the measured passes and the output checks) fits in about a
# minute on a 4-core host; see README.md.
ETL_SF = 0.01
QUERY_SF = 0.02
REGISTRY_SIZE = 1000
ZIP_CODE = "73301"  # the zip the extractor oracles project

# MRF fixture kind -> registry structure. The wide CSV and CMS JSON
# layouts are left out to keep one run inside its time budget (see
# README.md).
ETL_LAYOUTS = {"tall": "tall csv"}


def _write_dimensions(ref_dir: str) -> None:
    """TPC-H region and nation, with the key types the generated
    tables join on."""
    os.makedirs(ref_dir, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }), os.path.join(ref_dir, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }), os.path.join(ref_dir, "nation.parquet"))


def make_dataset(sf: float, out: str, seed: int, scratch: str) -> dict[str, int]:
    """Generate one dataset; returns rows per table."""
    import make_testdata

    ref_dir = os.path.join(scratch, "dimensions")
    _write_dimensions(ref_dir)
    make_testdata.REF_SF01 = ref_dir
    with contextlib.redirect_stdout(sys.stderr):
        make_testdata.generate(sf, out, seed)
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
        for f in sorted(os.listdir(out))
        if f.endswith(".parquet")
    }


def _mrf_rows(path: str) -> int:
    """Data rows of one MRF CSV file: body lines after the 2-line
    preamble and the header."""
    with open(path) as f:
        return sum(1 for _ in f) - 3


def _write_registry(path: str, campuses: dict[str, str], rng: np.random.Generator) -> None:
    from clearcare_data_pipeline_spark.schema import REGISTRY_COLUMNS

    ids = [f"campus-{i:04d}" for i in range(REGISTRY_SIZE)]
    slots = rng.choice(REGISTRY_SIZE, len(campuses), replace=False)
    structures = np.array(["tall csv", "wide csv", "json"])[rng.integers(0, 3, REGISTRY_SIZE)]
    rows = {c: [None] * REGISTRY_SIZE for c in REGISTRY_COLUMNS}
    for i in range(REGISTRY_SIZE):
        rows["campus_id"][i] = ids[i]
        rows["hospital_name"][i] = f"Padding Hospital {i}"
        rows["zip_code"][i] = f"{rng.integers(10000, 99999)}"
        rows["structure"][i] = str(structures[i])
    for slot, (campus_id, structure) in zip(slots, campuses.items()):
        rows["campus_id"][slot] = campus_id
        # No registry name: the extractor takes the MRF preamble's,
        # exactly as the extractor oracle expects.
        rows["hospital_name"][slot] = None
        rows["zip_code"][slot] = ZIP_CODE
        rows["structure"][slot] = structure
    table = pa.table({c: pa.array(rows[c], pa.string()) for c in REGISTRY_COLUMNS})
    pq.write_table(table, path)


def prepare(workload: str, seed: int, work_dir: str) -> dict:
    """Write the workload's inputs under ``work_dir``; returns the
    input description recorded in the run record."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    scratch = os.path.join(work_dir, "prep")
    if workload == "etl_mrf":
        sf_dir = os.path.join(work_dir, f"sf{ETL_SF}")
        tables = make_dataset(ETL_SF, sf_dir, seed, scratch)
        from clearcare_data_pipeline_spark.queries import extractors

        files = {kind: extractors._build_csv(sf_dir, kind) for kind in ETL_LAYOUTS}
        campuses = {f"bench-{kind}": kind for kind in files}
        registry = os.path.join(work_dir, "registry.parquet")
        _write_registry(registry, {c: ETL_LAYOUTS[k] for c, k in campuses.items()}, rng)
        inputs = {
            "sf": ETL_SF,
            "sf_dir": sf_dir,
            "tables": tables,
            "registry": registry,
            "registry_campuses": REGISTRY_SIZE,
            "campuses": {
                c: {
                    "kind": k,
                    "path": files[k],
                    "bytes": os.path.getsize(files[k]),
                    "rows": _mrf_rows(files[k]),
                }
                for c, k in campuses.items()
            },
        }
    else:
        sf_dir = os.path.join(work_dir, f"sf{QUERY_SF}")
        inputs = {"sf": QUERY_SF, "sf_dir": sf_dir, "tables": make_dataset(QUERY_SF, sf_dir, seed, scratch)}
    inputs["prep_s"] = time.perf_counter() - t0
    return inputs


def describe(inputs: dict) -> dict:
    """The inputs as the run record gives them: sizes, row counts and
    preparation time, without the run's file paths."""
    out = {k: v for k, v in inputs.items() if k not in ("sf_dir", "registry", "campuses")}
    if "campuses" in inputs:
        out["campuses"] = {
            c: {k: v for k, v in info.items() if k != "path"} for c, info in inputs["campuses"].items()
        }
    return out
