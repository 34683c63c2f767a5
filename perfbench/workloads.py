"""The benchmark's workloads: the ops of one pass and their output checks.

An op is one call into the engine's public surface. A pass runs every
op of the workload once, in order, from a single client: each op starts
when the previous one ends (a closed loop).

Output checks run outside the timed region, after every op, and compare
against the DuckDB oracles with the order-insensitive compare of
``tools/verify_local.py``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
from dataclasses import dataclass
from typing import Callable

import duckdb

# Three warehouse queries and two training-data dedup queries, chosen so
# each layer the traced run reports has work to show: aggregation
# builds (q1), broadcast joins (q5), window sorts (running_order_total),
# the incremental minhash dedup operators with their localCheckpoint
# band frame (doc_incremental_minhash) and the vector similarity
# operators (emb_cosine_topk).
QUERY_MIX = [
    "q1_pricing_summary",
    "q5_regional_revenue",
    "running_order_total",
    "doc_incremental_minhash",
    "emb_cosine_topk",
]


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    rows_in: int
    input_bytes: int = 0


def duck_connection(sf_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    from clearcare_data_pipeline_spark.schema import TESTDATA_TABLES

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


# --- etl_mrf ---------------------------------------------------------------


def etl_ops(spark, inputs: dict, out_dir: str) -> list[Op]:
    from clearcare_data_pipeline_spark import etl

    def one(campus_id: str, path: str) -> Callable[[], object]:
        def run():
            # Looked up on the module at call time, so a traced run
            # sees the wrapped function.
            return etl.run_etl(
                spark,
                campus_id=campus_id,
                raw_path=path,
                registry_path=inputs["registry"],
                output_dir=out_dir,
            )

        return run

    return [
        Op(c, one(c, info["path"]), info["rows"], info["bytes"])
        for c, info in inputs["campuses"].items()
    ]


class EtlChecker:
    """Checks one ``run_etl`` output set: the extracted parquet against
    the layout's extractor oracle, and the devlog's counts against
    DuckDB counts over the written clean and quarantine parquet."""

    def __init__(self, inputs: dict, out_dir: str, temp_dir: str):
        self.inputs = inputs
        self.out_dir = out_dir
        self.con = duck_connection(inputs["sf_dir"], temp_dir)
        self._expected: dict[str, object] = {}

    def close(self) -> None:
        self.con.close()

    def _oracle(self, kind: str):
        if kind not in self._expected:
            from clearcare_data_pipeline_spark.queries.extractors import ORACLES

            self._expected[kind] = self.con.execute(ORACLES[f"extract_{kind}_canonical"]).df()
        return self._expected[kind]

    def check(self, campus_id: str, result) -> list[str]:
        """Problems with one op's outputs; ``result`` is the op's
        ``EtlResult``."""
        from verify_local import compare

        kind = self.inputs["campuses"][campus_id]["kind"]
        part = lambda stage: f"read_parquet('{self.out_dir}/{stage}/{campus_id}/*.parquet')"  # noqa: E731
        extracted = self.con.execute(f"SELECT * FROM {part('extracted')}").df()
        problems = [f"extracted: {p}" for p in compare(extracted, self._oracle(kind))]

        with open(os.path.join(self.out_dir, "devlogs", f"{campus_id}.json")) as f:
            devlog = json.load(f)[-1]
        clean, quarantine = part("cleaned"), part("quarantine")
        n_clean = self.con.execute(f"SELECT count(*) FROM {clean}").fetchone()[0]
        n_quar = self.con.execute(f"SELECT count(*) FROM {quarantine}").fetchone()[0]
        for source, counts in (
            ("devlog", (devlog["clean_rows"], devlog["quarantined_rows"])),
            ("result", (result.clean_rows, result.quarantined_rows)),
        ):
            if counts != (n_clean, n_quar):
                problems.append(f"{source} clean/quarantined rows {counts} vs parquet {(n_clean, n_quar)}")
        types = {r[0]: r[1] for r in self.con.execute(f"DESCRIBE SELECT * FROM {clean}").fetchall()}
        presence_sql = ", ".join(
            f"count(*) FILTER (WHERE \"{c}\" IS NOT NULL"
            + (f" AND trim(\"{c}\", ' ') <> ''" if types[c] == "VARCHAR" else "")
            + ")"
            for c in devlog["field_presence"]
        )
        presence = dict(zip(devlog["field_presence"], self.con.execute(f"SELECT {presence_sql} FROM {clean}").fetchone()))
        if presence != devlog["field_presence"]:
            problems.append(f"devlog field_presence {devlog['field_presence']} vs parquet {presence}")
        hist = dict(self.con.execute(
            f"SELECT code_type, count(*) FROM {clean} WHERE code_type IS NOT NULL GROUP BY 1"
        ).fetchall())
        if hist != devlog["code_type_histogram"]:
            problems.append(f"devlog code_type_histogram {devlog['code_type_histogram']} vs parquet {hist}")
        return problems


# --- query_mix -------------------------------------------------------------


def _tables_read(oracle_sql: str, tables: dict[str, int]) -> int:
    """Rows of the input tables a query reads, taken from the table
    names its oracle SQL references."""
    return sum(n for t, n in tables.items() if re.search(rf"\b{t}\b", oracle_sql))


def query_ops(spark, inputs: dict, tracer=None) -> list[Op]:
    """One op per query: build it, then collect its result to the
    driver (through Arrow), which the check compares with the oracle."""
    from clearcare_data_pipeline_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    sf_dir = inputs["sf_dir"]

    def one(name: str) -> Callable[[], object]:
        def run():
            plan = tracer.span("queries", name) if tracer and tracer.active else contextlib.nullcontext()
            with plan:
                df = queries[name](spark, sf_dir)
            return df.toPandas()

        return run

    return [Op(n, one(n), _tables_read(oracles[n], inputs["tables"])) for n in QUERY_MIX]


def query_check(inputs: dict, temp_dir: str) -> Callable[[str, object], list[str]]:
    """A check of one op's collected result against the query's DuckDB
    oracle (computed once here), with verify_local's order-insensitive
    compare."""
    from verify_local import compare

    from clearcare_data_pipeline_spark.queries import all_oracles

    con = duck_connection(inputs["sf_dir"], temp_dir)
    try:
        oracles = all_oracles()
        expected = {n: con.execute(oracles[n]).df() for n in QUERY_MIX}
    finally:
        con.close()
    return lambda name, result: compare(result, expected[name])
