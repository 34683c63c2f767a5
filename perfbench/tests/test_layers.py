"""Tests of the traced run's span and counter collector.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import layers  # noqa: E402


def test_parse_sql_metric_units():
    assert layers.parse_sql_metric("64.0 MiB") == 64 * 2**20
    assert layers.parse_sql_metric("224 ms") == pytest.approx(0.224)
    assert layers.parse_sql_metric("4,847") == 4847
    stats = "total (min, med, max (stageId: taskId))\n1.4 s (323 ms, 368 ms, 371 ms (stage 15.0: task 16))"
    assert layers.parse_sql_metric(stats) == pytest.approx(1.4)


def test_self_time_subtracts_children():
    root = layers.Span(0, "op", "q", None, start=0.0, end=10.0)
    a = layers.Span(1, "queries", "a", root, start=1.0, end=4.0)
    b = layers.Span(2, "sinks", "b", root, start=5.0, end=9.0)
    c = layers.Span(3, "materialize", "c", a, start=2.0, end=3.5)
    root.children += [a, b]
    a.children.append(c)
    assert root.self_time == pytest.approx(3.0)
    assert a.self_time == pytest.approx(1.5)
    assert [s.sid for s in root.walk()] == [0, 1, 3, 2]


@pytest.fixture(scope="module")
def traced_query(tmp_path_factory):
    """One traced query on a tiny seeded dataset; yields the folded op
    table and the ids of every job the application ran for it."""
    import inputs
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    saved = dict(os.environ), tempfile.tempdir
    run.isolate(work)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    sf = inputs.make_dataset(0.002, os.path.join(work, "sf"), seed=3, scratch=work)
    assert sf["lineitem"] > 0

    from clearcare_data_pipeline_spark.queries import all_queries
    from clearcare_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench-test")
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        spark.range(10).count()  # a job outside the op: must not be attributed
        before = {j.jobId() for j in layers._seq(store.jobsList(None))}
        tracer = layers.Tracer(spark)
        with tracer.installed():
            with tracer.op("q5_regional_revenue"):
                with tracer.span("queries", "q5_regional_revenue"):
                    df = all_queries()["q5_regional_revenue"](spark, os.path.join(work, "sf"))
                df.write.format("noop").mode("overwrite").save()
        after = {j.jobId() for j in layers._seq(store.jobsList(None))}
        stage_ids = set()
        for job in layers._seq(store.jobsList(None)):
            if job.jobId() in after - before:
                stage_ids.update(layers._seq(job.stageIds()))
        run_time_s = 0.0
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "SKIPPED":
                run_time_s += st.executorRunTime() / 1e3
        yield tracer.ops[0], after - before, run_time_s
    finally:
        run.stop_spark(spark)
        os.environ.clear()
        os.environ.update(saved[0])
        tempfile.tempdir = saved[1]


def test_exec_task_s_is_the_sum_of_stage_run_time(traced_query):
    table, new_jobs, run_time_s = traced_query
    assert table["layers"]["exec.jobs"] == len(new_jobs) > 0
    assert table["layers"]["exec.task_s"] == pytest.approx(run_time_s)
    assert table["layers"]["exec.task_s"] > 0


def test_every_self_time_is_non_negative(traced_query):
    table, _, _ = traced_query
    assert table["self_times"]
    assert all(v >= 0 for v in table["self_times"].values()), table["self_times"]
    assert table["layers"]["sources.tables.calls"] > 0
    assert table["layers"]["exec.broadcast_bytes"] > 0
