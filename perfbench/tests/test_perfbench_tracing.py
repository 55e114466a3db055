"""Status-store aggregation and span self time."""

import os
import threading
import time

import pytest

import tracing


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark-local")))
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_group_stats_counts_a_tiny_job(spark):
    spark.sparkContext.setJobGroup("tiny", "three tasks")
    spark.range(0, 30, 1, 3).write.format("noop").mode("overwrite").save()
    st = tracing.group_stats(spark, "tiny")
    assert st["jobs"] == 1
    assert st["stages"] == 1
    assert st["tasks"] == 3
    assert st["failed_tasks"] == 0 and st["stage_retries"] == 0
    assert st["input_records"] == 30
    assert st["executor_run_s"] >= 0 and st["stage_active_s"] > 0


def test_group_stats_counts_jobs_submitted_before_a_time(spark):
    spark.sparkContext.setJobGroup("eager", "two jobs")
    one_job = spark.range(0, 10, 1, 2).write.format("noop").mode("overwrite")
    one_job.save()
    time.sleep(0.05)
    between = time.time()
    time.sleep(0.05)
    one_job.save()
    assert tracing.group_stats(spark, "eager", before=between)["eager_jobs"] == 1
    assert tracing.group_stats(spark, "eager", before=between - 60)["eager_jobs"] == 0
    assert tracing.group_stats(spark, "eager")["eager_jobs"] == 0


def test_group_stats_of_unknown_group_is_empty(spark):
    st = tracing.group_stats(spark, "no-such-group", timeout_s=0.1)
    assert st["jobs"] == 0 and st["tasks"] == 0


def test_self_time_excludes_child_spans():
    tr = tracing.Tracer(True)
    tr.set_job(1)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    tot = tr.totals(1)
    assert tot["inner"][0] == 1
    assert tot["outer"][1] >= 0.07
    assert 0.015 <= tot["outer"][2] < 0.05


def test_spans_are_per_thread_job():
    tr = tracing.Tracer(True)

    def work(job):
        tr.set_job(job)
        with tr.span("x"):
            time.sleep(0.01)

    ts = [threading.Thread(target=work, args=(j,)) for j in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in ts)
    assert all(tr.totals(j)["x"][0] == 1 for j in range(4))


def test_patched_wraps_names_imported_elsewhere_and_restores():
    import mapreduce_docker_spark.operators.relational_queries as rq
    from mapreduce_docker_spark.sources import catalog

    orig = catalog.load_table
    tr = tracing.Tracer(True)
    with tracing.patched(tr):
        assert rq.load_table is not orig
        assert rq.load_table is catalog.load_table
    assert rq.load_table is orig and catalog.load_table is orig


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(False)
    tr.set_job(1)
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.totals(1) == {}
