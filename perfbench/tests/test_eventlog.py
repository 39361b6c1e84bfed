import json

import pytest

from perfbench.eventlog import parse_events
from perfbench.layers import encode_split, query_layer, salted_layer, spark_layer


def _job_start(job, stages, t_ms, desc=None):
    props = {"spark.job.description": desc} if desc is not None else {}
    return {
        "Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t_ms,
        "Stage IDs": stages, "Properties": props,
    }


def _job_end(job, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t_ms,
            "Job Result": {"Result": "JobSucceeded"}}


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def _task_end(stage, launch, finish, run_ms=100, cpu_ns=50_000_000, gc_ms=5,
              reason="Success", failed=False, accums=(), **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Failed": failed,
            "Accumulables": [
                {"Name": n, "Update": str(v), "Metadata": "sql"} for n, v in accums
            ] + [{"Name": "internal.metrics.executorRunTime", "Update": run_ms}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Input Metrics": {"Bytes Read": metrics.get("in_bytes", 0),
                              "Records Read": metrics.get("in_records", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": metrics.get("remote", 0),
                                     "Local Bytes Read": metrics.get("local", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
        },
    }


def _lines(events):
    return [json.dumps(e) for e in events] + [""]


def test_groups_tasks_by_job_description():
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job_start(0, [0], 1_000_000, desc="encode#0"),
        _task_end(0, 1_000_010, 1_000_510, accums=[("time to run Python workers", 400),
                                                  ("data sent to Python workers", 1000),
                                                  ("data returned from Python workers", 10)],
                  in_bytes=64, in_records=4),
        _task_end(0, 1_000_020, 1_000_220, failed=True, reason="ExceptionFailure"),
        _stage_done(0),
        _job_end(0, 1_000_600),
        _job_start(1, [1, 2], 1_000_700, desc="encode#0"),
        _task_end(2, 1_000_710, 1_000_910, remote=7, local=3, sw=11, spill=5),
        _stage_done(1),
        _stage_done(2),
        _job_end(1, 1_001_000),
        _job_start(2, [3], 1_002_000),  # no description: grouped under ""
        _task_end(3, 1_002_001, 1_002_002),
        _job_end(2, 1_002_005),
    ]
    ops = parse_events(_lines(events))
    assert set(ops) == {"encode#0", ""}
    op = ops["encode#0"]
    assert op["n_jobs"] == 2
    assert op["first_job_start"] == pytest.approx(1000.0)
    assert op["last_job_end"] == pytest.approx(1001.0)
    assert op["n_stages"] == 3
    assert op["n_tasks"] == 3
    assert op["failed_tasks"] == 1
    assert op["task_wall_s"] == pytest.approx(0.9)
    assert op["task_s"] == pytest.approx(0.3)
    assert op["task_cpu_s"] == pytest.approx(0.15)
    assert op["gc_s"] == pytest.approx(0.015)
    assert op["input_bytes"] == 64 and op["input_records"] == 4
    assert op["shuffle_read_bytes"] == 10
    assert op["shuffle_write_bytes"] == 11
    assert op["spill_bytes"] == 5
    assert op["python_run_ms"] == 400
    assert op["python_bytes_in"] == 1000
    assert op["python_bytes_out"] == 10
    assert ops[""]["n_tasks"] == 1


def test_non_sql_accumulables_and_unknown_stages_are_ignored():
    task = _task_end(9, 1, 2)  # stage 9 belongs to no job seen
    ops = parse_events(_lines([task]))
    assert ops == {}
    events = [
        _job_start(0, [0], 1000, desc="op#1"),
        {**_task_end(0, 1000, 1100), "Task Info": {
            "Launch Time": 1000, "Finish Time": 1100,
            "Accumulables": [{"Name": "time to run Python workers", "Update": 9}],
        }},
        _job_end(0, 1200),
    ]
    assert parse_events(_lines(events))["op#1"]["python_run_ms"] == 0


def test_encode_split_sums_to_the_span():
    events = parse_events(_lines([
        _job_start(0, [0], 10_500, desc="encode#0"),
        _job_end(0, 11_000),
        _job_start(1, [1], 11_100, desc="encode#0"),
        _job_end(1, 13_000),
    ]))
    spans = [("encode#0", 10.0, 13.25)]
    split = encode_split(events, spans)
    assert split["encode.plan_s"] == pytest.approx(0.5)
    assert split["encode.tasks_s"] == pytest.approx(2.5)
    assert split["encode.commit_s"] == pytest.approx(0.25)
    total = split["encode.plan_s"] + split["encode.tasks_s"] + split["encode.commit_s"]
    assert total == pytest.approx(split["encode.span_s"])


def test_spark_layer_means_per_pass_sums():
    events = parse_events(_lines([
        _job_start(0, [0], 0, desc="a#0"),
        _task_end(0, 0, 1000, run_ms=1000),
        _job_end(0, 1000),
        _job_start(1, [1], 1000, desc="b#0"),
        _task_end(1, 1000, 2000, run_ms=1000),
        _job_end(1, 2000),
        _job_start(2, [2], 2000, desc="a#1"),
        _task_end(2, 2000, 4000, run_ms=2000),
        _job_end(2, 4000),
        _job_start(3, [3], 4000, desc="verify"),  # not a pass op
        _task_end(3, 4000, 9000, run_ms=5000),
        _job_end(3, 9000),
    ]))
    spans = [("a#0", 0.0, 1.0), ("b#0", 1.0, 2.0), ("a#1", 2.0, 4.0)]
    out = spark_layer(events, spans, cores=2)
    assert out["spark.task_s"] == pytest.approx(2.0)  # pass 0: 1+1, pass 1: 2
    assert out["spark.n_tasks"] == pytest.approx(1.5)
    assert out["spark.cores_busy_frac"] == pytest.approx(4.0 / (4.0 * 2))


def test_salted_layer_splits_only_the_archive_encode():
    events = parse_events(_lines([
        _job_start(0, [0], 20_000, desc="salted_encode#1"),
        _task_end(0, 20_000, 21_000, sw=300),
        _job_end(0, 22_000),
        _job_start(1, [1], 30_000, desc="salted_encode#2"),
        _task_end(1, 30_000, 31_000, sw=500),
        _job_end(1, 33_000),
        _job_start(2, [2], 40_000, desc="salted_verify#0"),
        _job_end(2, 41_000),
    ]))
    spans = [("salted_encode#1", 19.5, 22.5), ("salted_encode#2", 29.0, 34.0)]
    result = {"max_bucket_token_share": 0.08, "ratio_vs_parquet_zstd": 0.7}
    out = salted_layer(events, spans, result)
    assert out["salted.span_s"] == pytest.approx(4.0)
    assert out["salted.plan_s"] == pytest.approx(0.75)
    assert out["salted.tasks_s"] == pytest.approx(2.5)
    assert out["salted.commit_s"] == pytest.approx(0.75)
    assert out["salted.shuffle_write_bytes"] == pytest.approx(400)
    assert out["salted.max_bucket_token_share"] == 0.08
    assert salted_layer(events, spans, None) == {}


def test_query_layer_takes_medians_of_reported_calls():
    took = {"query.dedup_exact.build": [0.1, 0.3], "query.dedup_exact.exec": [1.0, 2.0, 9.0]}
    out = query_layer(took)
    assert out == {"query.dedup_exact.build_s": pytest.approx(0.2), "query.dedup_exact.exec_s": 2.0}
