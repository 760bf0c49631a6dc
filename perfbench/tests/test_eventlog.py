"""Event-log parsing, span self time and job attribution, on a small event
log recorded from a traced run (one sorted-cumsum operation: four jobs
fired while the frame was built, two inside ``compute()``), plus the
percentile/sample-count rule."""
import json
import os

import pytest

import eventlog
import stats

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.fixture(scope="module")
def jobs():
    return eventlog.read(FIXTURE)


def _spans(jobs):
    """One operation around the recorded jobs: a build span (group "1")
    with a nested child that fired nothing, then the action (group "2")."""
    b0, b1 = jobs[220].submit - 0.010, jobs[223].end + 0.005
    a0, a1 = jobs[224].submit - 0.002, jobs[225].end + 0.003
    return [
        [0, "sorted_cumsum", "op", b0 - 0.020, a1 + 0.010, None, 0],
        [1, "DataFrame.sort_values", "collection", b0, b1, 0, 0],
        [2, "DataFrame.compute", "action", a0, a1, 0, 0],
        [3, "DataFrame.__getitem__", "collection", b0 + 0.001, b0 + 0.004, 1, 0],
    ]


def test_parse_reads_job_times_groups_and_task_totals(jobs):
    assert sorted(jobs) == [0, 220, 221, 222, 223, 224, 225]
    j = jobs[221]
    assert (j.submit, j.end, j.group) == (1792175533.550, 1792175533.629, "1")
    assert (j.tasks, j.stages_run, j.failed_tasks) == (1, 1, 0)
    assert j.input_rows == 150000 and j.shuffle_write_bytes == 921082
    assert j.run_s == pytest.approx(0.065)
    # stage 427 of job 222 was skipped (its shuffle output was reused)
    assert jobs[222].stages == [427, 428] and jobs[222].stages_run == 1
    assert jobs[0].group is None


def test_nested_self_time(jobs):
    spans = _spans(jobs)
    selft = eventlog.self_times(spans)
    dur = [s[4] - s[3] for s in spans]
    assert selft[3] == pytest.approx(dur[3])
    assert selft[1] == pytest.approx(dur[1] - dur[3])
    assert selft[0] == pytest.approx(dur[0] - dur[1] - dur[2])


def test_self_time_counts_overlapping_children_once():
    spans = [[0, "p", "collection", 0.0, 10.0, None, 0],
             [1, "a", "collection", 1.0, 4.0, 0, 0],
             [2, "b", "collection", 3.0, 6.0, 0, 0]]
    assert eventlog.self_times(spans)[0] == pytest.approx(5.0)


def test_jobs_attributed_to_spans_through_the_job_group(jobs):
    m = eventlog.layer_metrics(_spans(jobs), jobs, cores=4)
    assert m["collection.build_jobs"] == 4      # the untagged job 0 is ignored
    assert m["collection.action_jobs"] == 2
    assert m["exec.jobs"] == 6 and m["exec.tasks"] == 6
    assert m["operators.jobs"] == 0 and m["functions.jobs"] == 0
    a0, a1 = jobs[224].submit - 0.002, jobs[225].end + 0.003
    busy = (jobs[224].end - jobs[224].submit) + (jobs[225].end - jobs[225].submit)
    assert m["collection.boundary_s"] == pytest.approx((a1 - a0) - busy)
    assert m["sources.input_rows"] == 4 * 150000
    per_op = eventlog.build_by_op(_spans(jobs), jobs)
    assert per_op["sorted_cumsum"][0] == 4


def test_task_skew_and_failed_tasks():
    def task(stage, launch, finish, ok=True):
        return json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                           "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                           "Task Info": {"Launch Time": launch, "Finish Time": finish,
                                         "Failed": not ok},
                           "Task Metrics": {"Executor Run Time": finish - launch}})
    lines = [json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 0,
                         "Stage IDs": [5], "Properties": {"spark.jobGroup.id": "0"}}),
             task(5, 0, 100), task(5, 0, 100), task(5, 0, 400, ok=False)]
    job = eventlog.parse(lines)[1]
    assert job.tasks == 3 and job.failed_tasks == 1
    assert job.skew == pytest.approx(4.0)
    assert job.run_s == pytest.approx(0.6)


def test_percentile_and_sample_count_rule():
    xs = list(range(1, 101))                    # 100 samples
    assert stats.median(xs) == pytest.approx(50.5)
    assert stats.tail(xs) == (90, pytest.approx(90.1))
    assert stats.tail(list(range(200)))[0] == 95
    assert stats.tail(list(range(99))) is None  # < 10 samples beyond p90
    assert stats.tail(list(range(1000)))[0] == 99
