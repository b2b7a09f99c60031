"""Span arithmetic, event-log attribution, and that tracing adds no job."""

import json
import shutil

import pytest

from tracer import (Span, Tracer, attach_event_log, covered, interpose,
                    layer_metrics, parse_event_log, read_event_logs)


def _span(tr: Tracer, name, parent, start, end, layer="fit"):
    sp = Span(len(tr.spans), name, layer, parent, start, end)
    tr.spans.append(sp)
    return sp


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3
    assert covered((0, 10), [(4, 4), (6, 5)]) == 0


def test_self_time_is_duration_minus_children():
    tr = Tracer()
    root = _span(tr, "root", None, 0.0, 10.0)
    a = _span(tr, "a", root.id, 1.0, 4.0, "selection")
    _span(tr, "a1", a.id, 2.0, 3.0, "comparison")
    _span(tr, "b", root.id, 6.0, 7.5, "selection")
    assert tr.self_seconds(root) == pytest.approx(10.0 - 3.0 - 1.5)
    assert tr.self_seconds(a) == pytest.approx(2.0)
    m = layer_metrics(tr, ["fit", "selection", "comparison"])
    assert m["fit.s"] == pytest.approx(5.5)
    assert m["selection.s"] == pytest.approx(2.0 + 1.5)
    assert m["comparison.s"] == pytest.approx(1.0)
    assert sum(m[f"{k}.s"] for k in ("fit", "selection", "comparison")) == \
        pytest.approx(root.seconds)


def test_parser_gives_a_job_to_its_innermost_span():
    tr = Tracer()
    outer = _span(tr, "outer", None, 0, 10)
    inner = _span(tr, "inner", outer.id, 1, 2)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": f"{outer.tag},{inner.tag}"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.tags": outer.tag}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
    ]
    for stage, run_ms in ((0, 100), (0, 300), (1, 50), (2, 70), (3, 10)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms},
            "Task Metrics": {"Executor CPU Time": run_ms * 10**6,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}},
        })
    job_tags, job_tasks = parse_event_log(json.dumps(e) for e in events)
    assert attach_event_log(tr, job_tags, job_tasks) == [2]
    assert inner.jobs == [0] and outer.jobs == [1]
    # stage 1 ran in job 0, the first to list it; job 1 skipped it
    assert sorted(t["stage"] for t in inner.tasks) == [0, 0, 1]
    assert [t["stage"] for t in outer.tasks] == [2]
    m = layer_metrics(tr, ["fit"])
    assert m["fit.jobs"] == 2 and m["fit.tasks"] == 4
    assert m["fit.shuffle_write_mb"] == pytest.approx(8.0)
    assert m["fit.skew"] == pytest.approx(300 / 200)


# ----------------------------------------------------- with a live Spark --

class ToyWorkload:
    """Three actions, one of them a shuffle."""

    def call(self, spark):
        from pyspark.sql import functions as F
        df = spark.range(20_000).withColumn("k", F.col("id") % 7)
        df.count()
        df.groupBy("k").count().collect()
        return df.filter("k = 3").count()


def _job_ids(sc) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup())


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """Run the toy bare, under interposition, and inside a span; stop the
    session; return the job counts and the attributed tracer."""
    from automatedreclin_spark import get_spark
    events = tmp_path_factory.mktemp("events")
    spark = get_spark(app_name="perfbench-tracer-test", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": events.as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false"})
    sc = spark.sparkContext
    toy = ToyWorkload()
    toy.call(spark)                                      # warm-up
    counts = {}
    before = _job_ids(sc)
    toy.call(spark)
    counts["bare"] = len(_job_ids(sc) - before)

    tr = Tracer(sc)
    before = _job_ids(sc)
    with interpose(tr, [(ToyWorkload, "call", "toy.call", "fit")]):
        toy.call(spark)
    counts["interposed"] = len(_job_ids(sc) - before)
    before = _job_ids(sc)
    with tr.span("outer", "blocking"):
        toy.call(spark)
    counts["spanned"] = len(_job_ids(sc) - before)
    spark.stop()
    job_tags, job_tasks = read_event_logs(events)
    untagged = attach_event_log(tr, job_tags, job_tasks)
    yield counts, tr, untagged
    shutil.rmtree(events, ignore_errors=True)


def test_tracing_launches_exactly_the_workloads_jobs(recorded):
    counts, _, _ = recorded
    assert counts["bare"] >= 3
    assert counts["interposed"] == counts["bare"] == counts["spanned"]


def test_live_event_log_attributes_toy_jobs_to_their_span(recorded):
    counts, tr, untagged = recorded
    by_name = {s.name: s for s in tr.spans}
    assert len(by_name["toy.call"].jobs) == counts["bare"]
    assert len(by_name["outer"].jobs) == counts["bare"]
    assert by_name["toy.call"].tasks and by_name["outer"].tasks
    # the untagged jobs are exactly the two runs made outside any span
    assert len(untagged) == 2 * counts["bare"]
    m = layer_metrics(tr, ["fit", "blocking"])
    assert m["fit.jobs"] == m["blocking.jobs"] == counts["bare"]
    assert m["fit.tasks"] > 0 and m["fit.task_cpu_s"] > 0
    assert m["fit.failed_tasks"] == 0


def test_interpose_keeps_the_last_calls_arguments_and_restores():
    class Owner:
        @staticmethod
        def select(omega, n, **kw):
            return (omega, n, kw)

    original = Owner.select
    tr = Tracer()
    with interpose(tr, [(Owner, "select", "selection.select", "selection")]):
        Owner.select("first", 1)
        assert Owner.select("second", 2, ascending=True) == \
            ("second", 2, {"ascending": True})
    assert Owner.select is original
    assert tr.last_call["selection.select"] == (("second", 2), {"ascending": True})
    assert [s.name for s in tr.spans] == ["selection.select"] * 2
