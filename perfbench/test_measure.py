"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from measure import Span  # noqa: E402


# -- tail percentile ---------------------------------------------------------

def test_tail_needs_eleven_samples():
    assert measure.tail(list(range(10))) is None
    value, pct, n = measure.tail(list(range(11)))
    assert (value, n) == (0.0, 11)  # rank 1: the other 10 lie above it
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_beyond():
    samples = [float(x) for x in range(100, 0, -1)]  # unsorted input
    value, pct, n = measure.tail(samples)
    assert n == 100 and pct == 90.0 and value == 90.0
    assert sum(1 for s in samples if s > value) == measure.TAIL_BEYOND


# -- spans and self time -----------------------------------------------------

def spans(*rows):
    return [Span(i, name, s, e, parent, "r") for i, (name, s, e, parent) in enumerate(rows)]


def test_self_time_subtracts_children_union():
    sp = spans(
        ("bench.pass", 0.0, 10.0, None),
        ("pipeline.link", 1.0, 4.0, 0),
        ("tfidf.fit", 3.0, 6.0, 0),      # overlaps the link: union is 1..6
        ("bench.verify", 6.5, 7.0, 0),
        ("plans.exec", 2.0, 3.5, 1),     # grandchild: counts against link only
    )
    st = measure.self_times(sp)
    assert st[0] == pytest.approx(10.0 - 5.0 - 0.5)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.5)


def test_child_outside_parent_is_clipped():
    sp = spans(("bench.pass", 0.0, 2.0, None), ("tfidf.fit", 1.0, 5.0, 0))
    assert measure.self_times(sp)[0] == pytest.approx(1.0)


def test_layer_self_times_sum_to_wall():
    sp = spans(
        ("bench.setup", 0.5, 2.0, None),
        ("session.start", 0.5, 1.5, 0),
        ("bench.pass", 3.0, 9.0, None),
        ("pipeline.link", 3.0, 4.0, 2),
        ("classify.train", 4.0, 8.0, 2),
    )
    out = measure.layer_self_times(sp, wall=10.0)
    assert out["unattributed"] == pytest.approx(10.0 - 1.5 - 6.0)
    assert out["session"] == pytest.approx(1.0)
    assert out["ml"] == pytest.approx(4.0)
    assert out["pipeline"] == pytest.approx(1.0)
    assert sum(out.values()) == pytest.approx(10.0)


def test_tracer_nests_and_restores_job_description():
    labels = []
    t = iter(range(100))
    tr = measure.Tracer("run1", labels.append, clock=lambda: float(next(t)))
    with tr.span("bench.pass"):
        with tr.span("plans.exec"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert labels == ["bench|run1|0|bench.pass", "bench|run1|1|plans.exec",
                      "bench|run1|0|bench.pass", None]


def test_tree_cpu_counts_live_and_reaped_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = measure.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert measure.tree_cpu_s() - before >= 0.25


# -- process clean-up --------------------------------------------------------

def test_stop_descendants_ends_orphaned_grandchildren():
    # In a process of its own, so that no child of the test runner is
    # stopped: a child exits at once and leaves a sleeping grandchild
    # behind, as the JVM leaves the PySpark daemon; the orphan must be
    # adopted, then stopped.
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {HERE!r})
import measure, run
run.become_subreaper()
spawn = "import subprocess, sys; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])"
subprocess.run([sys.executable, "-c", spawn], check=True)
assert len(measure.tree_pids(os.getpid())) == 2, measure.tree_pids(os.getpid())
run.stop_descendants(grace=0.2)
assert measure.tree_pids(os.getpid()) == [os.getpid()]
"""
    subprocess.run([sys.executable, "-c", script], check=True, timeout=60)


def test_steal_share_of_all_cpu_ticks():
    before = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    after = [160, 0, 70, 880, 10, 0, 0, 80, 0, 0]  # 200 ticks, 40 stolen
    assert measure.steal_pct(before, after) == 20.0
    assert measure.steal_pct(before, before) == 0.0


# -- event-log join ----------------------------------------------------------

def job(job_id, stages, desc):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def task(stage, run_ms, cpu_ns, gc_ms=0, read=0, written=0, spill=0, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def test_event_log_join_by_job_description():
    sp = spans(("plans.exec", 0.0, 1.0, None), ("tfidf.fit", 1.0, 2.0, None))
    events = [
        {"Event": "SparkListenerApplicationStart"},
        job(0, [0, 1], "bench|r|0|plans.exec"),
        task(0, 1000, 600_000_000, gc_ms=100, written=2**20),
        task(1, 500, 500_000_000, read=2**20),
        job(1, [1, 2], "bench|r|1|tfidf.fit"),  # stage 1 was run by job 0
        task(2, 200, 100_000_000, reason="ExceptionFailure"),
        job(2, [3], None),                        # no description: unattributed
        task(3, 50, 50_000_000, spill=2**21),
        job(3, [4], "bench|other-run|0|plans.exec"),
    ]
    per, totals = measure.join_event_log(events, sp, "r")
    assert per["plans.exec"]["jobs"] == 1
    assert per["plans.exec"]["task_cpu_s"] == pytest.approx(1.1)
    assert per["plans.exec"]["task_wait_s"] == pytest.approx(0.4)
    assert per["plans.exec"]["shuffle_mb"] == pytest.approx(2.0)
    assert per["tfidf.fit"]["task_cpu_s"] == pytest.approx(0.1)
    assert per["tfidf.fit"]["task_wait_s"] == pytest.approx(0.1)
    assert totals["jobs"] == 4 and totals["jobs_unattributed"] == 2
    assert totals["failed_tasks"] == 1
    assert totals["gc_s"] == pytest.approx(0.1)
    assert totals["spill_mb"] == pytest.approx(2.0)


def test_stage_ids_restart_per_application():
    sp = spans(("plans.exec", 0.0, 1.0, None), ("tfidf.fit", 1.0, 2.0, None))
    events = [
        {"Event": "SparkListenerApplicationStart"},
        job(0, [0], "bench|r|0|plans.exec"), task(0, 100, 100_000_000),
        {"Event": "SparkListenerApplicationStart"},
        job(0, [0], "bench|r|1|tfidf.fit"), task(0, 300, 300_000_000),
    ]
    per, _ = measure.join_event_log(events, sp, "r")
    assert per["plans.exec"]["task_cpu_s"] == pytest.approx(0.1)
    assert per["tfidf.fit"]["task_cpu_s"] == pytest.approx(0.3)


# -- op verification ---------------------------------------------------------

def bench():
    return workloads.Bench(measure.Tracer("r"), "work", 1, {})


def test_a_changed_digest_counts_as_failed():
    b = bench()
    b.quiet = True  # the reference pass records the expected value
    b.op("tfidf.transform", lambda: (3, 42), lambda d: b.expect("tfidf.transform", d))
    b.quiet = False
    for digest in ((3, 42), (3, 43)):
        b.op("tfidf.transform", lambda: digest, lambda d: b.expect("tfidf.transform", d))
    assert (b.attempted, b.failed) == (3, 1)
    assert "recorded (3, 42)" in b.errors[0]
    assert len(b.op_s["tfidf.transform"]) == 2  # the failed op's time is kept


def test_an_exception_counts_as_failed_and_keeps_its_time():
    b = bench()

    def boom():
        raise ValueError("no rows")
    ok, _, _ = b.op("pipeline.link", boom, lambda _: None)
    assert not ok and (b.attempted, b.failed) == (1, 1)
    assert len(b.op_s["pipeline.link"]) == 1 and "ValueError" in b.errors[0]


def test_rows_digest_ignores_order_but_not_values():
    rows = [(1, "a", 0.5), (2, "b", 0.25)]
    assert workloads.rows_digest(rows) == workloads.rows_digest(rows[::-1])
    assert workloads.rows_digest(rows) != workloads.rows_digest([(1, "a", 0.5), (2, "b", 0.3)])


# -- workloads and the benchmark record --------------------------------------

def test_benchmark_json_matches_the_harness():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
