"""Tests for the benchmark's pure helpers. Run from the repository root:

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import PaymentGen, publish_many  # noqa: E402
from helpers import (  # noqa: E402
    Reference,
    batch_commit_times,
    delivered_rate,
    file_batches,
    java_round,
    parse_progress_time,
    percentile,
    tail_percentile,
    read_event_log,
    route,
    union_length,
    work_cpu,
)


def _pay(pid, amount, currency, frm, to, rails):
    return {"paymentId": pid, "amount": amount, "currency": currency,
            "fromAccount": frm, "toAccount": to, "rails": rails}


# -- percentiles ------------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(100, 0, -1))  # 1..100, unsorted
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([7.5], 99) == 7.5
    assert percentile([1, 2, 3], 0) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(50) == 80
    assert tail_percentile(1000) == 99
    for n in (11, 37, 50, 101):
        values = list(range(1, n + 1))
        assert sum(v > percentile(values, tail_percentile(n)) for v in values) == 10
    with pytest.raises(ValueError):
        tail_percentile(10)


# -- payment reference ------------------------------------------------------


def test_reference_matches_the_golden_scenario():
    ref = Reference()
    ref.add([
        _pay("p1", 100, "GBP", "ABC", "DEF", "BANK_RAILS_FOO"),
        _pay("p2", 50, "GBP", "ABC", "DEF", "BANK_RAILS_FOO"),
        _pay("p3", 60, "GBP", "ABC", "DEF", "BANK_RAILS_FOO"),
        _pay("p4", 1200, "GBP", "ABC", "DEF", "BANK_RAILS_XXX"),
        _pay("p5", 1000, "USD", "XYZ", "DEF", "BANK_RAILS_BAR"),
    ])
    assert ref.sinks["BANK_RAILS_FOO"] == {"p1": 100, "p2": 50, "p3": 60}
    assert ref.sinks["BANK_RAILS_BAR"] == {"p5": 800}
    assert ref.balance("ABC") == 210
    assert ref.balance("XYZ") == 800
    assert ref.balance("DEF") is None


@pytest.mark.parametrize("amount,converted", [(1, 1), (3, 2), (5, 4), (13, 10), (10000, 8000)])
def test_fx_uses_java_math_round(amount, converted):
    out = route(_pay("p", amount, "USD", "A", "B", "BANK_RAILS_FOO"))
    assert out["amount"] == converted and out["currency"] == "GBP"


def test_dropped_payments_leave_no_trace():
    ref = Reference()
    ref.add([_pay("p1", 10, "EUR", "A", "B", "BANK_RAILS_FOO"),
             _pay("p2", 10, "GBP", "A", "B", "BANK_RAILS_XXX")])
    assert ref.balance("A") is None
    assert ref.sinks == {"BANK_RAILS_FOO": {}, "BANK_RAILS_BAR": {}}


def test_java_round_rounds_half_up():
    assert java_round(2.5) == 3
    assert java_round(-2.5) == -2
    assert java_round(2.4000000000000004) == 2


def test_payment_generator_is_seeded_and_skewed():
    a = PaymentGen(7, 500, 1.1).payments(2000)
    assert a == PaymentGen(7, 500, 1.1).payments(2000)
    assert a != PaymentGen(8, 500, 1.1).payments(2000)
    heavy = sum(p["fromAccount"] == "ACC-0000" for p in a) / len(a)
    assert heavy > 0.1
    assert all(10 <= p["amount"] <= 10000 for p in a)
    assert {p["rails"] for p in a} == {"BANK_RAILS_FOO", "BANK_RAILS_BAR", "BANK_RAILS_XXX"}
    assert {p["currency"] for p in a} == {"GBP", "USD", "EUR"}



def test_publish_many_leaves_only_the_named_files(tmp_path):
    pays = PaymentGen(3, 10, 1.1).payments(4)
    paths = publish_many(str(tmp_path), [("a.json", pays[:2]), ("b.json", pays[2:])])
    assert sorted(os.listdir(tmp_path)) == ["a.json", "b.json"]
    with open(paths[1]) as f:
        assert [json.loads(line) for line in f] == pays[2:]


# -- file source log --------------------------------------------------------


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 0,
                                "batchId": batch, "action": "add"}) + "\n")


def test_file_batches_reads_compacted_logs(tmp_path):
    # Spark compacts every 10 batches: 9.compact holds batches 0..9 and
    # the plain files of those batches are gone.
    _write_log(tmp_path / "9.compact",
               [(f"f{b}_{i}.json", b) for b in range(10) for i in range(2)])
    _write_log(tmp_path / "10", [("f10_0.json", 10)])
    _write_log(tmp_path / "11", [("f11_0.json", 11), ("f11_1.json", 11)])
    (tmp_path / ".11.crc").write_bytes(b"\0")
    got = file_batches(str(tmp_path))
    assert len(got) == 23
    assert got["f0_1.json"] == 0 and got["f9_0.json"] == 9
    assert got["f10_0.json"] == 10 and got["f11_1.json"] == 11


def test_batch_commit_time_is_trigger_start_plus_duration():
    progress = [
        {"batchId": 3, "numInputRows": 5, "timestamp": "2026-01-01T00:00:01.250Z",
         "durationMs": {"triggerExecution": 750}},
        {"batchId": 4, "numInputRows": 0, "timestamp": "2026-01-01T00:00:03.000Z",
         "durationMs": {"triggerExecution": 1}},
    ]
    t0 = parse_progress_time("2026-01-01T00:00:00.000Z")
    assert batch_commit_times(progress) == {3: pytest.approx(t0 + 2.0)}


def test_delivered_rate_counts_rows_between_trigger_starts():
    def prog(sec, rows):
        return {"timestamp": f"2026-01-01T00:00:{sec:06.3f}Z", "numInputRows": rows,
                "durationMs": {}}

    t0 = parse_progress_time("2026-01-01T00:00:00.000Z")
    progress = [prog(1, 900), prog(3, 1000), prog(5.5, 1250), prog(6, 0), prog(9, 300)]
    # the first trigger's rows arrived before the window; the last started late
    assert delivered_rate(progress, t0 + 8) == pytest.approx((1000 + 1250) / 4.5)
    assert math.isnan(delivered_rate(progress, t0 + 2))


# -- intervals and the event log --------------------------------------------


def test_union_length_counts_overlaps_once():
    assert union_length([]) == 0
    assert union_length([(0, 10)]) == 10
    assert union_length([(0, 10), (5, 15)]) == 15
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([(20, 30), (0, 10)]) == 20
    assert union_length([(0, 10), (10, 12)]) == 12
    assert union_length([(5, 5), (7, 6)]) == 0


def test_read_event_log_groups_by_batch_and_job_group():
    def ev(kind, **kw):
        return json.dumps({"Event": kind, **kw})

    task = {"Executor Run Time": 40, "Executor CPU Time": 30_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 5}
    lines = [
        ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 100, "Stage IDs": [0, 1],
           "Properties": {"streaming.sql.batchId": "2", "spark.jobGroup.id": "run-id"}}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": task}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": task}),
        ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 180}),
        ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 150, "Stage IDs": [2],
           "Properties": {"streaming.sql.batchId": "2"}}),
        ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 200}),
        ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 300, "Stage IDs": [3],
           "Properties": {"spark.jobGroup.id": "lookup:0"}}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": task}),
        ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 310}),
        ev("SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 400, "Stage IDs": [4],
           "Properties": {}}),
    ]
    groups = read_event_log(lines)
    assert set(groups) == {"batch:2", "lookup:0"}
    b = groups["batch:2"]
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 2)
    assert b["task_ms"] == 80 and b["cpu_ns"] == 60_000_000
    assert b["shuffle_read_bytes"] == 6 and b["shuffle_write_bytes"] == 6
    assert b["spill_bytes"] == 18
    assert union_length(b["intervals"]) == 100
    assert groups["lookup:0"]["jobs"] == 1 and groups["lookup:0"]["task_ms"] == 40


# -- CPU meter ----------------------------------------------------------------


def test_work_cpu_counts_live_children_and_not_sleep():
    import subprocess
    import time

    me = os.getpid()
    t = sum(work_cpu(me))
    time.sleep(0.3)
    assert sum(work_cpu(me)) - t < 0.1
    burn = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.3:\n"
            "    pass\n"
            "sys.stdout.write('x'); sys.stdout.flush(); sys.stdin.read()\n")
    before = sum(work_cpu(me))
    child = subprocess.Popen([sys.executable, "-c", burn],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.read(1)  # the child has burned 0.3 s and still runs
        during = sum(work_cpu(me))
    finally:
        child.stdin.close()
        child.wait()
    assert during - before >= 0.25
