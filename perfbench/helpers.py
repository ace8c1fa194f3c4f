"""Pure helpers of the benchmark: percentiles, the payment reference
model, the file-source log reader, interval arithmetic and the Spark
event-log reader. Nothing here starts Spark; perfbench/test_helpers.py
tests each function.
"""

from __future__ import annotations

import datetime
import json
import math
import os
from collections import defaultdict

FX_RATE_USD_GBP = 0.8
SUPPORTED_RAILS = ("BANK_RAILS_FOO", "BANK_RAILS_BAR")


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest percentile that leaves at least ``beyond`` of n samples
    above it: p90 for 100 samples, p80 for 50."""
    if n <= beyond:
        raise ValueError(f"{n} samples leave none beyond {beyond}")
    return 100.0 * (n - beyond) / n


# the JVM's JIT compiler threads, by their (truncated) /proc names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_stat(path: str) -> tuple[str, list[str]]:
    """The command name and the fields after it of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1: text.rindex(")")], text.rsplit(")", 1)[1].split()


def work_cpu(root: int, jvm: int | None = None) -> tuple[float, float]:
    """User and system CPU seconds that process ``root`` and every live
    descendant have used so far, children they already reaped included,
    read from ``/proc``; less what the JIT compiler threads of process
    ``jvm`` used, which compile on their own schedule. Time the
    hypervisor stole is not charged to a process, and time spent waiting
    for a CPU is not CPU time."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, fields = _proc_stat(f"/proc/{name}/stat")
        except OSError:
            continue  # exited while listed
        # after the command: state, ppid, ... utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[13]),
                            int(fields[12]) + int(fields[14]))
    children = defaultdict(list)
    for pid, (ppid, _, _) in stats.items():
        children[ppid].append(pid)
    user = system = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        _, u, s = stats.get(pid, (0, 0, 0))
        user, system = user + u, system + s
        todo.extend(children[pid])
    if jvm is not None:
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                comm, fields = _proc_stat(f"/proc/{jvm}/task/{tid}/stat")
            except OSError:
                continue
            if comm in JIT_THREADS:
                user -= int(fields[11])
                system -= int(fields[12])
    tick = os.sysconf("SC_CLK_TCK")
    return user / tick, system / tick


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---------------------------------------------------------------------------
# payment reference model (PaymentTopology.java, FIXTURES.md sections 2-4)
# ---------------------------------------------------------------------------


def java_round(x: float) -> int:
    """Java Math.round for doubles: floor(x + 0.5)."""
    return math.floor(x + 0.5)


def route(payment: dict) -> dict | None:
    """The payment as the rails sinks hold it, or None when the topology
    drops it: unsupported rails, or a currency other than GBP/USD. USD
    amounts are converted at 0.8 with Math.round and relabelled GBP."""
    if payment["rails"] not in SUPPORTED_RAILS:
        return None
    if payment["currency"] == "GBP":
        return payment
    if payment["currency"] == "USD":
        out = dict(payment)
        out["amount"] = java_round(payment["amount"] * FX_RATE_USD_GBP)
        out["currency"] = "GBP"
        return out
    return None


class Reference:
    """Running truth: what the two rails sinks and the balance store
    must hold after a sequence of payments."""

    def __init__(self):
        self.sinks = {rails: {} for rails in SUPPORTED_RAILS}
        self.balances: dict[str, int] = {}

    def add(self, payments) -> None:
        for p in payments:
            routed = route(p)
            if routed is None:
                continue
            self.sinks[routed["rails"]][routed["paymentId"]] = routed["amount"]
            acc = routed["fromAccount"]
            self.balances[acc] = self.balances.get(acc, 0) + routed["amount"]

    def balance(self, account: str) -> int | None:
        """None for an account that never sent a routed payment (the
        reference's 404), never 0."""
        return self.balances.get(account)


# ---------------------------------------------------------------------------
# Structured Streaming logs
# ---------------------------------------------------------------------------


def file_batches(sources_dir: str) -> dict[str, int]:
    """Map each input file to the micro-batch that consumed it, from the
    file source's metadata log ``<checkpoint>/sources/0/``. The log is
    compacted every few batches into ``N.compact``, which then holds the
    entries of all earlier batches; the plain files of those batches may
    be deleted, so both kinds are read. Keys are file basenames."""
    out: dict[str, int] = {}
    for name in os.listdir(sources_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # .crc and temp files
        with open(os.path.join(sources_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # the first line is the log version
            if not line.strip():
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def parse_progress_time(stamp: str) -> float:
    """Epoch seconds of a StreamingQueryProgress ``timestamp``
    (ISO-8601 UTC, millisecond precision)."""
    dt = datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def batch_commit_times(progress) -> dict[int, float]:
    """Commit time of each micro-batch on the JVM clock: the trigger's
    start ``timestamp`` plus its ``triggerExecution`` duration."""
    out = {}
    for p in progress:
        if p.get("numInputRows", 0) == 0:
            continue
        dur = p["durationMs"].get("triggerExecution", 0)
        out[int(p["batchId"])] = parse_progress_time(p["timestamp"]) + dur / 1000.0
    return out


def delivered_rate(progress, until: float) -> float:
    """Rows consumed per second while the load ran. A trigger consumes
    what arrived since the previous trigger started, so the rows of
    triggers 2..n over the time from the first to the last trigger start
    equals the offered rate while the stream keeps up, and falls below it
    when a backlog builds. Only triggers that started by ``until`` (epoch
    seconds) count; NaN when fewer than two did."""
    starts = sorted(
        (parse_progress_time(p["timestamp"]), p["numInputRows"])
        for p in progress
        if p.get("numInputRows", 0) > 0
    )
    starts = [(t, n) for t, n in starts if t <= until]
    if len(starts) < 2:
        return float("nan")
    return sum(n for _, n in starts[1:]) / (starts[-1][0] - starts[0][0])


# ---------------------------------------------------------------------------
# intervals and the Spark event log
# ---------------------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals, counting
    overlaps once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def job_key(props: dict) -> str | None:
    """The unit a job belongs to: its micro-batch (``batch:<id>``) when
    Structured Streaming ran it, else its ``setJobGroup`` id."""
    batch = props.get("streaming.sql.batchId")
    if batch is not None:
        return f"batch:{batch}"
    return props.get("spark.jobGroup.id")


def _zero_group():
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "cpu_ns": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "intervals": []}


def read_event_log(lines) -> dict[str, dict]:
    """Aggregate a Spark event log (JSON lines) by :func:`job_key`:
    jobs, stages that ran, task run time and CPU time, shuffle and spill
    bytes, and each job's (submission, completion) interval in ms."""
    job_of_stage: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(_zero_group)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = job_key(ev.get("Properties") or {})
            if key is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = key
            job_start[jid] = ev["Submission Time"]
            groups[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                job_of_stage.setdefault(sid, key)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]]["intervals"].append(
                    (job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            key = job_of_stage.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                groups[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = job_of_stage.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if key is None or not metrics:
                continue
            g = groups[key]
            g["tasks"] += 1
            g["task_ms"] += metrics.get("Executor Run Time", 0)
            g["cpu_ns"] += metrics.get("Executor CPU Time", 0)
            read = metrics.get("Shuffle Read Metrics", {})
            g["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0)
            g["shuffle_write_bytes"] += metrics.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            g["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0)
    return dict(groups)
