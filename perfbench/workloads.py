"""The two workloads. Each takes a running SparkSession and returns a
``Result``; every layer is driven through its public calls, and every
call the trace should attribute runs under a ``setJobGroup`` id.

Each timed operation is measured twice: in wall-clock time, which the
report carries, and in CPU time (``helpers.work_cpu``: the benchmark
process, the Spark JVM and its Python workers, less the JIT compiler
threads), which the end-to-end metrics carry. On a shared host the
wall-clock time of the same operation varies with how much CPU the other
tenants take; the CPU it uses varies far less (README.md, "Why CPU
time").
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

from gen import PaymentGen, batch_tables, publish, publish_many, write_tables
from helpers import (
    Reference,
    batch_commit_times,
    delivered_rate,
    file_batches,
    geomean,
    percentile,
    tail_percentile,
    work_cpu,
)

SETUP_REPS = 3  # stagings per run; setup_s takes their median


@dataclass(frozen=True)
class CPU:
    """User and system CPU seconds; a difference of two readings is the
    CPU an operation used."""

    user: float
    system: float

    def __sub__(self, other: "CPU") -> "CPU":
        return CPU(self.user - other.user, self.system - other.system)

    @property
    def total(self) -> float:
        return self.user + self.system


@dataclass
class Result:
    """What one workload run measured. ``e2e`` holds the contract's
    end-to-end values; ``report`` the named per-workload figures and sample
    counts; ``raw`` what the traced run needs for its per-layer
    breakdown."""

    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    raw: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def cpu(self, spark) -> Callable[[], CPU]:
        """A CPU meter for this run: ``work_cpu`` of the benchmark's
        process tree, less the JIT threads of the session's JVM."""
        jvm = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        pid = jvm.getRuntimeMXBean().getPid()
        return lambda: CPU(*work_cpu(os.getpid(), pid))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _stream_dirs(work: str, tag: str) -> tuple[str, str, str]:
    base = _fresh(os.path.join(work, tag))
    src = os.path.join(base, "src")
    os.makedirs(src)
    return src, os.path.join(base, "out"), os.path.join(base, "ck")


def _progress(query) -> list[dict]:
    return [json.loads(p.json()) for p in query._jsq.recentProgress()]


def _job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def _check_sinks(res: Result, out: str, ref: Reference) -> None:
    """Rails sink rows and sums, read back with pyarrow so the check adds
    no Spark jobs."""
    for rails, sink in (("BANK_RAILS_FOO", "rails_foo"), ("BANK_RAILS_BAR", "rails_bar")):
        want = ref.sinks[rails]
        table = pq.read_table(os.path.join(out, sink), columns=["paymentId", "amount", "currency"])
        got = dict(zip(table.column("paymentId").to_pylist(), table.column("amount").to_pylist()))
        res.check(
            table.num_rows == len(want) and got == want
            and set(table.column("currency").to_pylist()) <= {"GBP"},
            f"{sink}: {table.num_rows} rows, sum {sum(got.values())}; "
            f"expected {len(want)} rows, sum {sum(want.values())}",
        )


def _store_facts(out: str) -> dict:
    delta = os.path.join(out, "balance_delta")
    parts = [d for d in os.listdir(delta) if d.startswith("ingest_batch=")]
    files = size = 0
    for root, _, names in os.walk(delta):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    sink_files = sum(
        n.endswith(".parquet")
        for sink in ("rails_foo", "rails_bar")
        for n in os.listdir(os.path.join(out, sink))
    )
    return {"delta_partitions": len(parts), "delta_files": files,
            "delta_bytes": size, "files_written": files + sink_files}


# ---------------------------------------------------------------------------
# payment_stream: open-loop ingest, then lookups around a compaction
# ---------------------------------------------------------------------------


def payment_stream(spark, work: str, cfg: dict, seed: int, seconds: int) -> Result:
    from kafka_streams_spark.streaming.router import (
        BalanceView,
        compact_balances,
        run_payment_stream,
    )

    c = cfg["payment_stream"]
    res = Result()
    cpu = res.cpu(spark)
    gen = PaymentGen(seed, **cfg["payments"])
    pick = random.Random(seed + 1)
    ref = Reference()

    phases = [("start", time.perf_counter())]  # wall-clock phase boundaries
    stage, view_init = [], []
    for rep in range(SETUP_REPS):
        src, out, ck = _stream_dirs(work, f"stage{rep}")
        warm = gen.payments(c["payments_per_file"])
        t = time.perf_counter()
        query = run_payment_stream(spark, src, out, ck)
        publish(src, "warmup.json", warm)
        query.processAllAvailable()
        _job_group(spark, f"view_init:{rep}")
        tv = time.perf_counter()
        view = BalanceView(spark, out)
        view_init.append(time.perf_counter() - tv)
        _job_group(spark, f"warm_lookup:{rep}")
        view.get_balance(gen.senders[0])
        stage.append(time.perf_counter() - t)
        if rep < SETUP_REPS - 1:
            query.stop()
    ref.add(warm)
    res.setup_s = statistics.median(stage)

    phases.append(("stagings", time.perf_counter()))

    # 1. capacity: a backlog of files published at once, drained by
    # processAllAvailable. The first drains finish warming the micro-batch
    # path (JIT) and count as set-up; capacity is payments per second of
    # the median of the others, and ingest cost their CPU per 1000 payments.
    warm, reps = c["capacity_warmups"], c["capacity_reps"]
    drain_s, drain_cpu = [], []
    for rep in range(warm + reps):
        backlog = [(f"c{rep}-{k:03d}.json", gen.payments(c["payments_per_file"]))
                   for k in range(c["capacity_files"])]
        for _, pays in backlog:
            ref.add(pays)
        t, c0 = time.perf_counter(), cpu()
        publish_many(src, backlog)
        query.processAllAvailable()
        drain_s.append(time.perf_counter() - t)
        drain_cpu.append(cpu() - c0)
    res.setup_s += sum(drain_s[:warm])
    del drain_s[:warm], drain_cpu[:warm]
    drain_payments = c["capacity_files"] * c["payments_per_file"]
    capacity = drain_payments / statistics.median(drain_s)
    ingest_cpu_ms = statistics.median(x.total for x in drain_cpu) * 1000.0 * 1000 / drain_payments
    # the stream is stopped for the lookups: with its input drained it
    # would poll its source directory without pause, on the CPU the
    # lookups use. It restarts from its checkpoint for the open loop.
    query.stop()
    store = _store_facts(out)
    store_batches = max(file_batches(os.path.join(ck, "sources", "0")).values()) + 1

    phases.append(("drains", time.perf_counter()))

    # 2. one client: lookups on the full log, compaction, lookups again.
    # The log holds the same batches in every run: the staging file and
    # the drains, the newest delta partition (the one compaction leaves
    # open, which every later lookup lists) a full backlog.
    lookups: list[tuple[str, float, CPU]] = []  # (phase, wall ms, CPU)

    def lookup(phase: str) -> None:
        i = len(lookups)
        if i % c["never_sent_every"] == c["never_sent_every"] // 2:
            account = pick.choice(gen.receivers)
        else:
            account = gen.sender()
        _job_group(spark, f"lookup:{i}")
        t, c0 = time.perf_counter(), cpu()
        got = view.get_balance(account)
        lookups.append((phase, (time.perf_counter() - t) * 1000.0, cpu() - c0))
        want = ref.balance(account)
        res.check(got == want, f"lookup {account}: {got}, expected {want}")

    start, serving_c0 = time.perf_counter(), cpu()
    for _ in range(c["lookups_before_compaction"]):
        lookup("full_log")
    _job_group(spark, "compact")
    t, c0 = time.perf_counter(), cpu()
    hwm = compact_balances(spark, out)
    compact_s, compact_cpu = time.perf_counter() - t, cpu() - c0
    res.check(hwm is not None, "compact_balances folded nothing")
    for _ in range(c["lookups_after_compaction"]):
        lookup("compacted")
    serving_s, serving_cpu = time.perf_counter() - start, cpu() - serving_c0

    phases.append(("serving", time.perf_counter()))

    # 3. open loop on the restarted stream, after one file that takes the
    # restart's first-batch cost: files are due on a fixed schedule
    # whatever the stream does
    _job_group(spark, "restart")
    query = run_payment_stream(spark, src, out, ck)
    restart = gen.payments(c["payments_per_file"])
    ref.add(restart)
    publish(src, "restart.json", restart)
    query.processAllAvailable()
    first = max(file_batches(os.path.join(ck, "sources", "0")).values()) + 1
    interval = c["file_interval_s"]
    n_files = max(1, round(seconds / interval))
    files = [(f"p{k:06d}.json", gen.payments(c["payments_per_file"])) for k in range(n_files)]
    for _, pays in files:
        ref.add(pays)
    due: dict[str, float] = {}
    sent: dict[str, float] = {}

    def generator(t0: float) -> None:
        for k, (name, pays) in enumerate(files):
            due[name] = t0 + k * interval
            delay = due[name] - time.time()
            if delay > 0:
                time.sleep(delay)
            publish(src, name, pays)
            sent[name] = time.time()

    thread = threading.Thread(target=generator, args=(time.time() + 0.05,))
    phases.append(("restart", time.perf_counter()))
    thread.start()
    thread.join()
    query.processAllAvailable()
    progress = _progress(query)
    query.stop()
    phases.append(("open_loop", time.perf_counter()))

    batch_of = file_batches(os.path.join(ck, "sources", "0"))
    commit = batch_commit_times(progress)
    latency = []
    for name, _ in files:
        b = batch_of.get(name)
        ok = b is not None and b in commit
        res.check(ok, f"{name} was never committed")
        if ok:
            latency.append((commit[b] - due[name]) * 1000.0)
    _check_sinks(res, out, ref)
    _job_group(spark, "final_balances")
    got = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
    res.check(got == ref.balances, "final balances differ from the reference")

    measured = sorted(b for b in commit if b >= first)
    delivered = delivered_rate(
        [p for p in progress if int(p["batchId"]) >= first], max(due.values()))
    full_log = [ms for phase, ms, _ in lookups if phase == "full_log"]
    compacted = [ms for phase, ms, _ in lookups if phase == "compacted"]
    compacted_cpu = [x.total * 1000.0 for phase, _, x in lookups if phase == "compacted"]
    res.e2e = {
        "light_cpu_ms": statistics.median(compacted_cpu),
        "heavy_cpu_ms": ingest_cpu_ms,
        "job_cpu_s": serving_cpu.total,
    }
    res.report = {
        "stream_latency_p50_ms": percentile(latency, 50),
        # the highest percentile with ten files beyond it
        "stream_latency_tail_ms": percentile(latency, tail_percentile(len(latency))),
        "stream_latency_tail_pct": tail_percentile(len(latency)),
        "stream_latency_files": len(latency),
        "stream_delivered_events_per_s": delivered,
        "stream_offered_events_per_s": c["payments_per_file"] / interval,
        "stream_capacity_events_per_s": capacity,
        "ingest_cpu_ms_per_1k_payments": ingest_cpu_ms,
        "capacity_drain_s": drain_s,
        # user and system CPU seconds per drain, lookup, compaction
        "capacity_drain_cpu_s": [[x.user, x.system] for x in drain_cpu],
        # batches per drain: more than one means the source listed the
        # backlog while it was being renamed in
        "capacity_drain_batches": [
            len({b for n, b in batch_of.items() if n.startswith(f"c{rep}-")})
            for rep in range(warm, warm + reps)],
        "micro_batches": len(measured),
        "lookup_full_log_p50_ms": percentile(full_log, 50),
        "lookup_compacted_p50_ms": percentile(compacted, 50),
        "lookup_compacted_cpu_p50_ms": res.e2e["light_cpu_ms"],
        "lookups": len(lookups),
        "compact_s": compact_s,
        "compact_cpu_s": [compact_cpu.user, compact_cpu.system],
        "serving_s": serving_s,
        "serving_cpu_s": [serving_cpu.user, serving_cpu.system],
        # per lookup: phase, wall ms, user and system CPU ms
        "lookup_ms": [[phase, ms, x.user * 1000.0, x.system * 1000.0]
                      for phase, ms, x in lookups],
        # per measured batch: rows, then ms in trigger, listing, addBatch, commit
        "batch_ms": [[p["numInputRows"]] + [
            sum(p["durationMs"].get(k, 0) for k in ks) for ks in
            (("triggerExecution",), ("latestOffset",), ("addBatch",),
             ("walCommit", "commitOffsets"))]
            for p in progress if p["numInputRows"] > 0 and int(p["batchId"]) in measured],
    }
    phases.append(("checks", time.perf_counter()))
    res.report["phases_s"] = {name: t - phases[i][1] for i, (name, t) in enumerate(phases[1:])}
    res.raw = {"progress": [p for p in progress if int(p["batchId"]) >= first],
               "lateness_ms": [(sent[n] - due[n]) * 1000.0 for n in due], "store": store,
               "batches_total": store_batches,
               "lookups": [(phase, ms) for phase, ms, _ in lookups],
               "view_init_s": view_init}
    return res


# ---------------------------------------------------------------------------
# batch_queries: a stratified subset of the declared queries
# ---------------------------------------------------------------------------


def batch_queries(spark, work: str, cfg: dict, seed: int, seconds: int) -> Result:
    import __spark_entry__ as entry
    from make_oracle import canon_digest

    c = cfg["batch_queries"]
    res = Result()
    cpu = res.cpu(spark)
    with open(os.path.join(os.path.dirname(__file__), "oracle.json")) as f:
        oracle = json.load(f)
    tables = batch_tables(c["data_seed"], c["scale"])
    stage = []
    for rep in range(SETUP_REPS):
        sf = _fresh(os.path.join(work, f"tables{rep}"))
        t = time.perf_counter()
        write_tables(tables, sf)
        stage.append(time.perf_counter() - t)
    qs = entry.queries()
    order = sorted(c["queries"])
    random.Random(seed).shuffle(order)

    # one untimed execution per query, which is also the correctness check
    warm_ms = {}
    for name in order:
        _job_group(spark, f"warm:{name}")
        t = time.perf_counter()
        pdf = qs[name](spark, sf).toPandas()
        warm_ms[name] = (time.perf_counter() - t) * 1000.0
        res.check(canon_digest(pdf) == oracle[name], f"{name} differs from its DuckDB twin")
    warm_s = sum(warm_ms.values()) / 1000.0
    res.setup_s = statistics.median(stage) + warm_s

    samples: dict[str, list[tuple[float, float]]] = {q: [] for q in order}
    cpu_s: dict[str, list[CPU]] = {q: [] for q in order}
    # a fixed number of whole timed passes, so each query's figure is a
    # median of that many samples, however fast the host runs
    for p in range(c["passes"]):
        for name in order:
            spark.catalog.clearCache()
            _job_group(spark, f"run:{p}:{name}:build")
            t0, c0 = time.perf_counter(), cpu()
            df = qs[name](spark, sf)
            _job_group(spark, f"run:{p}:{name}:exec")
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples[name].append((t1 - t0, time.perf_counter() - t1))
            cpu_s[name].append(cpu() - c0)
    # drop what the last query left, so the live heap measured after the
    # run does not depend on which query the seed put last
    del df, pdf
    spark.catalog.clearCache()

    per_query = {q: statistics.median(b + e for b, e in s) for q, s in samples.items()}
    per_query_cpu = {q: statistics.median(x.total for x in s) for q, s in cpu_s.items()}
    total = sum(per_query.values())
    times_ms = [v * 1000.0 for v in per_query.values()]

    def stratum_geomean_ms(values: dict, k: str) -> float:
        return geomean([values[q] * 1000.0 for q in order if c["queries"][q]["stratum"] == k])

    res.e2e = {
        "light_cpu_ms": stratum_geomean_ms(per_query_cpu, "light"),
        "heavy_cpu_ms": stratum_geomean_ms(per_query_cpu, "heavy"),
        "job_cpu_s": sum(per_query_cpu.values()),
    }
    res.report = {
        "batch_total_s": total,
        "batch_geomean_ms": geomean(times_ms),
        "batch_queries": len(per_query),
        "batch_light_geomean_ms": stratum_geomean_ms(per_query, "light"),
        "batch_heavy_geomean_ms": stratum_geomean_ms(per_query, "heavy"),
        "batch_p50_ms": percentile(times_ms, 50),
        "batch_total_cpu_s": res.e2e["job_cpu_s"],
        "batch_passes": c["passes"],
        "batch_warmup_s": warm_s,
        "batch_query_ms": {q: per_query[q] * 1000.0 for q in sorted(per_query)},
        "batch_query_cpu_ms": {q: per_query_cpu[q] * 1000.0 for q in sorted(per_query)},
        # user and system CPU ms per query and pass
        "batch_query_cpu_parts_ms": {q: [[x.user * 1000.0, x.system * 1000.0] for x in cpu_s[q]]
                                     for q in sorted(per_query)},
        "batch_warmup_ms": dict(sorted(warm_ms.items())),
    }
    res.raw = {"samples": samples, "modules": {q: c["queries"][q]["module"] for q in order},
               }
    return res


WORKLOADS = {"payment_stream": payment_stream, "batch_queries": batch_queries}
