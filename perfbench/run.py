"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see config.json and README.md):
  payment_stream  open-loop payment files through run_payment_stream, then
                  BalanceView lookups around a compact_balances
  batch_queries   a module-stratified subset of bench.BENCH_QUERIES

It starts one SparkSession at local[4], drives the workload through the
engine's public calls, checks every output against a reference, and
prints a report line and, last, one JSON result line. With ``--trace 1``
the Spark event log is on and the result carries the per-layer
breakdown instead of the end-to-end metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
MASTER = f"local[{CPUS}]"
DRIVER_MEMORY = "2g"


def _parse_args(argv, spec: dict):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _host_facts(seed: int, graft_cpus: str | None, spark_version: str) -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": graft_cpus,
            "master": MASTER, "spark": spark_version,
            "commit": commit, "seed": seed}


def _jvm_memory_mb(spark) -> dict:
    """What the JVM holds, in MB, read from its memory MXBeans: the heap
    still live after a full GC at the end of the run, and the peak of each
    non-heap pool (metaspace, code cache). The heap's own peak is left
    out: with a fixed heap it tracks when the collector ran, not what the
    program kept."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc.collect()  # release the JVM objects that dead Python proxies still pin
    jvm.java.lang.System.gc()
    # the ContextCleaner drops the broadcast and shuffle blocks of what that
    # collected on its own thread; give it time, then collect what it freed
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    out = {"live_heap": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20}
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Non-heap memory":
            out[pool.getName()] = pool.getPeakUsage().getUsed() / 2**20
    return out


def _gc_s(spark) -> dict:
    """Collections and seconds spent in them so far, per JVM collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {c.getName(): [c.getCollectionCount(), c.getCollectionTime() / 1000.0]
            for c in mf.getGarbageCollectorMXBeans()}


def _cpu_jiffies() -> list[int]:
    """The host's cumulative CPU times (/proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _per_layer(res, groups: dict, names) -> dict:
    from helpers import percentile, union_length

    m = {name: 0.0 for name in names}
    med = statistics.median
    # idle triggers (no input, no addBatch) would add zeros to the medians
    progress = [p for p in res.raw.get("progress", []) if p.get("numInputRows", 0) > 0]
    if progress:
        dur = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
        m["source.latest_offset_ms_p50"] = med(dur("latestOffset"))
        m["source.get_batch_ms_p50"] = med(dur("getBatch"))
        m["router.add_batch_ms_p50"] = med(dur("addBatch"))
        m["router.trigger_ms_p50"] = med(dur("triggerExecution"))
        m["router.planning_ms_p50"] = med(dur("queryPlanning"))
        m["router.commit_ms_p50"] = med(
            [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))])
        m["router.rows_per_batch_p50"] = med([p["numInputRows"] for p in progress])
        per_batch = [(p, groups.get(f"batch:{p['batchId']}")) for p in progress]
        per_batch = [(p, g) for p, g in per_batch if g is not None]
        if per_batch:
            m["router.jobs_per_batch"] = med([g["jobs"] for _, g in per_batch])
            m["router.stages_per_batch"] = med([g["stages"] for _, g in per_batch])
            m["router.task_ms_per_batch"] = med([g["task_ms"] for _, g in per_batch])
            m["router.shuffle_bytes_per_batch"] = med(
                [g["shuffle_read_bytes"] + g["shuffle_write_bytes"] for _, g in per_batch])
            m["router.driver_ms_per_batch"] = med(
                [max(0.0, p["durationMs"].get("addBatch", 0) - union_length(g["intervals"]))
                 for p, g in per_batch])
    store = res.raw.get("store")
    if store:
        m["store.delta_partitions"] = store["delta_partitions"]
        m["store.delta_files"] = store["delta_files"]
        m["store.delta_bytes"] = store["delta_bytes"]
        m["router.files_written_per_batch"] = store["files_written"] / res.raw["batches_total"]
    if res.raw.get("lateness_ms"):
        m["gen.lateness_p99_ms"] = percentile(res.raw["lateness_ms"], 99)
    lookups = res.raw.get("lookups")
    if lookups:
        m["view.init_ms"] = med(res.raw["view_init_s"]) * 1000.0
        for phase in ("full_log", "compacted"):
            m[f"view.get_balance_ms.{phase}"] = med([ms for ph, ms in lookups if ph == phase])
        lookup_groups = [g for k, g in groups.items() if k.startswith("lookup:")]
        m["view.jobs_per_lookup"] = sum(g["jobs"] for g in lookup_groups) / len(lookups)
        m["compact.jobs"] = groups.get("compact", {}).get("jobs", 0)
    samples = res.raw.get("samples")
    if samples:
        n = {q: len(s) for q, s in samples.items()}
        for q, s in samples.items():
            mod = res.raw["modules"][q].split(".")[-1]
            m[f"batch.{mod}_s"] += med(b + e for b, e in s)
            m["batch.build_s"] += med(b for b, _ in s)
            m["batch.exec_s"] += med(e for _, e in s)
        # per-query means over its samples, summed over the queries: one pass
        busy_ms = {q: 0.0 for q in samples}
        for k, g in groups.items():
            if not k.startswith("run:"):
                continue
            q = k.split(":")[2]
            m["batch.jobs"] += g["jobs"] / n[q]
            m["batch.stages"] += g["stages"] / n[q]
            m["batch.task_s"] += g["task_ms"] / 1000.0 / n[q]
            m["batch.cpu_s"] += g["cpu_ns"] / 1e9 / n[q]
            m["batch.shuffle_read_bytes"] += g["shuffle_read_bytes"] / n[q]
            m["batch.shuffle_write_bytes"] += g["shuffle_write_bytes"] / n[q]
            m["batch.spill_bytes"] += g["spill_bytes"] / n[q]
        for q in samples:
            for p in range(n[q]):
                busy_ms[q] += union_length(
                    groups.get(f"run:{p}:{q}:build", {}).get("intervals", [])
                    + groups.get(f"run:{p}:{q}:exec", {}).get("intervals", []))
        m["batch.driver_s"] = sum(
            max(0.0, sum(b + e for b, e in samples[q]) - busy_ms[q] / 1000.0) / n[q]
            for q in samples)
    return m


def main(argv=None) -> int:
    started = time.perf_counter()
    # BENCHMARK.json names the metrics and their units; a run reports exactly those
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    args = _parse_args(argv, spec)
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    # everything the run writes, the JVM and its Python workers included,
    # stays inside the checkout
    os.environ.update({"SPARK_GRAFT_CPUS": str(CPUS), "SPARK_DRIVER_MEM": DRIVER_MEMORY,
                       "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       # JVMs otherwise keep perf counters under /tmp
                       "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, spec, cfg, graft_cpus, work, tmp, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, spec, cfg, graft_cpus, work, tmp, started) -> int:
    from kafka_streams_spark import get_spark
    from workloads import WORKLOADS

    events = os.path.join(work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap, so heap growth and first-touch page
        # faults do not land in the measured phases; JIT compiler threads
        # that never exit, so their CPU can be left out of the CPU metrics
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=MASTER,
                      shuffle_partitions=4, extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        spark_version = spark.version
        cpu0 = _cpu_jiffies()
        res = WORKLOADS[args.workload](spark, work, cfg, args.seed, args.seconds)
        cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
        gc_s = _gc_s(spark)
        pools = _jvm_memory_mb(spark)
        python_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        _stop(spark)

    e2e = {"setup_s": session_s + res.setup_s,
           "memory_mb": sum(pools.values()) + python_mb, **res.e2e}
    report = {
        "workload": args.workload, "trace": args.trace,
        "host": _host_facts(args.seed, graft_cpus, spark_version),
        "end_to_end": e2e, "session_s": session_s,
        "run_s": time.perf_counter() - started,  # to here; the JVM has stopped
        "memory_pools_mb": pools,
        "python_rss_mb": python_mb, "gc": gc_s,
        # host CPU shares over the workload: busy, idle and stolen by the
        # hypervisor; a high steal share marks a run slowed from outside
        "host_cpu_share": {k: v / sum(cpu) for k, v in
                           (("busy", sum(cpu[:3]) + sum(cpu[5:7])), ("idle", sum(cpu[3:5])),
                            ("steal", cpu[7]))},
        **res.report,
        "failed_ratio": res.failed / res.attempted if res.attempted else 1.0,
        "failed_base": res.attempted, "errors": res.errors[:10],
    }
    if args.trace:
        from helpers import read_event_log

        (log,) = os.listdir(events)
        with open(os.path.join(events, log)) as f:
            groups = read_event_log(f)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layer = _per_layer(res, groups, units)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
