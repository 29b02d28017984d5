#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload csv_load --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. A run generates its inputs from the
seed, starts a ``local[nproc]`` session through ``session.get_spark``
with an explicit memory cap, drives the engine through its public
functions in a closed loop with one client, checks the committed table
against an independently computed expected state through two readers,
and prints one JSON object as the last line of standard output. With
``--trace 0`` it holds the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a traced run (see ``spans.py``). The line before it
is the run's stamp. Everything the run writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "component_delta_lake_writer_spark"
MEMORY = "2g"  # spark.driver.memory: driver and executors share one local JVM
TIMED_PREFIX = "op."

END_TO_END = {
    "setup_s": "s",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "lookup_p50_s": "s",
    "rows_per_s": "1/s",
    "written_bytes_per_input_byte": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

_OP_KINDS = ("write", "upsert", "read", "lookup", "maintain")
PER_LAYER = {
    "session.start_s": "s",
    "datadir.bind_s": "s",
    "runner.plan_s": "s",
    "sources.drain_s": "s",
    "sources.rows": "count",
    "managed_table.write.self_s": "s",
    "managed_table.write.jobs_s": "s",
    "managed_table.write.driver_s": "s",
    "managed_table.upsert.self_s": "s",
    "managed_table.upsert.jobs_s": "s",
    "managed_table.upsert.driver_s": "s",
    "managed_table.rewrite_rows_per_source_row": "ratio",
    "managed_table.files_added": "count",
    "managed_table.files_removed": "count",
    "managed_table.latest_commit_s": "s",
    "managed_table.read.self_s": "s",
    "managed_table.read_where.self_s": "s",
    "managed_table.units_live": "count",
    "managed_table.delete_sets_live": "count",
    "managed_table.optimize_s": "s",
    "managed_table.vacuum_s": "s",
    "unit_stats.collect_s": "s",
    "unit_stats.files": "count",
    "unit_stats.prune_kept_ratio": "ratio",
    "delta_log.entry_s": "s",
    "delta_log.checkpoint_s": "s",
    "delta_log.checkpoints": "count",
    "delta_log.bytes": "bytes",
    "delta_log.replay_read_s": "s",
    "deletion_vectors.write_s": "s",
    "deletion_vectors.bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "driver.self_s": "s",
    **{
        f"op.{k}.{m}": u
        for k in _OP_KINDS
        for m, u in (
            ("wall_s", "s"),
            ("spark.jobs", "count"),
            ("spark.task_s", "s"),
            ("driver.self_s", "s"),
        )
    },
    "trace.ops": "count",
    "trace.job_coverage": "ratio",
    "trace.overhead_s": "s",
    "trace.commit_p50_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_memory_mb(spark) -> dict[str, float]:
    """The JVM's VmHWM, its committed heap, which ``-Xms`` and pre-touch
    keep resident in full from launch, and each heap pool's peak use."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    out = {
        "vm_hwm": vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()),
        "heap_committed": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20,
    }
    for p in mf.getMemoryPoolMXBeans():
        if p.getType().name() == "HEAP":
            out[f"peak {p.getName()}"] = p.getPeakUsage().getUsed() / 2**20
    return out


def stop_jvm() -> None:
    """Stop the session and end its JVM, waiting for the process."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def start_session(threads: int, work: str, event_dir: str | None):
    """Launch the ``local[threads]`` session with the memory cap, its
    scratch space in ``work``, and the event log in traced runs."""
    from component_delta_lake_writer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at launch, so the JVM's VmHWM
        # is the whole heap plus native memory; peak_rss_mb swaps the
        # heap for its high-water mark
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{MEMORY} -XX:+AlwaysPreTouch"
        ),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
        })
    return get_spark(
        app_name="perfbench", threads=threads, memory=MEMORY,
        temp_directory=tmp, extra_conf=conf,
    )


def drain(spark, data_dir: str, table: str, tracer) -> tuple[float, int]:
    """Scan, cast and order reconstruction of the csv_load frame into a
    noop sink, outside the traced operations' spans."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark import datadir, runner

    with tracer.span("phase.drain"):
        spec, tbl, _files = datadir.bind_job(spark, data_dir, table)
        t0 = time.perf_counter()
        df = runner.plan_table_scan(spark, tbl, preserve_order=spec.preserve_insertion_order)
        obs = Observation("drain")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0, int(obs.get["rows"])


def per_call(m: dict, name: str, field: str) -> float:
    calls = m.get(f"{name}.calls", 0)
    return m.get(f"{name}.{field}", 0.0) / calls if calls else 0.0


def layer_metrics(run, counters, spark_m, extra) -> dict:
    commits = max(1, len(run.commit_s))
    mt = "managed_table"
    out = {
        "session.start_s": extra["session.start_s"],
        "datadir.bind_s": per_call(spark_m, "datadir.bind_job", "total_s"),
        "runner.plan_s": per_call(spark_m, "runner.plan_table_scan", "total_s"),
        "sources.drain_s": extra.get("sources.drain_s", 0.0),
        "sources.rows": extra.get("sources.rows", 0),
        f"{mt}.rewrite_rows_per_source_row": (
            run.rewrite_rows / run.upsert_source_rows if run.upsert_source_rows else 0.0
        ),
        f"{mt}.files_added": counters.get(f"{mt}.files_added", 0) / commits,
        f"{mt}.files_removed": counters.get(f"{mt}.files_removed", 0) / commits,
        f"{mt}.latest_commit_s": per_call(spark_m, f"{mt}.latest_commit", "total_s"),
        f"{mt}.units_live": statistics.fmean(run.units_seen) if run.units_seen else 0.0,
        f"{mt}.delete_sets_live": (
            statistics.fmean(run.delete_sets_seen) if run.delete_sets_seen else 0.0
        ),
        f"{mt}.optimize_s": per_call(spark_m, f"{mt}.optimize", "total_s"),
        f"{mt}.vacuum_s": per_call(spark_m, f"{mt}.vacuum", "total_s"),
        "unit_stats.collect_s": per_call(spark_m, "unit_stats.collect_unit_stats", "total_s"),
        "unit_stats.files": counters.get("unit_stats.files", 0) / commits,
        "unit_stats.prune_kept_ratio": (
            counters["prune.kept"] / counters["prune.considered"]
            if counters.get("prune.considered") else 1.0
        ),
        "delta_log.entry_s": per_call(spark_m, "delta_log.write_delta_log_entry", "total_s"),
        "delta_log.checkpoint_s": per_call(spark_m, "delta_log.write_checkpoint", "total_s"),
        "delta_log.checkpoints": counters.get("delta_log.checkpoints", 0),
        "delta_log.bytes": extra["delta_log.bytes"],
        "delta_log.replay_read_s": statistics.fmean(run.replay_s),
        "deletion_vectors.write_s": per_call(
            spark_m, "deletion_vectors.write_dv_file", "total_s"
        ),
        "deletion_vectors.bytes": counters.get("deletion_vectors.bytes", 0) / commits,
        "trace.ops": sum(len(v) for v in run.lat.values()),
        "trace.job_coverage": spark_m.get("trace.job_coverage", 1.0),
        "trace.overhead_s": extra["trace.overhead_s"],
        "trace.commit_p50_s": statistics.median(run.commit_s),
    }
    for m in ("write", "upsert", "read", "read_where"):
        for field in ("self_s", "jobs_s", "driver_s"):
            key = f"{mt}.{m}.{field}"
            if key in PER_LAYER:
                out[key] = per_call(spark_m, f"{mt}.{m}", field)
    for key in ("spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s",
                "spark.shuffle_bytes", "spark.core_busy_ratio", "driver.self_s"):
        out[key] = spark_m.get(key, 0)
    for k in _OP_KINDS:
        n = spark_m.get(f"op.{k}.n", 0)
        for field in ("wall_s", "spark.jobs", "spark.task_s", "driver.self_s"):
            v = spark_m.get(f"op.{k}.{field}", 0.0)
            out[f"op.{k}.{field}"] = v / n if n else 0.0
    return out


def main(argv=None) -> int:
    import workloads as W

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    threads = len(os.sched_getaffinity(0))
    with open("/proc/loadavg") as f:
        loadavg = float(f.read().split()[0])
    steal0, total0 = cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(os.path.join(work, "tmp"))
    if event_dir:
        os.makedirs(event_dir)
    # Python, the JVM and Spark all keep their scratch files in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise keep /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    run = W.Run(work, args.seed, threads, args.seconds)
    tracer = None
    try:
        from spans import Tracer, read_event_log, spark_metrics

        generate, prepare, loop = W.WORKLOADS[args.workload]
        table = run.table
        t0 = time.perf_counter()
        state = generate(run)
        gen_s = time.perf_counter() - t0
        # set-up: interpreter and imports, the session launch, and the
        # untimed engine preparation (warm-up and target); generating
        # inputs is the benchmark's own work and is left out
        import_s = process_age_s() - gen_s
        t0 = time.perf_counter()
        spark = run.spark = start_session(threads, work, event_dir)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        prepare(run, state)
        prep_s = time.perf_counter() - t0
        setup_s = import_s + start_s + prep_s

        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tracer.install()
            run.tracer = tracer
        t0 = time.perf_counter()
        loop(run, state)
        phases = {"loop": time.perf_counter() - t0}
        t0 = time.perf_counter()
        counters = dict(tracer.counters) if tracer else {}
        overhead_s = tracer.overhead_s if tracer else 0.0
        extra = {"session.start_s": start_s, "trace.overhead_s": overhead_s}
        if tracer and args.workload == "csv_load":
            extra["sources.drain_s"], extra["sources.rows"] = drain(
                spark, state["data_dir"], table, tracer
            )
        if args.workload == "csv_load":
            # the ingest loop ends with its own timed optimize + vacuum
            run.op("vacuum", lambda: W.managed(spark, table).vacuum(), timed=False)
        phases["drain_vacuum"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        run.verify(args.workload == "csv_load")
        phases["verify"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        stored = sum(W.dir_files(table).values())
        extra["delta_log.bytes"] = sum(W.dir_files(os.path.join(table, "_delta_log")).values())
        # the JVM's VmHWM with the heap replaced by its high-water mark
        memory = jvm_memory_mb(spark) | {"python_vm_hwm": vm_hwm_mb("self")}
        peak_rss_mb = memory["vm_hwm"] - memory["heap_committed"] + sum(
            v for k, v in memory.items() if k.startswith("peak ")
        ) + memory["python_vm_hwm"]
        app_id = spark.sparkContext.applicationId
        if tracer:
            tracer.uninstall()
        stop_jvm()  # also flushes and closes the event log
        phases["stop"] = time.perf_counter() - t0
        phases["process"] = process_age_s()
        steal1, total1 = cpu_ticks()

        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "threads": threads,
            "memory": MEMORY, "loadavg_1m": loadavg,
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "import_s": import_s, "start_s": start_s, "gen_s": gen_s,
            "prep_s": prep_s, "phases_s": phases, "memory_mb": memory,
            "latencies_s": {k: [round(x, 4) for x in v]
                            for k, v in {**run.lat, "commit": run.commit_s}.items()},
            "recent_key_share": run.gen.recent_key_share,
            "error_rate": run.failed / max(1, run.attempted),
        }
        if args.trace:
            jobs = read_event_log(os.path.join(event_dir, app_id))
            spark_m = spark_metrics(tracer, jobs, TIMED_PREFIX, threads)
            metrics = layer_metrics(run, counters, spark_m, extra)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "commit_p50_s": statistics.median(run.commit_s),
                "read_p50_s": statistics.median(run.lat["read"]),
                "lookup_p50_s": statistics.median(run.lat["lookup"]),
                "rows_per_s": run.rows / run.loop_s,
                "written_bytes_per_input_byte": run.written_bytes / run.input_bytes,
                "stored_bytes_per_input_byte": stored / run.live_input_bytes,
                "peak_rss_mb": peak_rss_mb,
            }
            units = END_TO_END
        print(json.dumps({"stamp": stamp}))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if tracer:
            tracer.uninstall()
        try:
            stop_jvm()
        finally:
            run.close()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only once no other run uses it
            except OSError:
                pass


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
