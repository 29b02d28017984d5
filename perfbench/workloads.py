"""The two workloads. Each one is a closed loop with one client: the
client issues one operation, waits for its commit (or its result), then
prepares and issues the next, as a Keboola job does.

Every workload is three functions: ``generate`` writes its inputs (the
benchmark's own work), ``prepare`` is the untimed engine work before the
loop (a warm-up that runs the workload's steps once, then the target
write), and ``loop`` is the timed phase. Sizes are scaled
so that a run with its set-up and the correctness gate fits the run
budget on a 4-core host; README.md gives them and the reasons.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

from pyspark.sql import functions as F

import check
import gen as gen_mod

CSV_ROWS = 100_000
TARGET_ROWS = 50_000
ROWS_PER_FILE = 25_000
INGEST_APPEND = 500
INGEST_UPSERT = 500
UPDATE_SHARE = 0.7  # of an upsert batch; the rest inserts past the max key
RECENT_SHARE = 0.8  # of the updates, drawn from the newest key decile
READER_PAIRS = 10  # read + lookup pairs after the csv_load loop
# Each loop runs for --seconds and at least this much work, which the
# run budget's --seconds never exceeds, so every run has the same
# number of samples.
MIN_JOBS = 6  # data-dir jobs in a csv_load run
MIN_ROUNDS = 2  # ingest rounds in an ingest_mor_read run
# An ingest round is this many cycles of two commits each, then
# optimize + vacuum. Every round starts from a compacted table, so its
# reads see the same numbers of units and delete sets whatever the round
# count; the commits of two rounds cross the 10-commit checkpoint
# interval at least once.
INGEST_CYCLES = 3
# the first Spark jobs of a session pay class loading and code
# generation: the warm-up runs the workload's steps before the loop
WARM_ROWS = 20_000
# data-dir jobs keep getting faster over the first three
WARM_JOBS = 3


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for dp, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # a temp file renamed away while walking
    return out


def managed(spark, path):
    from component_delta_lake_writer_spark.sinks.managed_table import ManagedTable

    return ManagedTable(spark, path)


def _read_batch(spark, path):
    return check.typed_batch(spark.read.parquet(path))


def _aggregate(table):
    return table.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").alias("amount"),
        F.unix_seconds(F.max("created_at")).alias("ts"),
    ).collect()[0]


def _lookup(table, key: int):
    return table.read_where(f"id = {key}").collect()


class Run:
    """Per-run state shared by the workloads: latencies, counts, the
    optional tracer, the table, and the small warm-up table."""

    def __init__(self, work: str, seed: int, threads: int, seconds: float):
        self.spark = None  # set once the session is up
        self.gen = gen_mod.Generator(os.path.join(work, "inputs"), seed, threads)
        self.warm_gen = gen_mod.Generator(os.path.join(work, "warm-inputs"), seed, threads)
        self.table = os.path.join(work, "table")
        self.warm_table = os.path.join(work, "warm-table")
        self.seconds = seconds
        self.tracer = None  # a spans.Tracer in traced runs
        self.lat: dict[str, list[float]] = defaultdict(list)
        # one sample per write step: a data-dir job, or an ingest cycle's
        # append plus its upsert
        self.commit_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.rows = 0  # user rows committed by timed operations
        self.input_bytes = 0  # generated bytes those operations consumed
        self.live_input_bytes = 0  # generated bytes the live table was built from
        self.written_bytes = 0  # bytes of files created by timed operations
        self.op_s = 0.0  # wall time of timed operations
        self.loop_s = 0.0  # op_s of the commit loop, the rows_per_s base
        self.units_seen: list[int] = []
        self.delete_sets_seen: list[int] = []
        # rows in the units upserts added, and the source rows they took
        self.rewrite_rows = 0
        self.upsert_source_rows = 0
        self.replay_s: list[float] = []  # the gate's delta_log reader times

    def close(self) -> None:
        self.gen.close()
        self.warm_gen.close()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, kind: str, fn, timed: bool = True):
        """Run one closed-loop operation. A raised exception counts as a
        failed operation; the loop carries on with the next one."""
        before = dir_files(self.table) if timed else None
        self.attempted += 1
        t0 = time.perf_counter()
        out = None
        try:
            with self.span(("op." if timed else "phase.") + kind):
                out = fn()
        except Exception:  # noqa: BLE001 -- counted, reported, run continues
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if timed:
            self.lat[kind].append(dt)
            self.op_s += dt
            after = dir_files(self.table)
            self.written_bytes += sum(
                size for p, size in after.items() if p not in before
            )
        return out

    def expect(self, ok: bool, what: str) -> None:
        """A failed correctness check counts like a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def looping(self, started: float, done: int, min_ops: int) -> bool:
        return done < min_ops or time.perf_counter() - started < self.seconds

    def reader_step(self, table) -> None:
        """``read()`` aggregate plus a ``read_where`` point lookup, each
        checked against the expected state: the aggregate's count, sum
        and max, and the looked-up row's hash."""
        commit = table.latest_commit()
        self.units_seen.append(len(commit.data_units))
        self.delete_sets_seen.append(len(commit.delete_sets))
        want = self.gen.expected_aggregate()
        row = self.op("read", lambda: _aggregate(table))
        got = None if row is None else (
            row["n"], int(row["amount"] * 100) if row["amount"] is not None else None, row["ts"]
        )
        self.expect(got == want, f"read (count, cents, max ts) {got} != {want}")
        key = self.gen.lookup_key()
        hits = self.op("lookup", lambda: _lookup(table, key))
        got = [check.row_hash(r) for r in hits] if hits is not None else None
        want = [self.gen.expected_row_hash(key)]
        self.expect(got == want, f"lookup id={key} row hashes {got} != {want}")

    def verify(self, order_columns: bool) -> None:
        """Correctness gate: the current snapshot must hash-equal the
        expected state through ``ManagedTable.read()`` and through the
        independent ``_delta_log`` reader, whose time goes to
        ``replay_s``."""
        from component_delta_lake_writer_spark.sinks import delta_log

        want = self.gen.expected_hash(order_columns)
        readers = (
            ("ManagedTable.read", lambda: managed(self.spark, self.table).read()),
            ("delta_log.read_delta_table",
             lambda: delta_log.read_delta_table(self.spark, self.table)),
        )
        for name, reader in readers:
            t0 = time.perf_counter()
            try:
                with self.span("phase.verify"):
                    got = check.frame_hash(reader(), order_columns)
            except Exception:  # noqa: BLE001 -- a reader failure fails the gate
                traceback.print_exc(file=sys.stderr)
                got = None
            dt = time.perf_counter() - t0
            self.expect(got == want, f"{name} hash {got} != expected {want}")
        self.replay_s.append(dt)

    def count_rewrite(self, prev, commit, source_rows: int) -> None:
        added = [u for u in commit.data_units if u not in set(prev.data_units)]
        self.rewrite_rows += sum(commit.stats[u]["_rows"] for u in added)
        self.upsert_source_rows += source_rows


# ---------- csv_load ----------


def csv_load_generate(run: Run) -> dict:
    data_dir, csv_bytes = run.gen.csv_datadir(CSV_ROWS)
    return {"data_dir": data_dir, "csv_bytes": csv_bytes}


def csv_load_prepare(run: Run, state: dict) -> None:
    """The warm-up: ``WARM_JOBS`` jobs on the data dir into a table of
    its own, a read and a lookup."""
    from component_delta_lake_writer_spark.datadir import run_datadir_job

    for _ in range(WARM_JOBS):
        warm = run_datadir_job(run.spark, state["data_dir"], run.warm_table)
    _aggregate(warm)
    _lookup(warm, run.gen.lookup_key())


def csv_load_loop(run: Run, state: dict) -> None:
    from component_delta_lake_writer_spark.datadir import run_datadir_job

    started, n = time.perf_counter(), 0
    while run.looping(started, n, MIN_JOBS):
        t = run.op("write", lambda: run_datadir_job(run.spark, state["data_dir"], run.table))
        run.commit_s.append(run.lat["write"][-1])
        n += 1
        if t is not None:
            run.rows += CSV_ROWS
            run.input_bytes += state["csv_bytes"]
    run.live_input_bytes = state["csv_bytes"]
    run.loop_s = run.op_s
    table = managed(run.spark, run.table)
    for _ in range(READER_PAIRS):
        run.reader_step(table)


# ---------- ingest_mor_read ----------


def ingest_generate(run: Run) -> dict:
    path, nbytes = run.gen.target(TARGET_ROWS)
    warm_path, _ = run.warm_gen.target(WARM_ROWS)
    run.live_input_bytes = nbytes
    return {"target": path, "warm_target": warm_path}


def _write_target(spark, table: str, path: str):
    """One overwrite commit, 25 k rows per file."""
    t = managed(spark, table)
    t.write(_read_batch(spark, path), mode="overwrite", primary_key=["id"],
            max_records_per_file=ROWS_PER_FILE)
    return t


def _ingest_cycle(run: Run, table, g: gen_mod.Generator, append_rows: int,
                  upsert_rows: int, timed: bool = True) -> None:
    """A cycle's write step: a small append, then a small merge-on-read
    upsert, each its own operation. A timed cycle also books its rows and
    bytes, its rewrite ratio and its commit sample."""
    path, nbytes, rows = g.append_batch(append_rows)
    upath, ubytes, urows = g.change_batch(upsert_rows, UPDATE_SHARE, RECENT_SHARE)
    appended = run.op("write", lambda: table.write(
        _read_batch(run.spark, path), mode="append", max_records_per_file=ROWS_PER_FILE,
    ), timed=timed)
    upserted = run.op("upsert", lambda: table.upsert(
        _read_batch(run.spark, upath), ["id"], strategy="merge-on-read",
        max_records_per_file=ROWS_PER_FILE,
    ), timed=timed)
    if not timed:
        return
    run.commit_s.append(run.lat["write"][-1] + run.lat["upsert"][-1])
    run.expect(appended is not None and upserted is not None,
               "append and merge-on-read upsert committed")
    if appended is not None and upserted is not None:
        run.count_rewrite(appended, upserted, urows)
    run.rows += rows + urows
    run.input_bytes += nbytes + ubytes
    run.live_input_bytes += nbytes + ubytes


def ingest_prepare(run: Run, state: dict) -> None:
    """Warm up with one cycle, a read and a lookup on a small table, then
    write the untimed target."""
    warm = _write_target(run.spark, run.warm_table, state["warm_target"])
    _ingest_cycle(run, warm, run.warm_gen, 50, 50, timed=False)
    _aggregate(warm)
    _lookup(warm, run.warm_gen.lookup_key())
    _write_target(run.spark, run.table, state["target"])


def ingest_loop(run: Run, state: dict) -> None:
    """Rounds of ``INGEST_CYCLES`` cycles, each cycle a write step and a
    reader step, each round closed by optimize + vacuum. Before the last
    round's maintenance the correctness gate runs once, untimed, so both
    readers are checked on a snapshot that still has deletion vectors."""
    table = managed(run.spark, run.table)
    started, rounds = time.perf_counter(), 0
    while True:
        for _ in range(INGEST_CYCLES):
            _ingest_cycle(run, table, run.gen, INGEST_APPEND, INGEST_UPSERT)
            run.reader_step(table)
        rounds += 1
        last = not run.looping(started, rounds, MIN_ROUNDS)
        if last:
            run.verify(order_columns=False)
        run.op("maintain", lambda: (table.optimize(), table.vacuum()))
        if last:
            break
    run.loop_s = run.op_s


# name -> (generate inputs, untimed engine preparation, timed loop)
WORKLOADS = {
    "csv_load": (csv_load_generate, csv_load_prepare, csv_load_loop),
    "ingest_mor_read": (ingest_generate, ingest_prepare, ingest_loop),
}
