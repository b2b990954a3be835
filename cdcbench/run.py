#!/usr/bin/env python3
"""CDC sink benchmark: seeded Debezium batches through the unmodified sink.

    python3 cdcbench/run.py --workload upsert_hot_table --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one client: the next batch or query is sent only
after the previous one returned, like Debezium's synchronous handleBatch):

- ``upsert_hot_table``: one keyed table, an ``op=r`` snapshot, then
  2048-event batches of Zipf-skewed updates, deletes and inserts sent to
  ``ChangeConsumer.handle_batch`` (each read with ``read_events_jsonl``).
- ``fanout_stream``: 512-event batches over 3 tables of skewed popularity
  (two keyed, one keyless; one keyed table gains a column every 3
  batches), staged as files and drained through ``ChangeConsumer.run_stream``
  with the offsets mirror on.

A run sets up three times (stage the inputs, open a consumer, load the
snapshot into a fresh warehouse) and reports the median, sends untimed
warm-up batches, times the remaining batches, then reads the tables
back: full-scan aggregates through ``LakeCatalog.register_views`` +
``spark.sql``, point lookups through ``LakeTable.to_df(row_filter=)`` and
``changed_rows_since`` scans, in a seeded order.  Every table and every
read answer is checked against the pure-Python model in ``gen.py``.  A
traced run then also runs the curation gates of ``queries()`` over a
seeded corpus, each checked against its DuckDB oracle (``gates.py``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (``tracing.py``) with ``--trace 1``.
The line before it describes the run (machine, load, versions, sizes).
Everything the run writes stays under ``.cdcbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "debezium_server_iceberg_spark"
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gates  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, job_counter  # noqa: E402

CPUS = 4
DRIVER_MEMORY = "2g"
# set-up is repeated and its median reported, so a cold first set-up
# (JVM class loading and JIT) does not decide the figure
SETUPS = 3
# the number of timed batches is fixed from --seconds with these nominal
# batch costs (measured on a 4-CPU box), so every run of a workload does
# identical work and size-dependent figures (stored bytes, delete-file
# cycles) repeat exactly
UPSERT_BATCH_S = 2.5
FANOUT_BATCH_S = 5.0
# untimed warm-up batches after the set-ups: the merge path (upsert) or
# the stream query (fan-out) is still compiling and warming up in them
UPSERT_WARMUP = 3
FANOUT_WARMUP = 1
# position-delete files accumulate one per upsert batch and the default
# EngineConfig materializes them at 8 (rewrite_delete_files_min), so the
# timed upsert batches are a whole number of these cycles
DELETE_CYCLE = 8
# read-back queries per run: three each of scan, lookup and changed rows
READ_KINDS = ("scan", "lookup", "changes") * 3


def upsert_batches(seconds: int) -> int:
    return DELETE_CYCLE * max(1, round(seconds / (UPSERT_BATCH_S * DELETE_CYCLE)))


def fanout_batches(seconds: int) -> int:
    return max(3, round(seconds / FANOUT_BATCH_S))


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples above it, and its value
    (nearest rank); the median when there are fewer than 20 samples."""
    xs = sorted(values)
    n = len(xs)
    rank = max(n - 10, (n + 1) // 2)  # 1-based rank of the reported sample
    return 100.0 * rank / n, xs[rank - 1]


def late_over_early(times: list[float]) -> float:
    fifth = max(1, len(times) // 5)
    return statistics.median(times[-fifth:]) / statistics.median(times[:fifth])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def label(self, value: str | None) -> None:
        if self.tracer is not None:
            self.tracer.label = value

    def __post_init__(self) -> None:
        self.last_job = job_counter(self.spark)
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM."""
        return (_vm_hwm_kb("self") + _vm_hwm_kb(self.jvm_pid)) / 1024.0


@dataclass
class Result:
    """What a workload measured; metrics are derived from it."""

    setups: list[float]
    warmup: list[float]  # untimed warm-up batches
    times: list[float]  # timed batches only
    events: int  # events in the timed batches
    keyed_events: int  # of which went to keyed tables
    stored: int
    layout: dict
    reads: dict
    sizes: dict
    progress: list = field(default_factory=list)  # stream progress durations
    peak_rss_mb: float = 0.0  # driver plus JVM, at the end of the workload


def new_consumer(warehouse: str):
    from debezium_server_iceberg_spark.config import EngineConfig
    from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    return ChangeConsumer(cfg)


def read_batch(spark, path: str):
    from debezium_server_iceberg_spark.sources.debezium_json import read_events_jsonl

    return read_events_jsonl(spark, path)


def stage(files: list[str], dest: str) -> list[str]:
    """Land generated files in an input directory, with increasing
    modification times so a file-stream source takes them in order."""
    os.makedirs(dest, exist_ok=True)
    now = time.time()
    out = []
    for i, f in enumerate(files):
        p = os.path.join(dest, os.path.basename(f))
        shutil.copyfile(f, p)
        os.utime(p, (now + i, now + i))
        out.append(p)
    return out


def set_up(ctx: Ctx, inputs: gen.Inputs) -> tuple[list[float], object, list[str], str]:
    """Stage the inputs, open a consumer and load the snapshot, SETUPS
    times over; returns the set-up times and the last set-up's consumer,
    staged batch files and input directory."""
    times = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        (snap,) = stage([inputs.snapshot_file], ctx.dir(f"s{i}", "snapshot"))
        in_dir = ctx.dir(f"s{i}", "in")
        files = stage(inputs.batch_files, in_dir)
        c = new_consumer(ctx.dir(f"s{i}", "wh"))
        c.handle_batch(read_batch(ctx.spark, snap))
        times.append(time.perf_counter() - t0)
    return times, c, files, in_dir


def check_tables(ctx: Ctx, catalog, inputs: gen.Inputs, n_batches: int) -> None:
    """Every table's row count and row hash must equal the model's."""
    for dest, spec in inputs.specs.items():
        cols = inputs.model.columns(dest, n_batches)
        want = check.expected(inputs.model.table_rows(dest), cols)
        try:
            df = catalog.load_table(gen.NAMESPACE, spec.name).to_df(ctx.spark)
            got = check.actual(df, cols)
        except Exception as e:  # a raising read is a failed check, not a crash
            got = repr(e)
        ctx.record(got == want, f"table {spec.name}: got {got}, want {want}")


def live_layout(catalog, inputs: gen.Inputs) -> dict:
    data = deletes = 0
    for spec in inputs.specs.values():
        t = catalog.load_table(gen.NAMESPACE, spec.name)
        data += len(t.current_files())
        deletes += len(t.current_deletes())
    return {"data_files": data, "delete_files": deletes}


def snapshots_after_epochs(table) -> dict[int, int]:
    """epoch -> the table's snapshot id once that epoch (and any
    maintenance it triggered) had committed."""
    out: dict[int, int] = {}
    snaps = table.metadata().snapshots
    for i, s in enumerate(snaps):
        e = s.summary.get("epoch_id")
        if e is None:
            continue
        j = i
        while j + 1 < len(snaps) and snaps[j + 1].summary.get("epoch_id") is None:
            j += 1
        out[int(e)] = snaps[j].snapshot_id
    return out


def corrupt(model: gen.Model) -> None:
    """Shift one expected value, to show that a wrong expectation fails
    the run (``--corrupt-expected``)."""
    dest = sorted(model.keyed)[0]
    k = min(model.keyed[dest])
    row, batch = model.keyed[dest][k]
    model.keyed[dest][k] = (dict(row, qty=row["qty"] + 1), batch)


# ------------------------------------------------------------- read phase


def read_phase(ctx: Ctx, catalog, inputs: gen.Inputs, n_batches: int, since: dict) -> dict:
    """Seeded sequence of scans, lookups and changed-row scans.

    ``since[dest]`` maps a batch index to the table's snapshot id after
    that batch; changed-row scans pick one of them."""
    spark = ctx.spark
    rng = random.Random(ctx.seed * 7919 + 1)
    kinds = list(READ_KINDS)
    rng.shuffle(kinds)
    dests = sorted(inputs.specs)
    keyed = [d for d in dests if inputs.specs[d].keyed]
    times: dict[str, list[float]] = {"scan": [], "lookup": [], "changes": []}
    jobs: list[int] = []
    for qi, kind in enumerate(kinds):
        ctx.label(f"q{qi}")
        j0 = ctx.last_job()
        if kind == "scan":
            dest = rng.choice(dests)
            rows = inputs.model.table_rows(dest)
            want = (
                len(rows),
                sum(r["qty"] for r in rows),
                sum(1 for r in rows if r["__deleted"]),
            )
            t0 = time.perf_counter()
            catalog.register_views(spark, gen.NAMESPACE)
            r = spark.sql(
                "SELECT count(*) AS n, sum(qty) AS q, "
                "sum(CASE WHEN __deleted THEN 1 ELSE 0 END) AS d "
                f"FROM {inputs.specs[dest].name}"
            ).collect()[0]
            dt = time.perf_counter() - t0
            got = (r["n"], r["q"], r["d"])
        elif kind == "lookup":
            dest = rng.choice(keyed)
            spec = inputs.specs[dest]
            live = inputs.model.keyed[dest]
            # one lookup in eight asks for a key that was never written
            if rng.random() < 0.125:
                k = max(live) + 1 + rng.randrange(100)
            else:
                k = rng.choice(sorted(live))
            cols = inputs.model.columns(dest, n_batches)
            want = check.expected([live[k][0]] if k in live else [], cols)
            t0 = time.perf_counter()
            table = catalog.load_table(gen.NAMESPACE, spec.name)
            got = check.actual(table.to_df(spark, row_filter={spec.columns[0][0]: k}), cols)
            dt = time.perf_counter() - t0
        else:
            dest = rng.choice(dests)
            spec = inputs.specs[dest]
            b = rng.choice(sorted(since[dest]))
            cols = inputs.model.columns(dest, n_batches)
            want = check.expected(inputs.model.table_rows(dest, since_batch=b), cols)
            t0 = time.perf_counter()
            table = catalog.load_table(gen.NAMESPACE, spec.name)
            got = check.actual(table.changed_rows_since(spark, since[dest][b]), cols)
            dt = time.perf_counter() - t0
        jobs.append(ctx.last_job() - j0)
        ctx.record(got == want, f"{kind} on {dest}: got {got}, want {want}")
        times[kind].append(dt)
    ctx.label(None)
    return {"times": times, "jobs": jobs}


# --------------------------------------------------------------- workloads


def upsert_inputs(seed: int, seconds: int, out_dir: str) -> gen.Inputs:
    return gen.hot_table_inputs(seed, out_dir, UPSERT_WARMUP + upsert_batches(seconds))


def upsert_hot_table(ctx: Ctx, inputs: gen.Inputs) -> Result:
    spark = ctx.spark
    total = len(inputs.batch_files)
    (spec,) = inputs.specs.values()
    setups, c, files, _ = set_up(ctx, inputs)

    def snapshot_id() -> int:
        return c.catalog.load_table(gen.NAMESPACE, spec.name).metadata().current_snapshot_id

    if ctx.tracer is not None:
        ctx.tracer.install()
    since = {0: snapshot_id()}
    times = []
    for b, f in enumerate(files, start=1):
        ctx.label(f"b{b}")
        batch = read_batch(spark, f)
        t0 = time.perf_counter()
        c.handle_batch(batch)
        times.append(time.perf_counter() - t0)
        ctx.label(None)
        since[b] = snapshot_id()
    stored = dir_bytes(c.catalog.warehouse)
    check_tables(ctx, c.catalog, inputs, total)
    reads = read_phase(
        ctx, c.catalog, inputs, total,
        {spec.destination: {b: s for b, s in since.items() if b < total}},
    )
    w = UPSERT_WARMUP
    return Result(
        setups, times[:w], times[w:], sum(inputs.batch_events[w:]),
        sum(inputs.keyed_events[w:]), stored, live_layout(c.catalog, inputs),
        reads, {"timed_batches": total - w, "batch_events": gen.HOT_BATCH_EVENTS},
    )


def fanout_inputs(seed: int, seconds: int, out_dir: str) -> gen.Inputs:
    return gen.fanout_inputs(seed, out_dir, FANOUT_WARMUP + fanout_batches(seconds))


def fanout_stream(ctx: Ctx, inputs: gen.Inputs) -> Result:
    spark = ctx.spark
    total = len(inputs.batch_files)
    setups, c, _, in_dir = set_up(ctx, inputs)

    if ctx.tracer is not None:
        ctx.tracer.install()
    q = c.run_stream(
        spark, in_dir, ctx.dir("checkpoint"), max_files_per_trigger=1, mirror_offsets=True
    )
    try:
        q.processAllAvailable()
        progress = [dict(p.durationMs) for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
        ctx.label(None)
    ctx.record(len(progress) == total, f"stream ran {len(progress)} batches, want {total}")
    from debezium_server_iceberg_spark.state import OffsetStore

    saved = OffsetStore(c.catalog, gen.NAMESPACE).load(spark).get("epoch")
    ctx.record(saved == str(total - 1), f"offsets mirror holds epoch {saved}, want {total - 1}")
    stored = dir_bytes(c.catalog.warehouse)
    check_tables(ctx, c.catalog, inputs, total)
    # stream epoch e applied batch e + 1
    since = {}
    for dest, spec in inputs.specs.items():
        by_epoch = snapshots_after_epochs(c.catalog.load_table(gen.NAMESPACE, spec.name))
        since[dest] = {e + 1: sid for e, sid in by_epoch.items() if e + 1 < total}
    reads = read_phase(ctx, c.catalog, inputs, total, since)
    times = [p["triggerExecution"] / 1000.0 for p in progress]
    w = FANOUT_WARMUP
    return Result(
        setups, times[:w], times[w:], sum(inputs.batch_events[w:]),
        sum(inputs.keyed_events[w:]), stored, live_layout(c.catalog, inputs),
        reads,
        {
            "timed_batches": total - w,
            "batch_events": gen.FANOUT_BATCH_EVENTS,
            "tables": gen.FANOUT_TABLES,
        },
        progress[w:],
    )


# name -> (input generator, workload)
WORKLOADS = {
    "upsert_hot_table": (upsert_inputs, upsert_hot_table),
    "fanout_stream": (fanout_inputs, fanout_stream),
}


# ----------------------------------------------------------------- metrics


def m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(r: Result) -> dict:
    reads = [t for v in r.reads["times"].values() for t in v]
    return {
        "setup_s": m(statistics.median(r.setups), "s"),
        "events_per_s": m(r.events / sum(r.times), "1/s"),
        "batch_p50_s": m(statistics.median(r.times), "s"),
        "read_p50_s": m(statistics.median(reads), "s"),
        "stored_mb": m(r.stored / 1e6, "MB"),
        "peak_rss_mb": m(r.peak_rss_mb, "MB"),
    }


def per_layer(ctx: Ctx, r: Result, session_s: float, gate_runs: dict) -> tuple[dict, dict]:
    """Per-layer figures from the traced run's spans, and the run facts
    that are set by the workload or the engine's policy rather than
    measured (for the run description).  Times are seconds per timed
    batch (ingest layers), per read query (read layers) or per gate."""
    tracer = ctx.tracer
    spans = tracer.spans
    self_t = tracer.self_times()
    nb = len(r.times)
    batch_labels = {s.label for s in spans if s.label and s.label[0] in "be"}
    # the first batches (from "b1", or from stream epoch "e0") are the
    # untimed warm-up
    warmup = {f"b{i + 1}" for i in range(UPSERT_WARMUP)} | {f"e{i}" for i in range(FANOUT_WARMUP)}
    timed_labels = batch_labels - warmup
    in_batch = [s for s in spans if s.label in timed_labels]
    in_query = [s for s in spans if s.label and s.label[0] == "q"]

    def named(name, pool=None):
        return [s for s in (in_batch if pool is None else pool) if s.name == name]

    def per_batch(name, self_time=False):
        return sum(self_t[s.sid] if self_time else s.dur for s in named(name)) / nb

    # exact job totals per batch: every job started while any span of the
    # batch was open, on whatever thread
    jobs = {}
    for s in in_batch:
        if s.captures_jobs:
            lo, hi = jobs.get(s.label, (s.job_lo, s.job_hi))
            jobs[s.label] = (min(lo, s.job_lo), max(hi, s.job_hi))
    merges = named("merge_into")
    metas = named("metadata")
    mats = named("materialize_deletes")
    # the root spans of a timed batch (handle_batch, and the offsets
    # mirror write of a stream batch) against the batch time measured
    # outside the tracer: wall time around handle_batch, or the stream's
    # own addBatch duration
    roots = sum(s.dur for s in in_batch if s.parent is None)
    outside = sum(p["addBatch"] for p in r.progress) / 1000.0 if r.progress else sum(r.times)
    reads = r.reads["times"]
    n_q = sum(len(v) for v in reads.values())
    read_total = sum(sum(v) for v in reads.values())
    to_df_q = sum(s.dur for s in named("to_df", in_query))
    changed_q = sum(s.dur for s in named("changed_rows_since", in_query))
    pct, tail = tail_percentile(r.times)
    lpct, ltail = tail_percentile(reads["lookup"])
    metrics = {
        "streaming.handle_batch_self_s": m(per_batch("handle_batch", True), "s"),
        "streaming.write_destination_self_s": m(per_batch("write_destination", True), "s"),
        "streaming.route_s": m(per_batch("destinations"), "s"),
        "state.checkpoint_s": m(
            sum(p.get("walCommit", 0) + p.get("commitOffsets", 0) for p in r.progress) / 1000.0 / nb,
            "s",
        ),
        "state.offsets_save_s": m(per_batch("offsets_save"), "s"),
        "sources.infer_schema_s": m(per_batch("infer_batch_schema"), "s"),
        "sources.infer_schema_calls": m(len(named("infer_batch_schema")) / nb, "count"),
        "sources.parse_plan_s": m(per_batch("parse_events"), "s"),
        "schema.evolutions": m(len(named("update_schema")), "count"),
        "schema.evolve_s": m(per_batch("update_schema"), "s"),
        "operators.dedup_plan_s": m(per_batch("dedup_batch"), "s"),
        "operators.dedup_ratio": m(
            sum(s.attrs["source_rows"] for s in merges) / max(1, r.keyed_events), "ratio"
        ),
        "operators.merge_s": m(per_batch("merge_into"), "s"),
        "operators.merge_self_s": m(per_batch("merge_into", True), "s"),
        "operators.candidate_ratio": m(
            sum(s.attrs["candidates"] for s in merges)
            / max(1, sum(s.attrs["live_files"] for s in merges)),
            "ratio",
        ),
        "operators.delete_rows": m(sum(s.attrs["delete_rows"] for s in merges) / nb, "count"),
        "lakehouse.commit_row_delta_s": m(per_batch("commit_row_delta"), "s"),
        "lakehouse.append_s": m(per_batch("append"), "s"),
        "lakehouse.load_or_create_s": m(per_batch("load_or_create"), "s"),
        "lakehouse.metadata_reads_per_batch": m(len(metas) / nb, "count"),
        "lakehouse.metadata_read_s": m(per_batch("metadata"), "s"),
        "lakehouse.metadata_bytes": m(
            statistics.mean(s.attrs["bytes"] for s in metas) if metas else 0.0, "B"
        ),
        "lakehouse.materialize_s": m(
            statistics.mean(s.dur for s in mats) if mats else 0.0, "s"
        ),
        "lakehouse.data_files": m(r.layout["data_files"], "count"),
        "lakehouse.delete_files": m(r.layout["delete_files"], "count"),
        "lakehouse.to_df_plan_s": m(to_df_q / n_q, "s"),
        "lakehouse.read_action_s": m((read_total - to_df_q - changed_q) / n_q, "s"),
        "lakehouse.changed_rows_s": m(statistics.median(reads["changes"]), "s"),
        "read.scan_s": m(statistics.median(reads["scan"]), "s"),
        "read.lookup_s": m(statistics.median(reads["lookup"]), "s"),
        "read.lookup_tail_s": m(ltail, "s"),
        "spark.jobs_per_batch": m(sum(hi - lo for lo, hi in jobs.values()) / nb, "count"),
        "spark.jobs_per_query": m(sum(r.reads["jobs"]) / n_q, "count"),
        "spark.jobs_per_gate": m(statistics.mean(g["jobs"] for g in gate_runs.values()), "count"),
        "spark.session_start_s": m(session_s, "s"),
        "ingest.warmup_batch_s": m(statistics.median(r.warmup), "s"),
        # the run's own figures; a traced run's events_per_s against the
        # untraced runs' gives the tracing overhead
        "ingest.events_per_s": m(r.events / sum(r.times), "1/s"),
        "ingest.batch_p50_s": m(statistics.median(r.times), "s"),
        "read.p50_s": m(statistics.median(t for v in reads.values() for t in v), "s"),
        "process.peak_rss_mb": m(r.peak_rss_mb, "MB"),
        "ingest.batch_tail_s": m(tail, "s"),
        "ingest.batch_max_s": m(max(r.times), "s"),
        "ingest.late_over_early": m(late_over_early(r.times), "ratio"),
        "trace.overhead_frac": m(tracer.overhead_s(in_batch) / sum(r.times), "ratio"),
        "trace.spans": m(len(spans), "count"),
    }
    for short, g in gate_runs.items():
        metrics[f"functions.{short}_s"] = m(g["s"], "s")
        metrics[f"functions.{short}_jobs"] = m(g["jobs"], "count")
    facts = {
        "lakehouse.materialize_runs": len(mats),
        "streaming.destinations_per_batch": statistics.mean(
            s.attrs["n"] for s in named("destinations")
        ),
        "ingest.batch_tail_pct": pct,
        "read.lookup_tail_pct": lpct,
        "trace.root_span_coverage": roots / outside,
    }
    return metrics, facts


# -------------------------------------------------------------------- main


def metric_names(trace: int) -> list[str]:
    """The metrics a run prints: BENCHMARK.json's end-to-end set, or its
    per-layer set for a traced run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_info(args) -> dict:
    import platform
    import subprocess

    load = list(os.getloadavg())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None  # not a git checkout
    try:
        import duckdb

        duckdb_version = duckdb.__version__
    except ImportError:
        duckdb_version = None
    nproc = os.cpu_count() or 0
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_start": load,
        "contended": load[0] > nproc,
        "python": platform.python_version(),
        "duckdb": duckdb_version,
        "git_commit": commit,
    }


def start_spark(work: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    from debezium_server_iceberg_spark.session import get_spark

    return get_spark(
        app_name="cdcbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-expected", action="store_true",
        help="shift one expected value; the run must then fail (self-test)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    metric_names(args.trace)  # fail before any work if BENCHMARK.json is unreadable
    t_start = time.perf_counter()
    steal0, total0 = _cpu_jiffies()
    info = run_info(args)
    base = os.path.join(ROOT, ".cdcbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)

    make_inputs, workload = WORKLOADS[args.workload]
    corpus_dir = os.path.join(work, "corpus")
    # the inputs are generated while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(make_inputs, args.seed, args.seconds, os.path.join(work, "gen"))
        if args.trace:
            pending_corpus = pool.submit(gen.corpus_inputs, args.seed, corpus_dir)
        spark = start_spark(work)
        session_s = time.perf_counter() - t_start
        inputs = pending.result()
        if args.trace:
            pending_corpus.result()
    if args.corrupt_expected:
        corrupt(inputs.model)
    info.update(spark=spark.version, session_start_s=session_s)
    ctx = Ctx(spark, args.seed, work)
    metrics: dict = {}
    try:
        if args.trace:
            ctx.tracer = Tracer(spark)
        try:
            r = workload(ctx, inputs)
        except Exception as e:  # a failed run still reports what it checked
            import traceback

            traceback.print_exc()
            ctx.record(False, f"workload raised: {e!r}")
            r = None
        finally:
            if ctx.tracer is not None:
                ctx.tracer.uninstall()
        if r is not None:
            r.peak_rss_mb = ctx.peak_rss_mb()
        if r is not None and args.trace:
            # the functions layer, untraced, after the ingest and reads
            gate_runs = gates.run_gates(ctx, corpus_dir)
            computed, facts = per_layer(ctx, r, session_s, gate_runs)
            info["run_facts"] = facts
        elif r is not None:
            computed = end_to_end(r)
        if r is not None:
            info["all_metrics"] = {k: v["value"] for k, v in computed.items()}
            metrics = {n: computed[n] for n in metric_names(args.trace)}
            info.update(
                sizes=r.sizes, setups_s=r.setups, warmup_s=r.warmup, batch_s=r.times,
                read_s=r.reads["times"],
            )
            if ctx.tracer is not None:
                spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
                ctx.tracer.dump(spans)
                info["spans_file"] = spans
                info["trace_notes"] = (
                    "parse_events, dedup_batch and conform_to_schema spans time driver "
                    "planning only; their execution lands in the first action's span "
                    "(commit_row_delta or append). Per-batch job totals are exact; "
                    "per-span job counts include jobs of commit_row_delta's pool threads."
                )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    info["elapsed_s"] = time.perf_counter() - t_start
    steal1, total1 = _cpu_jiffies()
    # CPU time the hypervisor gave to other guests: a contention signal
    # the load average of this machine cannot show
    info["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    info["errors"] = ctx.errors[:20]
    print(json.dumps(info))
    ok = ctx.failed == 0 and ctx.attempted > 0
    print(json.dumps({"correct": ok, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
