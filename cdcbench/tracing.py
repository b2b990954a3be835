"""Span tracing from outside the package.

``Tracer.install`` replaces public functions and methods of the package at
the attributes the consumer actually calls with wrappers that record one
span per call: name, layer, start, end, parent span, the batch or query
label, and the Spark jobs started while the span was open (job ids are
allocated in order, so the jobs of a span are the ids above the highest
id seen when it opened; see ``job_counter``).
Spans stay in memory until ``dump``.

Caveats, reported beside the numbers:

- ``parse_events``, ``dedup_batch`` and ``conform_to_schema`` return lazy
  DataFrames, so their spans time driver-side planning only; their
  execution lands in the span of the first action, usually
  ``commit_row_delta`` or ``append``.
- Per-batch job totals are exact.  A span's job count is exact only for
  work on the calling thread: ``commit_row_delta`` stages files from its
  own thread pool while its span is open, and those jobs are counted in it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


def job_counter(spark):
    """A function giving the id of the most recent Spark job.

    Job ids are allocated in order, so the DAG scheduler's job count is
    enough, and reading it is one cheap call.  The public status tracker
    returns every retained job id on each call instead, a cost that grows
    with the run."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: dag.numTotalJobs() - 1


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    label: str | None
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    job_lo: int = -1
    job_hi: int = -1
    captures_jobs: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return max(0, self.job_hi - self.job_lo)


class Tracer:
    def __init__(self, spark) -> None:
        self.last_job = job_counter(spark)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.label: str | None = None

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = True):
        st = self._stack()
        with self._lock:
            sp = Span(
                len(self.spans), name, layer, self.label,
                st[-1].sid if st else None, threading.get_ident(), 0.0,
            )
            self.spans.append(sp)
        if jobs:
            sp.captures_jobs = True
            sp.job_lo = self.last_job()
        st.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            sp.job_hi = self.last_job() if jobs else sp.job_lo

    # ----------------------------------------------------------- patching

    def wrap(
        self, owner, attr: str, name: str, layer: str, jobs: bool = True,
        before=None, on_result=None, relabel=None,
    ) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if relabel is not None:
                tracer.label = relabel(args, kwargs) or tracer.label
            with tracer.span(name, layer, jobs) as sp:
                if before is not None:
                    before(sp, args, kwargs)
                res = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, res)
            return res

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        """Wrap the consumer's call sites, layer by layer."""
        from debezium_server_iceberg_spark.lakehouse import catalog as cat_mod
        from debezium_server_iceberg_spark.lakehouse.table import LakeTable
        from debezium_server_iceberg_spark.state.offsets import OffsetStore
        from debezium_server_iceberg_spark.streaming import consumer as cm

        def n_dests(sp, args, kwargs, res):
            sp.attrs["n"] = len(res)

        def merge_stats(sp, args, kwargs, res):
            sp.attrs.update(
                candidates=res.candidate_files,
                source_rows=res.source_rows,
                delete_rows=res.delete_rows,
            )

        read_meta = LakeTable.metadata  # unwrapped: not itself a span

        def live_files(sp, args, kwargs):
            table = args[0]
            sp.attrs["live_files"] = len(table._manifest_files(read_meta(table)))

        def meta_bytes(sp, args, kwargs, res):
            table = args[0]
            path = os.path.join(table.meta_dir, f"v{res.version:05d}.metadata.json")
            sp.attrs["bytes"] = os.path.getsize(path)

        def epoch_label(args, kwargs):
            epoch = args[2] if len(args) > 2 else kwargs.get("epoch_id")
            return None if epoch is None else f"e{epoch}"

        # a stream's batches are labelled by epoch; the offsets mirror
        # write that follows a batch keeps its label
        self.wrap(
            cm.ChangeConsumer, "handle_batch", "handle_batch", "streaming",
            relabel=epoch_label,
        )
        self.wrap(cm.ChangeConsumer, "_write_destination", "write_destination", "streaming")
        self.wrap(cm, "destinations", "destinations", "streaming", on_result=n_dests)
        self.wrap(cm, "infer_batch_schema", "infer_batch_schema", "sources")
        self.wrap(cm, "parse_events", "parse_events", "sources")
        self.wrap(cm, "dedup_batch", "dedup_batch", "operators")
        self.wrap(cm, "conform_to_schema", "conform_to_schema", "operators")
        self.wrap(
            cm, "merge_into", "merge_into", "operators",
            before=live_files, on_result=merge_stats,
        )
        self.wrap(cat_mod.LakeCatalog, "load_or_create", "load_or_create", "lakehouse")
        self.wrap(LakeTable, "metadata", "metadata", "lakehouse", jobs=False, on_result=meta_bytes)
        self.wrap(LakeTable, "update_schema", "update_schema", "schema")
        self.wrap(LakeTable, "append", "append", "lakehouse")
        self.wrap(LakeTable, "commit_row_delta", "commit_row_delta", "lakehouse")
        self.wrap(LakeTable, "materialize_deletes", "materialize_deletes", "lakehouse")
        self.wrap(LakeTable, "to_df", "to_df", "lakehouse")
        self.wrap(LakeTable, "changed_rows_since", "changed_rows_since", "lakehouse")
        self.wrap(OffsetStore, "save", "offsets_save", "state")

    # ------------------------------------------------------------ results

    def overhead_s(self, spans: list[Span], n: int = 200) -> float:
        """Estimated time the tracer itself added to ``spans``: the cost of
        opening and closing a span, measured on ``n`` empty spans with and
        without job capture.  Attribute hooks (the manifest read behind
        ``live_files``, the metadata file size) are not included."""
        cost = {}
        for jobs in (True, False):
            t0 = time.perf_counter()
            for _ in range(n):
                with self.span("calibrate", "trace", jobs):
                    pass
            cost[jobs] = (time.perf_counter() - t0) / n
        del self.spans[-2 * n:]
        return sum(cost[sp.captures_jobs] for sp in spans)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover.  A parent is
        always on its child's thread, and children of one span never
        overlap, so the children's durations simply add up."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        return {sp.sid: sp.dur - child[sp.sid] for sp in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": sp.sid,
                            "name": sp.name,
                            "layer": sp.layer,
                            "label": sp.label,
                            "parent": sp.parent,
                            "thread": sp.thread,
                            "start": sp.start,
                            "end": sp.end,
                            "jobs": sp.jobs,
                            "attrs": sp.attrs,
                        }
                    )
                    + "\n"
                )
