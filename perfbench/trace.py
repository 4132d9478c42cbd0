"""Spans around the calls into each layer, recorded from outside the package.

:class:`Tracer` wraps the public entry points of ``streaming.runner``,
``operators.apply`` and ``plans.lake`` at run time (class attributes are
swapped and restored; the package's files are not touched) and records one
span per call: name, start, end, parent span and thread. Lazy builders
(``lookup_many``, ``changes``, ``encode_stream_batched``, ``decode_stream``)
return plans, so the workloads open the span around the action that runs the
plan instead (:meth:`Tracer.span`). Counts are recorded at the same
boundaries. Spans stay in memory until :meth:`Tracer.layer_metrics`.

:class:`NullTracer` is the untraced stand-in: the same interface, no wrapping
and no recording, so timed runs execute the package's own functions.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans and counts cost one attribute lookup."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def count(self, name: str, value: float = 1) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def window(self, active: bool) -> None:
        pass


def runtime_counters(spark) -> dict[str, float]:
    """Spark jobs and tasks launched so far (the scheduler's id counters)
    and accumulated JVM GC time, read through py4j."""
    jsc = spark.sparkContext._jsc.sc()
    mx = spark._jvm.java.lang.management.ManagementFactory
    return {
        "jobs": jsc.dagScheduler().nextJobId(),
        "tasks": jsc.taskScheduler().nextTaskId(),
        "gc_ms": sum(g.getCollectionTime() for g in mx.getGarbageCollectorMXBeans()),
        "t": time.monotonic(),
    }


def _file_bytes(root: str, files) -> int:
    return sum(os.path.getsize(os.path.join(root, fi["path"])) for fi in files)


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._local.stack = self._main_stack
        self._restore: list[tuple[object, str, object]] = []
        self._compact_out: set[str] = set()
        self._window: dict[str, float] = {}

    # ------------------------------------------------------------ recording

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # pipeline threads start with an empty stack: their parent is the
        # span the main thread has open (the runner that submitted them)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, parent.sid if parent else None,
                      threading.current_thread().name, time.monotonic(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    # ------------------------------------------------------------ wrapping

    def _wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        from th2_listener_mysql_binlog_go_spark.plans.lake import ConcurrentCommitError

        orig = getattr(owner, attr)
        tracer = self

        def wrapped(obj, *args, **kwargs):
            ctx = before(obj, args, kwargs) if before else None
            with tracer.span(name) as sp:
                try:
                    out = orig(obj, *args, **kwargs)
                except ConcurrentCommitError:
                    tracer.count("lake.commit_conflicts")
                    raise
            if after:
                after(obj, args, kwargs, out, ctx, sp)
            return out

        wrapped.__wrapped__ = orig
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        from th2_listener_mysql_binlog_go_spark.operators.apply import BatchApplier
        from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
        from th2_listener_mysql_binlog_go_spark.streaming.runner import ReplayRunner

        def applied(_o, _a, _k, m, _c, _sp):
            self.count("apply.rows", m["rows_inserted"] + m["rows_updated"] + m["rows_deleted"])
            self.count("apply.segments", m["segments"])

        def mark_ddl(_o, _a, kwargs):
            return bool(kwargs.get("precollected_ddl"))

        def applied_seq(o, a, k, m, ddl, sp):
            sp.attrs["ddl"] = ddl
            applied(o, a, k, m, None, sp)

        def staged(table, _a, _k, out, _c, _sp):
            self.count("lake.files_written", len(out["written"]))
            self.count("lake.bytes_written", _file_bytes(table.root, out["written"]))

        def snap_paths(table, _a, _k):
            return {fi["path"] for fi in table.snapshot.files}

        def committed(table, _a, _k, _out, _c, _sp):
            self.count("lake.commits")
            self.count("lake.snapshot_files_sum", len(table.snapshot.files))

        def merged(table, a, k, out, before, sp):
            new = [fi for fi in table.snapshot.files
                   if fi["path"] not in before and fi["path"] not in self._compact_out]
            self.count("lake.files_written", len(new))
            self.count("lake.bytes_written", _file_bytes(table.root, new))
            committed(table, a, k, out, None, sp)

        def compacted(table, _a, _k, _out, before, _sp):
            after = {fi["path"]: fi for fi in table.snapshot.files}
            out_files = [fi for p, fi in after.items() if p not in before]
            self._compact_out.update(fi["path"] for fi in out_files)
            self.count("lake.compact_files_in", len(before - after.keys()))
            self.count("lake.compact_files_out", len(out_files))
            nbytes = _file_bytes(table.root, out_files)
            self.count("lake.compact_bytes_rewritten", nbytes)
            self.count("lake.bytes_written", nbytes)

        self._wrap(ReplayRunner, "run", "runner.run")
        self._wrap(BatchApplier, "stage_batch", "apply.stage_batch")
        self._wrap(BatchApplier, "commit_batch", "apply.commit_batch", after=applied)
        self._wrap(BatchApplier, "apply", "apply.apply", before=mark_ddl, after=applied_seq)
        self._wrap(LakeTable, "stage_mor_delta", "lake.stage_mor_delta", after=staged)
        self._wrap(LakeTable, "commit_staged", "lake.commit_staged", after=committed)
        self._wrap(LakeTable, "merge", "lake.merge", before=snap_paths, after=merged)
        self._wrap(LakeTable, "compact", "lake.compact", before=snap_paths, after=compacted)
        self._wrap(LakeTable, "add_column", "lake.add_column")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ timed window

    def window(self, active: bool) -> None:
        """Open (True) or close (False) the timed window: only spans and
        counts inside it are reported, and the Spark job/task and GC
        counters are read at both ends."""
        if active:
            self.spans.clear()
            self.counts.clear()
            self._compact_out.clear()
            self._window = runtime_counters(self.spark)
        else:
            end = runtime_counters(self.spark)
            for k in ("jobs", "tasks", "gc_ms"):
                self.counts[f"_rt.{k}"] = end[k] - self._window[k]

    # ------------------------------------------------------------ reporting

    def _total(self, name: str, pred=None) -> float:
        return sum(s.dur for s in self.spans if s.name == name and (pred is None or pred(s)))

    def _self_time(self, sp: Span) -> float:
        kids = sorted((max(c.start, sp.start), min(c.end, sp.end))
                      for c in self.spans if c.parent == sp.sid)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return sp.dur - covered

    def layer_metrics(self, pipeline_depth: int) -> dict[str, float]:
        c = self.counts.get
        runs = [s for s in self.spans if s.name == "runner.run"]
        run_s = sum(s.dur for s in runs)
        stage_s = self._total("apply.stage_batch")
        commits = c("lake.commits", 0)
        lookups = c("lake.lookups", 0)
        polls = c("lake.changes_polls", 0)
        split_events = c("wire.split_events", 0)
        roots = sum(1 for s in self.spans if s.parent is None)
        return {
            "runner.run_s": run_s,
            "runner.self_s": sum(self._self_time(s) for s in runs),
            "apply.stage_s": stage_s,
            "apply.pipeline_busy_ratio": (stage_s / (pipeline_depth * run_s)
                                          if run_s and stage_s else 0.0),
            "apply.commit_s": self._total("apply.commit_batch"),
            "apply.apply_s": self._total("apply.apply"),
            "apply.ddl_batch_s": self._total("apply.apply", lambda s: s.attrs.get("ddl")),
            "apply.rows": c("apply.rows", 0),
            "apply.segments": c("apply.segments", 0),
            "lake.stage_mor_delta_s": self._total("lake.stage_mor_delta"),
            "lake.commit_staged_s": self._total("lake.commit_staged"),
            "lake.merge_s": self._total("lake.merge"),
            "lake.snapshot_files": c("lake.snapshot_files_sum", 0) / commits if commits else 0.0,
            "lake.files_written": c("lake.files_written", 0),
            "lake.bytes_written": c("lake.bytes_written", 0),
            "lake.write_amp": (c("lake.bytes_written", 0) / c("lake.live_bytes")
                               if c("lake.live_bytes") else 0.0),
            "lake.commit_conflicts": c("lake.commit_conflicts", 0),
            "lake.compact_s": self._total("lake.compact"),
            "lake.compact_bytes_rewritten": c("lake.compact_bytes_rewritten", 0),
            "lake.compact_files_in": c("lake.compact_files_in", 0),
            "lake.compact_files_out": c("lake.compact_files_out", 0),
            "lake.add_column_s": self._total("lake.add_column"),
            "lake.lookup_many_s": self._total("lake.lookup_many"),
            "lake.lookup_files_scanned": c("lake.lookup_files_sum", 0) / lookups if lookups else 0.0,
            "lake.lookup_delta_files": c("lake.lookup_delta_sum", 0) / lookups if lookups else 0.0,
            "lake.changes_s": self._total("lake.changes"),
            "lake.changes_incremental_ratio": (c("lake.changes_incremental", 0) / polls
                                               if polls else 0.0),
            "wire.encode_s": self._total("wire.encode"),
            "wire.decode_s": self._total("wire.decode"),
            "wire.messages": c("wire.messages", 0),
            "wire.split_events": split_events,
            "wire.parts_per_split_event": (c("wire.split_parts", 0) / split_events
                                           if split_events else 0.0),
            "wire.payload_bytes": c("wire.payload_bytes", 0),
            "wire.payload_max_bytes": c("wire.payload_max_bytes", 0),
            "wire.undecodable": c("wire.undecodable", 0),
            "spark.jobs": c("_rt.jobs", 0),
            "spark.tasks": c("_rt.tasks", 0),
            "spark.jobs_per_call": c("_rt.jobs", 0) / roots if roots else 0.0,
            "jvm.gc_s": c("_rt.gc_ms", 0) / 1000.0,
            "gen.late_s": c("gen.late_sum", 0) / c("gen.batches") if c("gen.batches") else 0.0,
            "trace.spans": len(self.spans),
        }

    def dump(self, path: str) -> None:
        """Write the window's spans (JSON lines) with their self times."""
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "thread": s.thread,
                    "start": s.start, "end": s.end, "self": self._self_time(s),
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")
