"""What the benchmark measures: workloads, metrics, bounds and input sizes.

This module is the single source of the contract. ``run.py --write-manifest``
renders it into the repository's ``BENCHMARK.json``; every run reports
exactly the metrics listed here, so the manifest and the output cannot drift.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]

# The timed window of a run: the wire loop runs this long, the lake's backfill
# phase and then its tail phase share it. A full measurement makes
# 4 + 22 * len(WORKLOADS) runs that must all end within 3420 s, and a run
# also pays a ~4-8 s JVM start, input set-up, warm-up and the checks.
RUN_SECONDS = 30

WORKLOADS = [
    ("lake",
     "bulk pipelined backfill plus compaction, then an open-loop tail of small "
     "micro-batches with read-after-write lookups, changes() polls, compaction, ALTER"),
    ("wire",
     "multi-row RowsEvents encoded and split into size-bounded beans, written "
     "as JSON lines, read back and decoded; never touches the lake"),
]

# (name, unit, better, bound). Every metric is measured on both workloads;
# what it measures on each is listed in perfbench/README.md.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("write_events_per_s", "events/s", "higher", 0.24),
    ("read_p50_s", "s", "lower", 0.24),
    ("latency_p50_s", "s", "lower", 0.24),
    ("bytes_per_row", "bytes", "lower", 0.05),
    ("live_heap_mb", "MB", "lower", 0.24),
]

# (name, unit). Traced runs only; a layer a workload does not reach reads 0.
PER_LAYER = [
    ("runner.run_s", "s"),
    ("runner.self_s", "s"),
    ("apply.stage_s", "s"),
    ("apply.pipeline_busy_ratio", "ratio"),
    ("apply.commit_s", "s"),
    ("apply.apply_s", "s"),
    ("apply.ddl_batch_s", "s"),
    ("apply.rows", "count"),
    ("apply.segments", "count"),
    ("lake.stage_mor_delta_s", "s"),
    ("lake.commit_staged_s", "s"),
    ("lake.merge_s", "s"),
    ("lake.snapshot_files", "count"),
    ("lake.files_written", "count"),
    ("lake.bytes_written", "bytes"),
    ("lake.write_amp", "ratio"),
    ("lake.commit_conflicts", "count"),
    ("lake.compact_s", "s"),
    ("lake.compact_bytes_rewritten", "bytes"),
    ("lake.compact_files_in", "count"),
    ("lake.compact_files_out", "count"),
    ("lake.add_column_s", "s"),
    ("lake.lookup_many_s", "s"),
    ("lake.lookup_files_scanned", "count"),
    ("lake.lookup_delta_files", "count"),
    ("lake.changes_s", "s"),
    ("lake.changes_incremental_ratio", "ratio"),
    ("wire.encode_s", "s"),
    ("wire.decode_s", "s"),
    ("wire.messages", "count"),
    ("wire.split_events", "count"),
    ("wire.parts_per_split_event", "ratio"),
    ("wire.payload_bytes", "bytes"),
    ("wire.payload_max_bytes", "bytes"),
    ("wire.undecodable", "count"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.jobs_per_call", "ratio"),
    ("jvm.gc_s", "s"),
    ("gen.late_s", "s"),
    ("trace.spans", "count"),
    ("trace.overhead_ratio", "ratio"),
]

# ---- input sizes (fixed: the same on every commit, only the seed varies) ----

# lake, backfill phase: closed-loop rounds for BACKFILL_SHARE of the window
# (and at least BACKFILL_MIN_ROUNDS), each replaying BACKFILL_EVENTS source
# events in BACKFILL_EVENTS / BACKFILL_SPAN pipelined batches into a fresh
# table, then compact().
BACKFILL_SHARE = 0.4
BACKFILL_MIN_ROUNDS = 2
BACKFILL_EVENTS = 40_000
BACKFILL_SPAN = 10_000
BACKFILL_BUCKETS = 16
BACKFILL_PIPELINE = 3

# lake, tail phase (open loop for the rest of the window): one micro-batch of
# TAIL_BATCH_EVENTS events is due every TAIL_INTERVAL_S seconds. The interval
# is a constant: the writer's work (commit, its read-after-write lookup,
# polls, compactions) keeps the loop busy about half the time on a quiet
# 4-core, 15 GB host. In the rest of each interval a reader looks up the last
# committed batch's keys, as long as one more lookup ends well before the
# next batch is due. Once the loop has fallen behind past the window's end
# it starts no further batch, but it always runs TAIL_MIN_BATCHES.
TAIL_BATCH_EVENTS = 1_000
TAIL_INTERVAL_S = 2.5
TAIL_WARM_BATCHES = 2
TAIL_MIN_BATCHES = 5
TAIL_BUCKETS = 8
TAIL_LOOKUP_KEYS = 20
TAIL_CHANGES_EVERY = 3     # changes(prev_version) poll every N batches
TAIL_COMPACT_EVERY = 5     # compact() every N batches
TAIL_ALTER_EVERY = 25      # one ALTER TABLE ... ADD COLUMN per N batches,
TAIL_ALTER_AT = 1          # ... in batch index TAIL_ALTER_AT (mod N)
TAIL_MAX_ALTERS = 8        # payload structs carry this many addable columns

# wire: WIRE_EVENTS source rows regrouped into RowsEvents of 2..64 rows;
# INSERT/DELETE events above WIRE_MAX_SIZE payload bytes split into parts.
WIRE_EVENTS = 100_000
WIRE_WARM_ROUNDS = 2
WIRE_MAX_SIZE = 16 * 1024
WIRE_BASE_SIZE = 96


def manifest() -> dict:
    """The ``BENCHMARK.json`` document for this spec."""
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd}
            for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": _better(n)} for n, u in PER_LAYER
        ],
    }


def _better(name: str) -> str:
    """Direction for a per-layer metric: times, bytes, files, jobs and
    overheads are better lower; busy ratios and incremental shares higher."""
    if name in ("apply.pipeline_busy_ratio", "lake.changes_incremental_ratio"):
        return "higher"
    return "lower"
