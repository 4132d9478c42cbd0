"""The workloads: input generation, warm-up, the timed loop, and the
correctness check of what the engine produced.

Each workload runs in one process against one SparkSession. The engine only
ever sees the generated DataFrames; expected results come from plain Spark
(or plain Python) computations over the same inputs that share no code with
the engine's apply, lake or wire paths.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import synthetic_changestream
from th2_listener_mysql_binlog_go_spark.sources.rawjson import decode_stream, encode_stream_batched
from th2_listener_mysql_binlog_go_spark.streaming.runner import ReplayRunner

from . import spec

DML = ("INSERT", "UPDATE", "DELETE")
BASE_FIELDS = ["repo", "path", "commit", "lang", "content"]
TABLE_SCHEMA = [(f, "string") for f in BASE_FIELDS]
KEYS = ["repo", "path"]
WIRE_COLS = ["gtid", "op", "table_name", "before", "after"]
WIRE_READ_SCHEMA = ("gtid bigint, log_pos bigint, part_idx int, log_name string, "
                    "seq bigint, ts bigint, payload string")


class Ops:
    """Attempted and failed operations; a failed check counts as a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, what: str, fn):
        """Run one operation; an exception is recorded, reported on stderr
        and counted as a failure, and the loop goes on."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # boundary: the benchmark must finish and report
            self.failed += 1
            self.errors.append(what)
            print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"[perfbench] check failed: {what} {detail}", file=sys.stderr)


def timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent sum of per-row 64-bit hashes)."""
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def lww_reference(stream: DataFrame, upto_gtid: int,
                  alters: list[tuple[str, int]] = ()) -> DataFrame:
    """Expected table state after applying every event with gtid <=
    ``upto_gtid``: plain-Spark last-writer-wins per key over the observed
    table's DML. The generators emit one event per gtid and key-preserving
    UPDATEs, so the key is the row image's and gtid alone orders a key's
    events. A column added by an ALTER at gtid g reads NULL where the
    winning row was written before g."""
    dml = stream.filter(
        (F.col("gtid") <= upto_gtid) & F.col("op").isin(*DML)
        & (F.col("schema_name") == "repos") & (F.col("table_name") == "files"))
    keyed = dml.select("gtid", "op", F.coalesce("after", "before").alias("r"))
    w = Window.partitionBy(F.col("r.repo"), F.col("r.path")).orderBy(F.col("gtid").desc())
    win = (keyed.withColumn("_rn", F.row_number().over(w))
           .filter((F.col("_rn") == 1) & (F.col("op") != "DELETE")))
    cols = [F.col(f"r.{f}").alias(f) for f in BASE_FIELDS]
    cols += [F.when(F.col("gtid") > g, F.col(f"r.{name}")).cast("int").alias(name)
             for name, g in alters if g <= upto_gtid]
    return win.select(*cols)


def live_bytes(table: LakeTable) -> int:
    return sum(os.path.getsize(os.path.join(table.root, fi["path"]))
               for fi in table.snapshot.files)


def check_state(ops: Ops, what: str, table: LakeTable, expected: DataFrame) -> int:
    """Compare the table's state with the reference; returns live rows."""
    cols = expected.columns
    got = digest(table.read().select(*cols), cols)
    want = digest(expected, cols)
    ops.check(what, got == want, f"got (rows, hash) {got}, expected {want}")
    return got[0]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


class Workload:
    """One workload. ``prepare`` builds and persists the inputs (part of
    set-up), ``warm`` compiles and JIT-warms the measured path on
    throwaway state, ``measure`` runs the timed loop for ``seconds`` and
    returns its samples, ``latency`` is the samples' headline latency (used
    for the tracing overhead), ``finish`` checks the outputs and returns the
    end-to-end metrics plus the named figures for the report."""

    pipeline_depth = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.ops: Ops = ctx.ops

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)


# ---------------------------------------------------------------- lake

class Backfill(Workload):
    """Closed loop, one replay at a time: the whole stream into a fresh MOR
    table through the pipelined runner, then the final compact()."""

    def prepare(self) -> None:
        self.n = spec.BACKFILL_EVENTS
        self.stream = synthetic_changestream(
            self.spark, self.n, n_paths=2000, seed=self.ctx.seed,
            with_truncate=False, n_partitions=self.ctx.nproc).persist()
        self.stream.count()

    def _round(self, name: str, tracer, bounds: tuple[int, int]) -> tuple[float, LakeTable]:
        root = self.path(name)
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(self.spark, root, TABLE_SCHEMA, key_cols=KEYS,
                                 num_buckets=spec.BACKFILL_BUCKETS)
        runner = ReplayRunner(self.spark, table, batch_span=spec.BACKFILL_SPAN,
                              pipeline_depth=spec.BACKFILL_PIPELINE)
        t0 = time.monotonic()
        self.ops.run("backfill replay", lambda: runner.run(self.stream, bounds=bounds))
        self.ops.run("backfill compact", table.compact)
        wall = time.monotonic() - t0
        tracer.count("lake.live_bytes", live_bytes(table))
        return wall, table

    def warm(self) -> None:
        from .trace import NullTracer

        # one full, untimed round: a smaller one leaves the first timed
        # rounds measurably colder than the rest
        self._round("warm", NullTracer(), (0, self.n - 1))
        shutil.rmtree(self.path("warm"), ignore_errors=True)

    def measure(self, seconds: float, tracer) -> list[float]:
        """Rounds until the next one would end past ``seconds`` (estimated
        by the last round), and at least BACKFILL_MIN_ROUNDS."""
        walls: list[float] = []
        t0 = time.monotonic()
        while (len(walls) < spec.BACKFILL_MIN_ROUNDS
               or time.monotonic() - t0 + walls[-1] <= seconds):
            wall, self.table = self._round(f"round{len(walls) % 2}", tracer, (0, self.n - 1))
            walls.append(wall)
        return walls

    def check(self) -> tuple[int, int]:
        """Final state of the last round; returns (live rows, bytes)."""
        rows = check_state(self.ops, "backfill final state", self.table,
                           lww_reference(self.stream, self.n - 1))
        return rows, live_bytes(self.table)


class Tail(Workload):
    """Open loop: batch b is due at t0 + b * TAIL_INTERVAL_S whether or not
    the previous one finished; each is applied as one sequential micro-batch
    and read back; changes() polls, compactions and ALTERs ride along."""

    def __init__(self, ctx, seconds: float):
        super().__init__(ctx)
        self.batches = max(math.ceil(seconds / spec.TAIL_INTERVAL_S),
                           spec.TAIL_MIN_BATCHES, spec.TAIL_WARM_BATCHES)

    def alters(self) -> list[tuple[str, int]]:
        """(column, gtid) of every ALTER TABLE ... ADD COLUMN in the stream."""
        e, out = spec.TAIL_BATCH_EVENTS, []
        for j in range(spec.TAIL_MAX_ALTERS):
            b = j * spec.TAIL_ALTER_EVERY + spec.TAIL_ALTER_AT
            if b < self.batches:
                out.append((f"x{j}", b * e + e // 2))
        return out

    def prepare(self) -> None:
        e = spec.TAIL_BATCH_EVENTS
        self.n = self.batches * e
        base = synthetic_changestream(self.spark, self.n, seed=self.ctx.seed,
                                      with_truncate=False, n_partitions=self.ctx.nproc)
        alters = self.alters()
        # payload rows carry every addable column from the start; the table
        # only keeps a column once its ALTER has been applied
        xs = [(F.col("gtid") % 997 + j).cast("int").alias(f"x{j}")
              for j in range(spec.TAIL_MAX_ALTERS)]
        wide_t = "struct<" + ",".join(
            [f"{f}:string" for f in BASE_FIELDS]
            + [f"x{j}:int" for j in range(spec.TAIL_MAX_ALTERS)]) + ">"

        def widen(c: str):
            return F.when(F.col(c).isNull(), F.lit(None).cast(wide_t)).otherwise(
                F.struct(*[F.col(f"{c}.{f}").alias(f) for f in BASE_FIELDS], *xs))

        is_alter = F.col("gtid").isin(*[g for _, g in alters]) if alters else F.lit(False)
        ddl = F.lit(None).cast("string")
        for name, g in alters:
            ddl = F.when(F.col("gtid") == g,
                         F.lit(f"ALTER TABLE repos.files ADD COLUMN {name} INT")).otherwise(ddl)
        self.stream = base.select(
            "gtid", "log_name", "log_pos", "seq", "ts", "schema_name",
            F.when(is_alter, "files").otherwise(F.col("table_name")).alias("table_name"),
            F.when(is_alter, "QUERY").otherwise(F.col("op")).alias("op"),
            F.when(is_alter, F.lit(None).cast(wide_t)).otherwise(widen("before")).alias("before"),
            F.when(is_alter, F.lit(None).cast(wide_t)).otherwise(widen("after")).alias("after"),
            F.when(is_alter, ddl).otherwise(F.col("ddl")).alias("ddl"),
        ).persist()
        # driver-side expectations for the read-after-write lookups
        rows = (self.stream.filter(F.col("op").isin(*DML) & (F.col("table_name") == "files"))
                .select("gtid", "op", F.coalesce("after.repo", "before.repo").alias("repo"),
                        F.coalesce("after.path", "before.path").alias("path"))
                .collect())
        rows.sort(key=lambda r: r["gtid"])
        last_op: dict[tuple, str] = {}
        self.probes: list[list[tuple]] = []
        self.expect_live: list[set] = []
        it = iter(rows)
        r = next(it, None)
        for b in range(self.batches):
            keys: list[tuple] = []
            while r is not None and r["gtid"] < (b + 1) * e:
                k = (r["repo"], r["path"])
                last_op[k] = r["op"]
                if k not in keys and len(keys) < spec.TAIL_LOOKUP_KEYS:
                    keys.append(k)
                r = next(it, None)
            self.probes.append(keys)
            self.expect_live.append({k for k in keys if last_op[k] != "DELETE"})

    def _table(self, name: str) -> tuple[LakeTable, ReplayRunner]:
        root = self.path(name)
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(self.spark, root, TABLE_SCHEMA, key_cols=KEYS,
                                 num_buckets=spec.TAIL_BUCKETS)
        # compaction is scheduled by the loop, not triggered by delta counts
        runner = ReplayRunner(self.spark, table, batch_span=spec.TAIL_BATCH_EVENTS,
                              config=ApplyConfig(auto_compact_deltas=None))
        return table, runner

    def warm(self) -> None:
        # the warm-up batches include the one carrying the ALTER
        table, runner = self._table("warm")
        walls = []
        for b in range(spec.TAIL_WARM_BATCHES):
            runner.run(self.stream, max_batches=1, bounds=(0, self.n - 1))
            walls.append(timed(lambda: table.lookup_many(self.probes[b])
                               .select(*KEYS).collect()))
        self.lookup_est = walls[-1]
        table.changes(0).count()
        if self.ctx.tracer.enabled:
            # bucket ids of every probe key, for the traced run's file counts
            flat = [k for keys in self.probes for k in keys]
            ids = iter(table.key_buckets(flat))
            self.probe_buckets = [{next(ids) for _ in keys} for keys in self.probes]
        shutil.rmtree(self.path("warm"), ignore_errors=True)

    def measure(self, seconds: float, tracer) -> dict:
        table, runner = self._table("tail")
        bounds = (0, self.n - 1)
        commits, fresh, late, lookups, polls, busy = [], [], [], [], [], 0.0
        poll_from = table.snapshot.version

        def lookup(b: int) -> None:
            """Look up batch b's keys; the table holds the state after b."""
            if tracer.enabled:
                files = [fi for fi in table.snapshot.files
                         if fi["bucket"] in self.probe_buckets[b]]
                tracer.count("lake.lookups")
                tracer.count("lake.lookup_files_sum", len(files))
                tracer.count("lake.lookup_delta_sum",
                             sum(1 for fi in files if fi.get("kind") == "delta"))
            keys = self.probes[b]

            def run():
                with tracer.span("lake.lookup_many"):
                    return table.lookup_many(keys).select(*KEYS).collect()

            t = time.monotonic()
            got = self.ops.run(f"tail lookup {b}", run)
            lookups.append(time.monotonic() - t)
            if got is not None:
                got_keys = {(r["repo"], r["path"]) for r in got}
                self.ops.check(f"tail lookup {b} keys", got_keys == self.expect_live[b],
                               f"got {sorted(got_keys)} expected {sorted(self.expect_live[b])}")

        t0 = time.monotonic()
        for b in range(self.batches):
            due = t0 + b * spec.TAIL_INTERVAL_S
            # the reader: look up the last batch's keys while one more lookup
            # ends well before this batch is due, so the writer is not delayed
            while b and time.monotonic() + 1.5 * max(lookups[-3:] or [self.lookup_est]) < due:
                lookup(b - 1)
            # no batch is due after the window; and once the loop has fallen
            # behind past its end, the batches left are not started
            if max(due, time.monotonic()) - t0 >= seconds and b >= spec.TAIL_MIN_BATCHES:
                break
            now = time.monotonic()
            if now < due:
                time.sleep(due - now)
            start = time.monotonic()
            late.append(start - due)
            tracer.count("gen.late_sum", start - due)
            tracer.count("gen.batches")
            if self.ops.run(f"tail commit {b}", lambda: runner.run(
                    self.stream, max_batches=1, bounds=bounds)) is not None:
                end = time.monotonic()
                commits.append(end - start)
                fresh.append(end - due)
            lookup(b)  # read-after-write

            if b % spec.TAIL_CHANGES_EVERY == spec.TAIL_CHANGES_EVERY - 1:
                if tracer.enabled:
                    tracer.count("lake.changes_polls")
                    if table.changes_plan(poll_from) == "incremental":
                        tracer.count("lake.changes_incremental")
                v_from = poll_from

                def poll():
                    with tracer.span("lake.changes"):
                        return table.changes(v_from).count()

                t = time.monotonic()
                self.ops.run(f"tail changes {b}", poll)
                polls.append(time.monotonic() - t)
                poll_from = table.snapshot.version
            if b % spec.TAIL_COMPACT_EVERY == spec.TAIL_COMPACT_EVERY - 1:
                self.ops.run(f"tail compact {b}", table.compact)
            busy += time.monotonic() - start
        self.table = table
        tracer.count("lake.live_bytes", live_bytes(table))
        return {"commits": commits, "fresh": fresh, "late": late, "lookups": lookups, "polls": polls,
                "busy": busy, "wall": time.monotonic() - t0}

    def check(self) -> tuple[int, int]:
        """Final state against the applied prefix; returns (live rows, bytes)."""
        rows = check_state(self.ops, "tail final state", self.table,
                           lww_reference(self.stream, self.table.watermark_gtid, self.alters()))
        return rows, live_bytes(self.table)


class Lake(Workload):
    """The lake's two jobs in one process: a bulk backfill for
    BACKFILL_SHARE of the window, then an open-loop tail on a fresh table
    for the rest of it."""

    pipeline_depth = spec.BACKFILL_PIPELINE

    def __init__(self, ctx):
        super().__init__(ctx)
        self.backfill = Backfill(ctx)
        self.tail = Tail(ctx, self._tail_seconds(ctx.seconds))

    @staticmethod
    def _tail_seconds(seconds: float) -> float:
        return seconds * (1 - spec.BACKFILL_SHARE)

    def prepare(self) -> None:
        self.backfill.prepare()
        self.tail.prepare()

    def warm(self) -> None:
        # the backfill's warm-up last, right before its timed rounds
        self.tail.warm()
        self.backfill.warm()

    def measure(self, seconds: float, tracer) -> dict:
        return {"backfill": self.backfill.measure(seconds - self._tail_seconds(seconds), tracer),
                "tail": self.tail.measure(self._tail_seconds(seconds), tracer)}

    def latency(self, samples: dict) -> float:
        """Median tail commit wall: the part of freshness that does not
        depend on how far the open loop fell behind its schedule."""
        return median(samples["tail"]["commits"])

    def finish(self, samples: dict) -> tuple[dict, dict]:
        bf_rows, bf_bytes = self.backfill.check()
        tail_rows, tail_bytes = self.tail.check()
        walls, tail = samples["backfill"], samples["tail"]
        n = self.backfill.n
        e2e = {
            "write_events_per_s": n / median(walls),
            "read_p50_s": median(tail["lookups"]),
            "latency_p50_s": self.latency(samples),
            "bytes_per_row": bf_bytes / max(bf_rows, 1),
        }
        fresh = tail["fresh"]
        named = {
            "apply_events_per_s": (n / median(walls), "events/s"),
            "backfill_rounds": (len(walls), "count"),
            "backfill_events": (n, "count"),
            "commit_p50_s": (self.latency(samples), "s"),
            "freshness_p50_s": (median(fresh), "s"),
            "freshness_max_s": (max(fresh) if fresh else float("nan"), "s"),
            "lookup_p50_s": (median(tail["lookups"]), "s"),
            "changes_p50_s": (median(tail["polls"]), "s"),
            "tail_commits": (len(fresh), "count"),
            "tail_lookups": (len(tail["lookups"]), "count"),
            "tail_busy_ratio": (tail["busy"] / tail["wall"], "ratio"),
            "tail_late_max_s": (max(tail["late"]) if tail["late"] else 0.0, "s"),
            "backfill_bytes_per_row": (e2e["bytes_per_row"], "bytes"),
            "tail_bytes_per_row": (tail_bytes / max(tail_rows, 1), "bytes"),
        }
        return e2e, named


# ---------------------------------------------------------------- wire

class Wire(Workload):
    """Closed loop: encode + split + JSON-lines write (publish), then read +
    decode + count (consume), one round after another."""

    def _source(self, n: int) -> DataFrame:
        """Generated rows regrouped into multi-row RowsEvents: 64 consecutive
        rows form a transaction (gtid), cut into events of 2..64 rows (size
        drawn per transaction), one op per event."""
        seed = self.ctx.seed
        base = synthetic_changestream(self.spark, n, seed=seed, with_truncate=False,
                                      n_partitions=self.ctx.nproc)
        base = base.filter(F.col("op").isin(*DML))
        txn = (F.col("gtid") / 64).cast("bigint")
        size = F.element_at(F.array(*[F.lit(s) for s in (2, 4, 8, 16, 32, 64)]),
                            (F.abs(F.xxhash64(txn, F.lit(seed), F.lit(11))) % 6 + 1).cast("int"))
        evt = ((F.col("gtid") % 64) / size).cast("bigint")
        m = F.abs(F.xxhash64(txn, evt, F.lit(seed), F.lit(12))) % 10
        op = F.when(m < 6, "INSERT").when(m < 9, "UPDATE").otherwise("DELETE")
        # UPDATE events are never split (update.go), so they are cut into
        # runs of at most 4 rows, which stay under WIRE_MAX_SIZE
        sub = F.when(op == "UPDATE", ((F.col("gtid") % 64) % size / 4).cast("bigint")).otherwise(0)
        row = F.coalesce("after", "before")
        return base.select(
            txn.alias("gtid"), "log_name", (F.lit(4) + evt * 65536 + sub * 256).alias("log_pos"),
            F.col("gtid").alias("seq"), "ts", "schema_name", F.lit("files").alias("table_name"),
            op.alias("op"),
            F.when(op != "INSERT", row).alias("before"),
            F.when(op != "DELETE", row).alias("after"),
            F.lit(None).cast("string").alias("ddl"),
        )

    def prepare(self) -> None:
        self.src = self._source(spec.WIRE_EVENTS).persist()
        self.n, self.src_hash = digest(self.src, WIRE_COLS)

    def _round(self, src: DataFrame, out: str, tracer) -> tuple[float, float]:
        def publish():
            with tracer.span("wire.encode"):
                (encode_stream_batched(src, max_size=spec.WIRE_MAX_SIZE,
                                       base_size=spec.WIRE_BASE_SIZE, split_mode="cumsum")
                 .write.mode("overwrite").json(out))

        def consume():
            with tracer.span("wire.decode"):
                return decode_stream(self.spark.read.schema(WIRE_READ_SCHEMA).json(out)).count()

        t_pub = timed(lambda: self.ops.run("wire publish", publish))
        t_con = timed(lambda: self.ops.run("wire consume", consume))
        return t_pub, t_con

    def warm(self) -> None:
        from .trace import NullTracer

        # full, untimed rounds: after a single one the first timed rounds
        # were still measurably slower than the rest
        for _ in range(spec.WIRE_WARM_ROUNDS):
            self._round(self.src, self.path("wire"), NullTracer())

    def measure(self, seconds: float, tracer) -> dict:
        """Rounds until the next one would end past ``seconds`` (estimated
        by the last round), and at least two."""
        pubs, cons = [], []
        t0 = time.monotonic()
        while len(pubs) < 2 or time.monotonic() - t0 + pubs[-1] + cons[-1] <= seconds:
            p, c = self._round(self.src, self.path("wire"), tracer)
            pubs.append(p)
            cons.append(c)
        return {"pub": pubs, "con": cons}

    def latency(self, samples: dict) -> float:
        return median([p + c for p, c in zip(samples["pub"], samples["con"])])

    def finish(self, samples: dict) -> tuple[dict, dict]:
        raw = self.spark.read.schema(WIRE_READ_SCHEMA).json(self.path("wire"))
        # one pass over the decoded side: quarantined messages are counted,
        # well-formed rows hashed
        dec = decode_stream(raw, quarantine=True)
        ok = ~F.col("_undecodable")
        h = F.xxhash64(*[F.col(c) for c in WIRE_COLS]).cast("decimal(38,0)")
        d = dec.agg(F.count(F.when(ok, 1)).alias("n"), F.sum(F.when(ok, h)).alias("h"),
                    F.count(F.when(~ok, 1)).alias("bad")).collect()[0]
        got, want = (int(d["n"]), int(d["h"] or 0)), (self.n, self.src_hash)
        self.ops.check("wire decoded multiset", got == want,
                       f"got (rows, hash) {got}, expected {want}")
        size = F.octet_length("payload")
        st = (raw.groupBy("gtid", "log_pos")
              .agg(F.count(F.lit(1)).alias("p"), F.sum(size).alias("b"), F.max(size).alias("m"))
              .agg(F.sum("p").alias("msgs"), F.sum("b").alias("bytes"), F.max("m").alias("max"),
                   F.count(F.when(F.col("p") > 1, 1)).alias("split"),
                   F.sum(F.when(F.col("p") > 1, F.col("p"))).alias("parts"))
              .collect()[0])
        bad = int(d["bad"])
        self.ops.check("wire payload <= max_size", st["max"] <= spec.WIRE_MAX_SIZE,
                       f"max payload {st['max']} > {spec.WIRE_MAX_SIZE}")
        self.ops.check("wire undecodable == 0", bad == 0, f"{bad} undecodable")
        for k, v in (("wire.messages", st["msgs"]), ("wire.payload_bytes", st["bytes"]),
                     ("wire.payload_max_bytes", st["max"]), ("wire.split_events", st["split"]),
                     ("wire.split_parts", st["parts"] or 0), ("wire.undecodable", bad)):
            self.ctx.tracer.count(k, v)
        pub, con = median(samples["pub"]), median(samples["con"])
        e2e = {
            "write_events_per_s": self.n / pub,
            "read_p50_s": con,
            "latency_p50_s": self.latency(samples),
            "bytes_per_row": st["bytes"] / self.n,
        }
        named = {
            "publish_events_per_s": (self.n / pub, "events/s"),
            "consume_events_per_s": (self.n / con, "events/s"),
            "messages": (st["msgs"], "count"),
            "split_events": (st["split"], "count"),
            "rounds": (len(samples["pub"]), "count"),
            "source_events": (self.n, "count"),
        }
        return e2e, named


WORKLOADS = {"lake": Lake, "wire": Wire}
