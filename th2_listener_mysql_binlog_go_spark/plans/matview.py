"""Incrementally-maintained aggregate views (materialized-view
maintenance from the changelog).

The lake's ``changes()`` makes the table a CDC *source*; this module is
its first in-repo consumer: an aggregate (``GROUP BY dims`` with
count/sum/avg measures) materialized as its OWN LakeTable, keyed on the
dims, and refreshed from the source's net changes instead of a full
recompute. The reference feeds message queues whose consumers build
exactly this kind of rollup by hand (th2 events-by-table dashboards);
here the maintenance is a first-class, crash-safe lake operation.

Scale shape of one refresh at 100 TB:
  * ``changes(from_v)`` — the O(changes) incremental plan when sound
    (window delta files + touched-bucket join), else the full diff;
  * one groupBy over the O(changes) contribution rows;
  * one join of those group deltas against the view state, pruned to
    the BUCKETS the changed groups hash to (the CoW-merge trick — a
    num_buckets-bounded driver collect): even a view with a billion
    groups reads only the touched buckets' files;
  * one keyed LakeTable.merge into the view — O(touched groups).
Nothing scans the source table on the incremental path.

Correctness model: every change row decomposes into signed contribution
rows (+after for INSERT/UPDATE, −before for UPDATE/DELETE; UPDATE before
images come from ``_before``, DELETE rows already carry theirs). count
and sum are abelian-group aggregates, so the signed fold equals a full
recompute EXACTLY for integer measures (float sums may differ in
rounding by addition order — disclosed, tested with tolerance). sum and
avg each keep a non-null count alongside their accumulator, so an
all-NULL group reads back as NULL — SQL ``sum``/``avg`` semantics, not
the monoid's 0. min/max are NOT groups (no inverse under deletion), so
a view containing one switches to the TOUCHED-GROUP RECOMPUTE strategy:
the changelog still identifies the O(changed groups) dim values, but
their new values come from re-aggregating the source restricted to
those groups (a per-dim membership predicate + an exact semi join)
instead of folding deltas. The predicate reaches the parquet SCAN
(PushedFilters + row-group pruning over the key-sorted files) when the
dims are source KEY columns — the LWW window partitions by exactly
those, so the filter passes through it; for non-key dims group
membership is only knowable post-LWW, so the filter applies immediately
above the window: the aggregate input is O(touched groups) but the scan
itself is O(source) — the irreducible cost min/max fundamentally
requires under deletion. Untouched groups' VIEW state is never read or
rewritten on either path.

Idempotence / crash safety ride the lake's own machinery: the refresh
merges with ``batch_id = source_version``, so a crashed-and-replayed
refresh is a no-op (lake.py's last_batch_id gate), and the watermark
(``view_source_version``) commits atomically WITH the merged rows via
``extra_properties`` — the view can never record a refresh it didn't
apply, or apply one it didn't record.
"""
from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame
from .lake import GTID_COL, OP_COL, LakeTable

_ROWCNT = "_rowcnt"  # hidden liveness count: group row is deleted at 0
_SIGN = "_sign"

_INT_TYPES = {"tinyint", "smallint", "int", "bigint", "long", "integer",
              "short", "byte", "boolean"}


def _storage_type(src: DataFrame, expr: str) -> str:
    t = src.select(F.expr(expr).alias("_e")).schema[0].dataType.simpleString()
    return "bigint" if t in _INT_TYPES else "double"


class IncrementalAggView:
    """A ``GROUP BY dims`` aggregate over a source LakeTable, stored as
    its own LakeTable (keys = dims) and refreshed incrementally from
    ``source.changes()``.

    ``aggs`` maps output column name -> spec tuple:
      ``("count",)``      — row count of the group;
      ``("sum", expr)``   — sum of a SQL expression over source columns;
      ``("avg", expr)``   — mean of the expression (NULLs excluded, like
                            SQL ``avg``);
      ``("min", expr)`` / ``("max", expr)`` — extremes of the expression.
                            Any min/max in the view switches refresh to
                            the touched-group recompute strategy (module
                            docstring) — correct under DELETE, costed by
                            how well the source prunes on the dims.

    The view inherits the full lake surface: snapshot isolation, time
    travel over refresh history, ``lookup()`` for single-group reads,
    compaction, and the changelog (a view's ``changes()`` feeds the
    NEXT consumer down the chain)."""

    #: storage-layout generation; bump on ANY change to the hidden
    #: column set (the SEQ_ENCODING precedent: refuse, don't misread)
    FORMAT = "2"

    def __init__(self, spark: SparkSession, source: LakeTable, table: LakeTable):
        self.spark = spark
        self.source = source
        self.table = table
        props = table.snapshot.properties
        fmt = props.get("view_format")
        if fmt != self.FORMAT:
            raise ValueError(
                f"view at {table.root} uses storage layout {fmt!r}; this "
                f"build reads {self.FORMAT!r} — recreate the view (the "
                "hidden column set changed; a silent read would miss or "
                "misinterpret storage columns)")
        self.dims: list[str] = json.loads(props["view_dims"])
        self.aggs: dict[str, tuple] = {
            k: tuple(v) for k, v in json.loads(props["view_aggs"]).items()}
        #: min/max have no inverse under DELETE — refresh recomputes the
        #: touched groups from source instead of folding signed deltas
        self.needs_recompute = any(
            s[0] in ("min", "max") for s in self.aggs.values())
        # A refresh against the wrong source would merge foreign deltas
        # AND advance the watermark — permanently corrupting the view
        # even after re-pointing. Reject up front; a deliberately moved
        # source re-points via set_properties({'view_source_root': ...}).
        want = props.get("view_source_root")
        if want is not None and os.path.realpath(source.root) != os.path.realpath(want):
            raise ValueError(
                f"view at {table.root} tracks source {want!r}, "
                f"got {source.root!r} — re-point with "
                "table.set_properties({'view_source_root': ...}) if the "
                "source genuinely moved")

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def create(cls, spark: SparkSession, source: LakeTable, root: str,
               dims: list[str], aggs: dict[str, tuple],
               num_buckets: int = 16) -> "IncrementalAggView":
        """Full initial compute at the source's CURRENT version, then
        incremental forever (``refresh``)."""
        cls._validate(aggs, dims)
        src_cols = {c.name: c.type for c in source.snapshot.columns}
        for d in dims:
            if d not in src_cols:
                raise ValueError(f"dim {d!r} is not a source column")
        v0 = source.snapshot.version
        src = source.read()

        schema = [(d, src_cols[d]) for d in dims]
        for name, spec in aggs.items():
            for st_col, st_type in cls._storage_cols(name, spec, src):
                schema.append((st_col, st_type))
        schema.append((_ROWCNT, "bigint"))

        table = LakeTable.create(
            spark, root, schema, key_cols=list(dims), num_buckets=num_buckets,
            properties={
                "view_format": cls.FORMAT,
                "view_source_version": str(v0),
                "view_source_root": source.root,
                "view_dims": json.dumps(list(dims)),
                "view_aggs": json.dumps({k: list(v) for k, v in aggs.items()}),
            })
        view = cls(spark, source, table)
        init = src.groupBy(*[F.col(d) for d in dims]).agg(
            F.count(F.lit(1)).alias(_ROWCNT), *view._full_agg_exprs())
        table.merge(
            init.withColumn(OP_COL, F.lit("INSERT"))
                .withColumn(GTID_COL, F.lit(v0).cast("bigint")),
            batch_id=v0, mode="mor",
            extra_properties={"view_source_version": str(v0)})
        return view

    @classmethod
    def load(cls, spark: SparkSession, source: LakeTable, root: str) -> "IncrementalAggView":
        return cls(spark, source, LakeTable.load(spark, root))

    @staticmethod
    def _validate(aggs: dict[str, tuple], dims: list[str] | None = None) -> None:
        if not aggs:
            raise ValueError("aggs must not be empty")
        dims = dims or []
        if len(set(dims)) != len(dims):
            raise ValueError(f"duplicate dim in {dims}")
        for name, spec in aggs.items():
            kind = spec[0]
            if kind not in ("count", "sum", "avg", "min", "max"):
                raise ValueError(f"{name}: unknown agg kind {kind!r}")
            if kind != "count" and len(spec) != 2:
                raise ValueError(f"{name}: {kind} takes exactly one expression")
        # Collision check over the COMPLETE produced-column set (agg
        # names + every hidden storage column), order-independently: a
        # dict-order-dependent check would let {"_sum_x": sum, "x": avg}
        # slip through while the reverse order raised.
        produced: list[str] = []
        for name, spec in aggs.items():
            cols = IncrementalAggView._storage_names(name, spec)
            produced += [name] + [c for c in cols if c != name]
        all_cols = list(dims) + [_ROWCNT] + produced
        seen: set[str] = set()
        for c in all_cols:
            if c in seen:
                raise ValueError(
                    f"agg column {c!r} collides with a dim, a reserved "
                    "column, or another agg's storage column")
            seen.add(c)

    @staticmethod
    def _storage_names(name: str, spec: tuple) -> list[str]:
        """THE storage layout (names only) — the single source of truth
        consumed by create/validate/refresh/read, so the five sites that
        touch storage columns cannot drift. count rides ``_rowcnt``; sum
        keeps its value plus a non-null count (SQL NULL semantics —
        read() returns NULL for an all-NULL group, not the monoid's 0);
        avg keeps (sum, non-null count); min/max keep just their value
        (the recompute strategy rewrites whole touched-group rows, so no
        auxiliary accumulator is needed — NULL means an all-NULL group)."""
        kind = spec[0]
        if kind == "count":
            return []
        if kind in ("sum", "min", "max"):
            return [name] + ([f"_nn_{name}"] if kind == "sum" else [])
        return [f"_sum_{name}", f"_nn_{name}"]

    @classmethod
    def _storage_cols(cls, name: str, spec: tuple, src: DataFrame) -> list[tuple[str, str]]:
        kind = spec[0]
        names = cls._storage_names(name, spec)
        if not names:
            return []
        if kind in ("min", "max"):
            # extremes keep the expression's EXACT type (string/timestamp
            # extremes are legal; bigint/double coercion would corrupt)
            t = src.select(F.expr(spec[1]).alias("_e")
                           ).schema[0].dataType.simpleString()
            return [(names[0], t)]
        first_type = _storage_type(src, spec[1]) if kind == "sum" else "double"
        return [(names[0], first_type), (names[1], "bigint")]

    # ------------------------------------------------------------- refresh

    def refresh(self, mode: str = "auto") -> dict:
        """Advance the view to the source's current version.

        One ``changes()`` scan, one group-delta aggregate, one join
        against current view state, one keyed merge. Re-running after a
        crash is a no-op (batch_id gate); ``mode`` is passed through to
        ``changes()`` ('auto' picks the O(changes) plan when the window
        is sound, full diff otherwise)."""
        from_v = int(self.table.snapshot.properties["view_source_version"])
        to_v = self.source.snapshot.version
        if to_v <= from_v:
            return {"skipped": True, "from_version": from_v, "to_version": to_v}
        rows, cleanup = self._refresh_plan(from_v, to_v, mode)
        try:
            m = self.table.merge(
                rows, batch_id=to_v, mode="mor",
                extra_properties={"view_source_version": str(to_v)})
        finally:
            cleanup()
        m.update({"from_version": from_v, "to_version": to_v})
        return m

    def _refresh_plan(self, from_v: int, to_v: int, mode: str):
        """The refresh DataFrame (merge-ready rows) plus a cleanup
        thunk. Separated so tests can audit the plan's file set."""
        keys = self.source.snapshot.key_names
        val_cols = [c.name for c in self.source.snapshot.columns
                    if c.name not in keys]
        # contrib reads ch THREE times (after / before_u / before_d) and
        # Catalyst does not dedup common subtrees — persist the changes
        # scan so the O(changes) plan (and its old-state join) runs once
        ch = self.source.changes(from_v, to_v, mode=mode,
                                 with_before=True).persist()
        try:
            if self.needs_recompute:
                return self._refresh_recompute(ch, to_v)
            return self._refresh_plan_body(ch, keys, val_cols, to_v)
        except BaseException:
            ch.unpersist()
            raise

    def _refresh_plan_body(self, ch, keys, val_cols, to_v):
        ct = F.col("_change_type")

        cols = keys + val_cols
        after = (ch.filter(ct != "DELETE")
                 .select(*cols).withColumn(_SIGN, F.lit(1)))
        before_u = (ch.filter(ct == "UPDATE")
                    .select(*[F.col(k) for k in keys],
                            *[F.col(f"_before.{v}").alias(v) for v in val_cols])
                    .withColumn(_SIGN, F.lit(-1)))
        before_d = (ch.filter(ct == "DELETE")  # DELETE carries the before image
                    .select(*cols).withColumn(_SIGN, F.lit(-1)))
        contrib = after.unionByName(before_u).unionByName(before_d)

        sign = F.col(_SIGN)
        d_aggs = [F.coalesce(F.sum(sign), F.lit(0)).cast("bigint").alias("_d" + _ROWCNT)]
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind == "count":
                continue
            e = F.expr(spec[1])
            if kind == "sum":
                st = dict(self._view_schema())[name]
                d_aggs.append(F.coalesce(F.sum(e * sign), F.lit(0))
                              .cast(st).alias(f"_d{name}"))
                d_aggs.append(F.coalesce(
                    F.sum(F.when(e.isNotNull(), sign)), F.lit(0))
                    .cast("bigint").alias(f"_d_nn_{name}"))
            else:  # avg
                d_aggs.append(F.coalesce(F.sum(e * sign), F.lit(0))
                              .cast("double").alias(f"_d_sum_{name}"))
                d_aggs.append(F.coalesce(
                    F.sum(F.when(e.isNotNull(), sign)), F.lit(0))
                    .cast("bigint").alias(f"_d_nn_{name}"))
        deltas = contrib.groupBy(*[F.col(d) for d in self.dims]).agg(*d_aggs)

        # The deltas frame drives BOTH the bucket discovery and the join;
        # persist so the O(changes) contribution scan runs once. On any
        # failure below, unpersist before propagating (a recurring
        # per-epoch failure must not accumulate pinned blocks).
        deltas = deltas.persist()
        try:
            return self._refresh_join(ch, deltas, to_v)
        except BaseException:
            deltas.unpersist()
            raise

    def _refresh_join(self, ch, deltas, to_v):
        # Prune the view side to the buckets the changed groups hash to —
        # the CoW-merge trick (num_buckets-bounded collect): refresh cost
        # is O(changes + touched view buckets), so a million-group view
        # touched in 3 groups reads ~3 buckets' files, never the view.
        vsnap = self.table.snapshot
        touched = {
            r[0] for r in deltas.select(
                self.table.bucket_expr(self.dims).alias("b")).distinct().collect()
        }
        sub = vsnap.sub([fi for fi in vsnap.files if fi["bucket"] in touched])

        # join group deltas against current state — null-safe on dims
        # (NULL is a legal group). deltas is O(changed groups).
        cur = self.table.read(snapshot=sub).alias("cur")
        dl = deltas.alias("dl")
        j = dl.join(cur, on=self._dim_cond("dl", "cur"), how="left")

        new_cnt = (F.coalesce(F.col(f"cur.{_ROWCNT}"), F.lit(0))
                   + F.col(f"dl._d{_ROWCNT}"))
        sel = [F.col(f"dl.{d}").alias(d) for d in self.dims]
        for st_col, st_type in self._storage_pairs():
            sel.append((F.coalesce(F.col(f"cur.{st_col}"),
                                   F.lit(0).cast(st_type))
                        + F.col(f"dl._d{st_col}")).cast(st_type).alias(st_col))
        rows = self._finalize_rows(j, sel, new_cnt, to_v)

        def _cleanup():
            deltas.unpersist()
            ch.unpersist()
        return rows, _cleanup

    def _dim_cond(self, left: str, right: str):
        """Null-safe dim equality between two ALIASED frames (NULL is a
        legal group value; plain ``on=dims`` would never match it)."""
        cond = None
        for d in self.dims:
            c = F.col(f"{left}.{d}").eqNullSafe(F.col(f"{right}.{d}"))
            cond = c if cond is None else (cond & c)
        return cond

    def _finalize_rows(self, j, sel: list, cnt_expr, to_v: int):
        """The merge-row contract shared by BOTH refresh strategies:
        dims + storage columns (caller's ``sel``) + liveness count, a
        DELETE op exactly when the group's count reaches 0, and the
        source version as the row's gtid."""
        sel = list(sel)
        sel.append(cnt_expr.cast("bigint").alias(_ROWCNT))
        sel.append(F.when(cnt_expr <= 0, F.lit("DELETE"))
                   .otherwise(F.lit("UPDATE")).alias(OP_COL))
        return j.select(*sel).withColumn(GTID_COL, F.lit(to_v).cast("bigint"))

    #: per-dim pushdown cap for the recompute strategy's touched-group
    #: probe (the changes() keyset precedent: bounded limit(cap+1) rows)
    RECOMPUTE_PUSHDOWN_MAX = 4096

    def _refresh_recompute(self, ch, to_v):
        """Touched-group RECOMPUTE refresh — the strategy when any agg
        lacks an inverse under DELETE (min/max). The changelog still
        bounds WHICH groups changed (O(changed groups) distinct over the
        window, before + after images so dim-moves touch both sides);
        their new values come from one re-aggregation of the source
        RESTRICTED to those groups:

          * per-dim ``isin`` prefilter (bounded ``limit(cap+1)`` probe,
            the ``changes()`` keyset precedent) — for KEY dims it passes
            through the LWW window into the parquet scan (PushedFilters
            + row-group pruning over the key-sorted files); for non-key
            dims it applies immediately above the window (membership is
            only knowable post-LWW), bounding the aggregate input while
            the scan stays O(source);
          * an exact null-safe semi join (broadcast when the probe
            engaged) removes the per-column cross-product slack;
          * groups with NO surviving source rows become DELETE rows.

        Worst case (touched groups exceed the cap, or non-key dims)
        scans the source once — the cost min/max fundamentally requires
        under deletion; the untouched groups' VIEW state is never read
        or rewritten."""
        ct = F.col("_change_type")
        dcols = [F.col(d) for d in self.dims]
        # UPDATE before-image dims: key dims are immutable within an
        # UPDATE (the _before struct carries only VALUE columns), so a
        # key dim's before value IS its after value
        src_keys = set(self.source.snapshot.key_names)
        before_dims = [
            (F.col(d) if d in src_keys else F.col(f"_before.{d}")).alias(d)
            for d in self.dims]
        touched = (ch.select(*dcols)
                   .unionByName(ch.filter(ct == "UPDATE").select(*before_dims))
                   .distinct().persist())
        try:
            # Bounded probe of the touched dim set. THREE outcomes:
            # rows==[] — the window's net change is EMPTY (e.g. a batch
            # of rewrites-to-identical-values, elided by changes()'s
            # state-diff semantics): short-circuit to a watermark-only
            # merge instead of planning an O(source) semi join that AQE
            # may or may not collapse; rows<=cap — membership prefilter
            # reaches the scan (key dims) or bounds the aggregate input
            # (non-key dims), and the probe side is safely broadcast;
            # None — over cap, unfiltered plan (correct, just wider).
            probe = LakeTable._keyset_probe(
                touched, self.dims, self.RECOMPUTE_PUSHDOWN_MAX)
            if probe is not None and len(probe) == 0:
                ddl = ", ".join(
                    f"`{n}` {t}" for n, t in self._view_schema()
                ) + f", `{OP_COL}` string, `{GTID_COL}` bigint"
                rows = local_frame(self.spark, [], ddl)
            else:
                rows = self._recompute_rows(touched, probe, dcols, to_v)
        except BaseException:
            touched.unpersist()
            raise

        def _cleanup():
            touched.unpersist()
            ch.unpersist()
        return rows, _cleanup

    def _recompute_rows(self, touched, probe, dcols, to_v):
        """One re-aggregation of the source restricted to the touched
        groups. Alias-qualified joins throughout: a source column that
        happens to share a name with anything the plan introduces cannot
        make dim references ambiguous (no reserved rename namespace)."""
        cond = (LakeTable._membership_cond(probe, self.dims)
                if probe else None)
        src = self.source.read()
        if cond is not None:
            src = src.filter(cond)
        src = src.alias("src")
        tk = touched.alias("tk")
        restricted = src.join(
            F.broadcast(tk) if cond is not None else tk,
            on=self._dim_cond("src", "tk"), how="leftsemi")
        agged = (restricted.groupBy(*dcols)
                 .agg(F.count(F.lit(1)).alias(_ROWCNT),
                      *self._full_agg_exprs())).alias("ag")
        # groups with NO surviving source rows fall out of the left
        # join — _finalize_rows turns their cnt 0 into DELETE rows
        j = touched.alias("tc").join(
            agged, on=self._dim_cond("tc", "ag"), how="left")
        cnt = F.coalesce(F.col(f"ag.{_ROWCNT}"), F.lit(0))
        sel = [F.col(f"tc.{d}").alias(d) for d in self.dims]
        for st_col, st_type in self._storage_pairs():
            sel.append(F.col(f"ag.{st_col}").cast(st_type).alias(st_col))
        return self._finalize_rows(j, sel, cnt, to_v)

    def rebuild(self) -> dict:
        """Full recompute in ONE atomic commit — the recovery path when
        the refresh watermark fell out of the source's retained snapshot
        history (``changes()`` raises "unknown or expired"; the feed-
        publisher analogue raises too — but a view, unlike a DELETE
        stream, CAN be safely rebuilt from current state).

        All previous group rows die via a ``truncate_gtid = v−1`` marker
        committed atomically WITH the recomputed rows (written at
        ``_gtid = v``): readers never see a half-rebuilt view, a crash
        before the commit changes nothing, and the old delta files'
        stamped gtid envelopes fall at or below the marker so subsequent
        scans plan them out entirely."""
        v = self.source.snapshot.version
        from_v = int(self.table.snapshot.properties["view_source_version"])
        if v <= from_v:
            return {"skipped": True, "from_version": from_v, "to_version": v}
        init = self.source.read().groupBy(*[F.col(d) for d in self.dims]).agg(
            F.count(F.lit(1)).alias(_ROWCNT), *self._full_agg_exprs())
        rows = (init.withColumn(OP_COL, F.lit("INSERT"))
                .withColumn(GTID_COL, F.lit(v).cast("bigint")))
        m = self.table.merge(
            rows, batch_id=v, mode="mor",
            extra_properties={"view_source_version": str(v),
                              "truncate_gtid": str(v - 1)})
        m.update({"from_version": from_v, "to_version": v, "rebuilt": True})
        return m

    def _storage_pairs(self) -> list[tuple[str, str]]:
        schema = dict(self._view_schema())
        return [(c, schema[c])
                for name, spec in self.aggs.items()
                for c in self._storage_names(name, spec)]

    def _view_schema(self) -> list[tuple[str, str]]:
        return [(c.name, c.type) for c in self.table.snapshot.columns]

    def _full_agg_exprs(self) -> list:
        out = []
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind == "count":
                continue
            e = F.expr(spec[1])
            if kind == "min":
                out.append(F.min(e).alias(name))
            elif kind == "max":
                out.append(F.max(e).alias(name))
            elif kind == "sum":
                st = dict(self._view_schema())[name]
                out.append(F.coalesce(F.sum(e), F.lit(0)).cast(st).alias(name))
                out.append(F.count(e).alias(f"_nn_{name}"))
            else:
                out.append(F.coalesce(F.sum(e), F.lit(0)).cast("double")
                           .alias(f"_sum_{name}"))
                out.append(F.count(e).alias(f"_nn_{name}"))
        return out

    # ------------------------------------------------------------- read

    def read(self, snapshot=None) -> DataFrame:
        """The user-facing aggregate: dims + one column per agg. count
        exposes the liveness count; sum and avg consult their non-null
        counts so an all-NULL group reads as NULL — SQL semantics."""
        raw = self.table.read(snapshot=snapshot)
        sel = [F.col(d) for d in self.dims]
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind == "count":
                sel.append(F.col(_ROWCNT).alias(name))
            elif kind in ("min", "max"):
                sel.append(F.col(name))
            elif kind == "sum":
                sel.append(F.when(F.col(f"_nn_{name}") > 0, F.col(name))
                           .alias(name))
            else:
                sel.append((F.col(f"_sum_{name}")
                            / F.nullif(F.col(f"_nn_{name}"), F.lit(0))
                            ).alias(name))
        return raw.select(*sel)

    @property
    def source_version(self) -> int:
        return int(self.table.snapshot.properties["view_source_version"])


def refresh_all(views: list, mode: str = "auto") -> dict:
    """Refresh a set of views in DEPENDENCY order — a view may source
    another view's table (its ``changes()`` feeds the next consumer
    down the chain), and refreshing a dependent before its upstream
    would advance it to a stale upstream version this cycle.

    Ordering is a topological sort on (source table root -> view table
    root) edges among the GIVEN views; independent views keep their
    input order (stable). A cycle raises ``ValueError`` (views cannot
    feed themselves). Returns ``{view_root: refresh_metrics}`` in the
    order executed. One cycle of ``refresh_all`` moves every chained
    view to a CONSISTENT cut: each view lands exactly at its upstream's
    post-refresh version."""
    by_root = {os.path.realpath(v.table.root): v for v in views}
    if len(by_root) != len(views):
        raise ValueError("duplicate view table root in views")
    ordered: list = []
    state: dict[str, int] = {}  # 0 visiting, 1 done

    def visit(root: str) -> None:
        st = state.get(root)
        if st == 1:
            return
        if st == 0:
            raise ValueError(f"view dependency cycle through {root}")
        state[root] = 0
        up = os.path.realpath(by_root[root].source.root)
        if up in by_root:
            visit(up)
        state[root] = 1
        ordered.append(root)

    for v in views:
        visit(os.path.realpath(v.table.root))
    return {root: by_root[root].refresh(mode=mode) for root in ordered}
