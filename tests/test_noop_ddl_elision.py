"""Round-6 optimization: ALTERs that provably do not change the column set
(re-ADD of an existing column, same-type MODIFY, rename-to-self, DROP of an
absent column) no longer force a segment boundary — the batch merges in
fewer segments, the DDLs still apply in order (metrics identical), and the
converged state is unchanged. A schema-CHANGING ALTER still segments.
"""

import os
import time
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.operators.apply import BatchApplier
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("content", "string")]


def _mk_batch(spark, rows, ddls):
    """rows: (gtid, repo, path, content); ddls: (gtid, stmt)."""
    row_t = "struct<repo:string,path:string,content:string>"
    data = [
        (g, "binlog.000001", g * 256, 0, 0, "repos", "files", "INSERT",
         None, {"repo": r, "path": p, "content": c}, None)
        for (g, r, p, c) in rows
    ] + [
        (g, "binlog.000001", g * 256, 0, 0, "repos", "files", "QUERY",
         None, None, stmt)
        for (g, stmt) in ddls
    ]
    return spark.createDataFrame(
        data,
        f"gtid bigint, log_name string, log_pos bigint, seq bigint, ts bigint, "
        f"schema_name string, table_name string, op string, "
        f"before {row_t}, after {row_t}, ddl string")


def test_noop_alters_do_not_segment(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_cols=["repo", "path"], num_buckets=2)
    rows = [(g, f"r{g % 3}", f"p{g}", f"c{g}") for g in range(1, 20)]
    noop_ddls = [
        (5, "ALTER TABLE repos.files ADD COLUMN content VARCHAR(10)"),  # exists
        (9, "ALTER TABLE repos.files DROP COLUMN nosuch"),              # absent
        (13, "ALTER TABLE repos.files RENAME COLUMN nosuch TO other"),  # absent
    ]
    m = BatchApplier(t).apply(_mk_batch(spark, rows, noop_ddls), batch_id=0)
    # one merge for the whole batch: no boundary at any no-op ALTER
    assert m["segments"] == 1
    assert m["ddl_dropped"] == 3 and m["ddl_applied"] == 0
    assert m["rows_inserted"] == len(rows)
    assert t.read().count() == len(rows)
    assert [c.name for c in t.snapshot.columns] == ["repo", "path", "content"]


def test_changing_alter_still_segments_and_noop_elision_matches_state(spark, tmp_path):
    rows = [(g, f"r{g % 3}", f"p{g % 7}", f"c{g}") for g in range(1, 30)]
    ddls = [
        (10, "ALTER TABLE repos.files ADD COLUMN stars INT"),     # real change
        (15, "ALTER TABLE repos.files ADD COLUMN stars INT"),     # no-op re-add
        (20, "ALTER TABLE repos.files DROP COLUMN nosuch"),       # no-op
    ]
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_cols=["repo", "path"], num_buckets=2)
    m = BatchApplier(t).apply(_mk_batch(spark, rows, ddls), batch_id=0)
    # boundary only at the REAL ALTER: two segments, not four
    assert m["segments"] == 2
    assert m["ddl_applied"] == 1 and m["ddl_dropped"] == 2
    assert [c.name for c in t.snapshot.columns] == ["repo", "path", "content", "stars"]
    # winners written before the ALTER read stars as NULL; after, still NULL
    # (stream carries no stars values) — state matches a per-DDL-segmented
    # replay of the same batch on a fresh table
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA,
                          key_cols=["repo", "path"], num_buckets=2)
    # force the old behavior: apply in two halves split at every DDL gtid
    b = _mk_batch(spark, rows, ddls)
    a2 = BatchApplier(t2)
    a2.apply(b.filter(F.col("gtid") <= 10), batch_id=0)
    a2.apply(b.filter(F.col("gtid") > 10), batch_id=1)
    got = sorted(map(tuple, t.read().select("repo", "path", "content", "stars").collect()))
    exp = sorted(map(tuple, t2.read().select("repo", "path", "content", "stars").collect()))
    assert got == exp


def test_key_buckets_and_bucket_param(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_cols=["repo", "path"], num_buckets=4)
    rows = [(g, f"r{g}", f"p{g}", f"c{g}") for g in range(1, 9)]
    BatchApplier(t).apply(_mk_batch(spark, rows, []), batch_id=0)
    keys = [(f"r{g}", f"p{g}") for g in range(1, 9)]
    bks = t.key_buckets(keys)
    assert len(bks) == len(keys)
    for (repo, path), b in zip(keys, bks):
        # precomputed bucket answers identically to the discovered path
        fast = t.lookup(repo, path, bucket=b).collect()
        slow = t.lookup(repo, path).collect()
        assert fast == slow and len(fast) == 1
        hist_fast = t.key_history(repo, path, bucket=b).collect()
        hist_slow = t.key_history(repo, path).collect()
        assert hist_fast == hist_slow
    with pytest.raises(ValueError, match="out of range"):
        t.lookup("r1", "p1", bucket=99).collect()

    # Type fidelity of the Arrow-backed key frames: for every key type,
    # key_buckets equals the _bucket the writer stored, and lookup_many
    # returns exactly the written rows (a NULL key component included).
    # Naive timestamps are converted with the Python process's local zone
    # on the writer's list path; run under a non-UTC zone (the session
    # zone is UTC) so a key frame converting with the session zone shows.
    cases = {
        "int": [1, -7, 2**31 - 1],
        "bigint": [2**53 + 1, -(2**62) - 3, 3],
        "decimal(20,2)": [Decimal("123456789012345678.91"), Decimal("-0.01"),
                          Decimal("7.00")],
        "binary": [b"\x00\xff", b"", bytes(range(16))],
        "date": [date(1969, 12, 31), date(2024, 2, 29), date(2000, 1, 1)],
        "timestamp": [datetime(2021, 3, 4, 5, 6, 7, 123456),
                      datetime(1999, 12, 31, 23, 59, 59, 999999),
                      datetime(2024, 7, 1, 12, 0)],
    }

    def norm(v):
        return bytes(v) if isinstance(v, bytearray) else v

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        for i, (typ, vals) in enumerate(cases.items()):
            tt = LakeTable.create(
                spark, str(tmp_path / f"k{i}"),
                [("k", typ), ("s", "string"), ("v", "string")],
                key_cols=["k", "s"], num_buckets=8)
            rows = [(k, f"s{j}", f"v{j}") for j, k in enumerate(vals)]
            rows.append((None, "s-null", "v-null"))
            tt.merge(spark.createDataFrame(
                [r + ("INSERT", g + 1) for g, r in enumerate(rows)],
                f"k {typ}, s string, v string, _op string, _gtid long"),
                batch_id=1, mode="mor")
            stored = {(norm(r["k"]), r["s"]): r["_bucket"]
                      for r in tt.read(include_meta=True).collect()}
            keys = [(k, s) for k, s, _ in rows]
            assert tt.key_buckets(keys) == [stored[k] for k in keys], typ
            got = [tuple(map(norm, r)) for r in
                   tt.lookup_many(keys).select("k", "s", "v").collect()]
            assert sorted(got, key=repr) == sorted(rows, key=repr), typ
            for k in (keys[0], keys[-1]):
                assert tt.lookup(*k).count() == 1, (typ, k)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
