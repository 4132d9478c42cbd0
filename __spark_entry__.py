"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an engine operator from SURVEY.md §2
against a deterministic input derived from the driver's parquet tables
with *arithmetic-only shared SQL*, so the matching ``oracle_sql()`` text
reproduces the identical input inside DuckDB and checks the operator's
semantics independently.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from th2_listener_mysql_binlog_go_spark.functions.ddl import SPARK_PATTERNS, classify_ddl_cols
from th2_listener_mysql_binlog_go_spark.functions.decode import (
    decode_bean_json,
    decode_positional,
)
from th2_listener_mysql_binlog_go_spark.functions import dedup as dd
from th2_listener_mysql_binlog_go_spark.functions import multimodal as mm
from th2_listener_mysql_binlog_go_spark.functions import similarity as sim
from th2_listener_mysql_binlog_go_spark.functions import text as tx
from th2_listener_mysql_binlog_go_spark.operators.lww import lww_dedup
from th2_listener_mysql_binlog_go_spark.operators.pairing import pair_alternating
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.session import local_frame
from th2_listener_mysql_binlog_go_spark.sources.changestream import (
    DERIVED_DDL_STREAM_SQL,
    DERIVED_MULTI_STREAM_SQL,
    DERIVED_STREAM_SQL,
    DERIVED_WIRE_STREAM_SQL,
    derived_changestream,
    to_change_schema,
)
from th2_listener_mysql_binlog_go_spark.streaming.runner import CatalogReplayRunner, ReplayRunner

TARGET_SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
                 ("lang", "string"), ("content", "string")]

# Replay-shaped queries build throwaway lake tables; dirs register here and
# are removed at interpreter exit, so a driver looping queries() doesn't
# accumulate temp tables (round-3 review: "driver-side temp dirs leak").
_RUN_TMP: list[str] = []


def _mkdtemp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _RUN_TMP.append(d)
    return d


@atexit.register
def _cleanup_run_tmp() -> None:
    for d in _RUN_TMP:
        shutil.rmtree(d, ignore_errors=True)

# ---------------------------------------------------------------- shared SQL
# These fragments are executed VERBATIM by both Spark and DuckDB to build
# identical derived inputs (no engine-specific functions).

DDL_CASES_SQL = """
SELECT doc_id,
  CASE doc_id % 6
    WHEN 0 THEN 'TRUNCATE TABLE sch' || CAST(doc_id % 5 AS STRING) || '.tbl' || CAST(doc_id % 11 AS STRING)
    WHEN 1 THEN 'CREATE TABLE IF NOT EXISTS sch' || CAST(doc_id % 5 AS STRING) || '.tbl' || CAST(doc_id % 11 AS STRING) || ' (id INT, name VARCHAR(50)) ENGINE=InnoDB;'
    WHEN 2 THEN 'DROP TABLE IF EXISTS `sch' || CAST(doc_id % 5 AS STRING) || '`.`tbl' || CAST(doc_id % 11 AS STRING) || '`'
    WHEN 3 THEN 'ALTER TABLE sch' || CAST(doc_id % 5 AS STRING) || '.tbl' || CAST(doc_id % 11 AS STRING) || ' ADD COLUMN stars INT;'
    WHEN 4 THEN 'alter table tbl' || CAST(doc_id % 11 AS STRING) || ' rename column lang to language'
    ELSE 'SET SESSION sql_mode=''STRICT_TRANS_TABLES'''
  END AS stmt
FROM documents
""".strip()

PAYLOAD_CASES_SQL = """
SELECT doc_id,
  CASE doc_id % 3
    WHEN 0 THEN '{"Schema":"repos","Table":"files","Operation":"INSERT","Inserted":[{"id":'
        || CAST(doc_id AS STRING) || ',"lang":"' || lang || '","n_chars":' || CAST(n_chars AS STRING)
        || '},{"id":' || CAST(doc_id + 1000000 AS STRING) || ',"lang":"' || lang || '","n_chars":'
        || CAST(n_chars + 7 AS STRING) || '}]}'
    WHEN 1 THEN '{"Schema":"repos","Table":"files","Operation":"UPDATE","Updated":[{"Before":{"id":'
        || CAST(doc_id AS STRING) || ',"lang":"xx","n_chars":0},"After":{"id":' || CAST(doc_id AS STRING)
        || ',"lang":"' || lang || '","n_chars":' || CAST(n_chars AS STRING) || '}}]}'
    ELSE '{"Schema":"repos","Table":"files","Operation":"DELETE","Deleted":[{"id":'
        || CAST(doc_id AS STRING) || ',"lang":"' || lang || '","n_chars":' || CAST(n_chars AS STRING) || '}]}'
  END AS payload
FROM documents
""".strip()

SIZE_SQL = """
SELECT event_id, user_id,
  64 + coalesce(length(props), 0) + length(event_type) + 16 AS est_size
FROM events
""".strip()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _prep_replay(nested: DataFrame) -> tuple[DataFrame, int, int]:
    """Persist a derived change stream for a replay query's many passes
    (the runner's bounds discovery, the DDL prescan, and every batch's
    gtid-slice all re-scan it; uncached, each pass re-derives the
    md5/concat synthesis from parquet). ONE aggregation job materializes
    the cache and measures the exact (min, max) gtid, which callers pass
    to ``ReplayRunner.run(bounds=...)`` so the runner skips its own
    discovery scan. Purely intra-invocation: the cache is built from the
    parquet inputs on every call and callers unpersist when their last
    replay over the stream is done (guide §5: reuse-justified persist)."""
    nested = nested.persist()
    b = nested.agg(F.min("gtid").alias("lo"), F.max("gtid").alias("hi")).collect()[0]
    return nested, int(b["lo"]), int(b["hi"])


def _docs_view(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")


# ---------------------------------------------------------------- queries

def q_changestream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2: the GTID-ordered binlog-shaped source itself."""
    return derived_changestream(spark, sf_dir)


def q_table_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: observed-(schema, table) source pruning (listener.go:236-240)."""
    observed = F.array(F.struct(F.lit("repos").alias("schema_name"), F.lit("files").alias("table_name")))
    df = derived_changestream(spark, sf_dir)
    return df.filter(F.array_contains(observed, F.struct("schema_name", "table_name")))


def q_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per (repo, path) over the GTID total order."""
    df = q_table_filter(spark, sf_dir).filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
    out = lww_dedup(df, ["repo", "path"], order_col="gtid")
    return out.select(
        "repo", "path",
        F.col("gtid").alias("last_gtid"),
        F.col("op").alias("last_op"),
        "commit", "lang", "content",
    )


def q_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full engine replay (decode -> filter -> segment ->
    merge-on-read delta commits -> read-time LWW) of the derived stream
    into a lake table; returns the converged final state."""
    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 8)
    tmp = _mkdtemp("cdc_replay_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    nested.unpersist()
    return table.read().select("repo", "path", "commit", "lang", "content")


def q_replay_with_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine replay of a DDL-bearing stream: GTID-marker TRUNCATEs
    and a mid-stream ALTER TABLE ADD COLUMN segment the batches and evolve
    the schema; the converged state (including the evolved column, NULL
    for rows whose winner predates the ALTER) is hash-checked against the
    DuckDB oracle — the engine's hardest logic under oracle proof."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    flat = spark.sql(DERIVED_DDL_STREAM_SQL)
    nested, lo, hi = _prep_replay(to_change_schema(
        flat,
        row_fields=TARGET_SCHEMA + [("stars", "int")],
        with_ddl=True,
    ))
    span = max(1, (hi - lo + 1) // 6)
    tmp = _mkdtemp("cdc_replay_ddl_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    # DDL batches drain the pipeline and run sequentially, so depth 3
    # only overlaps the DDL-free spans — semantics unchanged.
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    nested.unpersist()
    table.compact()  # evolved schema + truncate marker survive compaction
    out = table.read()
    # a tiny sf can derive zero ALTER rows -> the column never evolved;
    # the oracle's stars is then NULL everywhere (its alt CTE floor is
    # 1<<62), so a NULL literal keeps the two sides identical
    stars = (F.col("stars") if "stars" in out.columns else F.lit(None))
    return out.select("repo", "path", "commit", "lang", "content",
                      stars.cast("int").alias("stars"))


def q_correction_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-band corrections on a replayed table: ``delete_where``
    kill-lists one language (compliance / contamination removal) and
    ``update_where`` redacts another (content -> md5, commit ->
    'REDACTED') — each ONE delta commit at (gtid = watermark,
    seq = 2^62 + n), outranking every applied stream row while leaving
    replay bookkeeping untouched. Not reference operators (the binlog
    only carries deletes; these originate them) — the training-data
    lake's takedown surface."""
    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 4)
    tmp = _mkdtemp("cdc_corr_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=8)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    nested.unpersist()
    table.delete_where("lang = 'go'")
    table.update_where("lang = 'py'", {"content": "md5(content)",
                                       "commit": "'REDACTED'"})
    return table.read().select("repo", "path", "commit", "lang", "content")


def q_replay_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The copy-on-write merge arm under the same oracle as the MOR
    flagship: per-bucket rewrite commits, delta-free reads — must converge
    to the identical final state."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig

    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 4)
    tmp = _mkdtemp("cdc_cow_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=8)
    # cow merges read the table between batches, so they cannot pipeline;
    # the cached stream + precomputed bounds still cut the per-batch scans
    ReplayRunner(spark, table, batch_span=span,
                 config=ApplyConfig(merge_mode="cow")).run(nested, bounds=(lo, hi))
    nested.unpersist()
    return table.read().select("repo", "path", "commit", "lang", "content")


def q_replay_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12 under the oracle gate (round-3 review #4): the replay stops
    after 3 of 8 batches (simulated crash — the handle is dropped), a
    FRESH handle reloads the table from disk (the table IS the checkpoint,
    listener.go:198-227's loadState analogue) and runs to completion, and
    a third run must clamp to a no-op (S12's beyond-source watermark
    guard). The final state hash-matches the cdc_replay_final_state
    oracle — resume converges to exactly the uninterrupted result."""
    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 8)
    tmp = _mkdtemp("cdc_resume_")
    root = os.path.join(tmp, "t")
    table = LakeTable.create(spark, root, TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    m1 = ReplayRunner(spark, table, batch_span=span,
                      pipeline_depth=3).run(nested, max_batches=3, bounds=(lo, hi))
    assert m1["batches"] == 3
    # fresh handle: resume state comes only from persisted snapshot props
    resumed = LakeTable.load(spark, root)
    ReplayRunner(spark, resumed, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    m3 = ReplayRunner(spark, LakeTable.load(spark, root),
                      batch_span=span).run(nested, bounds=(lo, hi))
    assert m3.get("clamped") and m3["events"] == 0
    nested.unpersist()
    return LakeTable.load(spark, root).read().select(
        "repo", "path", "commit", "lang", "content")


def q_wire_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PUBLISHED interface end-to-end under streaming
    (round-3 review #2): the derived stream serialized to bean-JSON wire
    payloads (listener.go:296-315) lands as JSON-lines files, Structured
    Streaming tails them (readStream -> decode_stream -> foreachBatch
    apply, decode inside the streaming plan), and the drained lake state
    must hash-match the cdc_replay_final_state oracle — proving a consumer
    of the reference's queue output gets the identical table."""
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import encode_stream
    from th2_listener_mysql_binlog_go_spark.streaming.structured import (
        StreamingWireApplier,
    )

    flat = derived_changestream(spark, sf_dir)
    nested = to_change_schema(flat)
    tmp = _mkdtemp("cdc_wstream_")
    wire_dir = os.path.join(tmp, "wire")
    encode_stream(nested).repartition(8).write.json(wire_dir)
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    q = StreamingWireApplier(spark, table).start(
        wire_dir, os.path.join(tmp, "ckpt"),
        available_now=True, max_files_per_trigger=4,
    )
    q.awaitTermination(600)
    return LakeTable.load(spark, table.root).read().select(
        "repo", "path", "commit", "lang", "content")


def q_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 serialize + S4 decode as an oracle-checked identity: the derived
    stream encoded to the reference's published bean-JSON wire format
    (README.md:109-240) and decoded back must reproduce the stream
    exactly — DuckDB recomputes the original stream as the oracle."""
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import (
        decode_stream,
        encode_stream,
    )

    flat = derived_changestream(spark, sf_dir)
    nested = to_change_schema(flat)
    back = decode_stream(encode_stream(nested))
    return back.filter(F.col("op").isin("INSERT", "UPDATE", "DELETE")).select(
        "gtid", "schema_name", "table_name", "op",
        F.coalesce(F.col("after.repo"), F.col("before.repo")).alias("repo"),
        F.coalesce(F.col("after.path"), F.col("before.path")).alias("path"),
        F.coalesce(F.col("after.commit"), F.col("before.commit")).alias("commit"),
        F.coalesce(F.col("after.lang"), F.col("before.lang")).alias("lang"),
        F.coalesce(F.col("after.content"), F.col("before.content")).alias("content"),
    )


def q_wire_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter split of a corrupted wire stream: encode the derived
    stream to the published bean-JSON format, mangle a deterministic
    subset of payloads (gtid % 97 == 0), decode with
    ``quarantine=True`` — well-formed DML rows come back exactly (the
    roundtrip identity restricted to surviving messages) and every
    mangled message lands flagged with its reason instead of silently
    vanishing (the reference logs-and-skips undecodable events; at the
    10^10-event regime the skipped envelopes must stay queryable)."""
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import (
        decode_stream,
        encode_stream,
    )

    flat = derived_changestream(spark, sf_dir)
    nested = to_change_schema(flat)
    wire = encode_stream(nested).withColumn(
        "payload",
        F.when(F.col("gtid") % 97 == 0,
               F.concat(F.lit("!"), F.col("payload")))
        .otherwise(F.col("payload")))
    back = decode_stream(wire, quarantine=True)
    # single pass: the old good/bad filter + union consumed the decode
    # subtree twice (Catalyst does not dedup common subtrees), re-running
    # the whole from_json decode; one filter + conditional projection
    # emits the identical rows from one decode
    undec = F.col("_undecodable")
    good_val = lambda c: F.when(~undec, c).cast("string")  # noqa: E731
    return back.filter(
        undec | F.col("op").isin("INSERT", "UPDATE", "DELETE")
    ).select(
        "gtid",
        good_val(F.col("op")).alias("op"),
        good_val(F.coalesce(F.col("after.repo"), F.col("before.repo"))).alias("repo"),
        good_val(F.coalesce(F.col("after.path"), F.col("before.path"))).alias("path"),
        good_val(F.coalesce(F.col("after.commit"), F.col("before.commit"))).alias("commit"),
        good_val(F.coalesce(F.col("after.lang"), F.col("before.lang"))).alias("lang"),
        good_val(F.coalesce(F.col("after.content"), F.col("before.content"))).alias("content"),
        F.when(undec, F.col("_reason")).cast("string").alias("reason"),
        F.when(undec, F.lit(1)).otherwise(F.lit(0)).alias("quarantined"),
    )


def q_wire_batched_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9/S10 under oracle proof on the HARD stream shape: every GTID
    carries four events with mixed ops and mixed target tables, multi-row
    events split into size-bounded parts (max_size=300 forces the 2-row
    INSERT/DELETE events apart), and the decoded rows must reproduce every
    original row-change exactly — including within-event row ORDER (the
    rank column), the property the round-2 GTID-grouped encoder corrupted."""
    from pyspark.sql import Window
    from th2_listener_mysql_binlog_go_spark.sources.changestream import (
        DERIVED_WIRE_STREAM_SQL,
    )
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import (
        _ROW_DDL,
        encode_stream_batched,
    )

    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    flat = spark.sql(DERIVED_WIRE_STREAM_SQL)
    row = F.struct("repo", "path", "commit", "lang", "content")
    brow = F.struct(
        "repo", "path", F.col("bcommit").alias("commit"), "lang", "content")
    null_row = F.lit(None).cast(
        "struct<repo:string,path:string,commit:string,lang:string,content:string>")
    nested = flat.select(
        "gtid", F.lit("binlog.000001").alias("log_name"), "log_pos", "seq",
        F.lit(0).cast("bigint").alias("ts"), "schema_name", "table_name", "op",
        F.when(F.col("op") == "DELETE", row)
         .when(F.col("op") == "UPDATE", brow).otherwise(null_row).alias("before"),
        F.when(F.col("op").isin("INSERT", "UPDATE"), row)
         .otherwise(null_row).alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )
    enc = encode_stream_batched(nested, max_size=300)
    dec = decode_bean_json(enc, "payload", _ROW_DDL)
    w = Window.partitionBy("gtid", "log_pos", "table_name", "op").orderBy(
        "part_idx", "row_idx")
    return dec.select(
        "gtid", "log_pos", "op", "table_name",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.coalesce(F.col("after.repo"), F.col("before.repo")).alias("repo"),
        F.coalesce(F.col("after.path"), F.col("before.path")).alias("path"),
        F.col("before.commit").alias("before_commit"),
        F.col("after.commit").alias("after_commit"),
        F.coalesce(F.col("after.lang"), F.col("before.lang")).alias("lang"),
        F.coalesce(F.col("after.content"), F.col("before.content")).alias("content"),
    )


def q_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: per-batch commit-time lineage (batch_id, gtid range, applied
    row counts) written by the runner — checked against SQL recomputing
    the same metrics from the raw stream (the reference's per-message
    {name,pos,seq,timestamp} metadata + Prometheus monitors analogue)."""
    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 5)
    tmp = _mkdtemp("cdc_lin_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=8)
    runner = ReplayRunner(spark, table, batch_span=span,
                          lineage_dir=os.path.join(tmp, "lineage"),
                          pipeline_depth=3)
    runner.run(nested, bounds=(lo, hi))
    nested.unpersist()
    lin = runner.lineage.read(spark)
    return lin.filter(F.col("partition_id") == -1).select(
        "batch_id",
        F.col("rows_inserted").cast("bigint").alias("n_upserts"),
        F.col("rows_deleted").cast("bigint").alias("n_deletes"),
        F.col("rows_applied").cast("bigint").alias("n_applied"),
    )


def q_multitable_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table routing: the same engine replay fanned out to TWO
    observed tables over a LakeCatalog (listener.go:236-241's schemas map,
    applied); returns the union of both converged final states."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
    from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog

    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    flat = spark.sql(DERIVED_MULTI_STREAM_SQL)
    nested, lo, hi = _prep_replay(to_change_schema(flat))
    span = max(1, (hi - lo + 1) // 4)
    tmp = _mkdtemp("cdc_multi_")
    cat = LakeCatalog.create(spark, os.path.join(tmp, "cat"))
    for t in ("files", "files2"):
        cat.create_table("repos", t, TARGET_SCHEMA, ["repo", "path"], num_buckets=8)
    cfg = ApplyConfig(observed={"repos": ["files", "files2"]}, num_buckets=8)
    CatalogReplayRunner(spark, cat, batch_span=span, config=cfg,
                        pipeline_depth=2).run(nested, bounds=(lo, hi))
    nested.unpersist()
    parts = [
        cat.get("repos", t).read().select(
            F.lit(t).alias("target_table"), "repo", "path", "commit", "lang", "content"
        )
        for t in ("files", "files2")
    ]
    return parts[0].unionByName(parts[1])


def q_update_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: alternating rows -> (before, after) pairs (bean.go:164-181).

    Ordered by the globally unique event_id (the lineitem variant has
    duplicate (orderkey, linenumber) keys -> nondeterministic ranks)."""
    ev = _events(spark, sf_dir)
    return pair_alternating(ev, ["user_id"], "event_id", ["value"])


def q_ddl_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: regex DDL classification (pattern.go:36-64), Catalyst-native."""
    _docs_view(spark, sf_dir)
    stmts = spark.sql(DDL_CASES_SQL)
    return stmts.select(
        "doc_id",
        *classify_ddl_cols(F.col("stmt"), session_schema=F.lit("repos")),
    )


def q_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S7: vectorized decode of reference-shaped bean JSON (README.md:109-240)."""
    _docs_view(spark, sf_dir)
    payloads = spark.sql(PAYLOAD_CASES_SQL)
    d = decode_bean_json(payloads, "payload", "id bigint, lang string, n_chars bigint")
    return d.select(
        "doc_id", "op", "schema_name", "table_name",
        F.col("row_idx").cast("int").alias("row_idx"),
        F.col("before.id").alias("before_id"),
        F.col("after.id").alias("after_id"),
        F.col("after.lang").alias("after_lang"),
        F.col("after.n_chars").alias("after_n_chars"),
    )


def q_positional_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True S4: binlog-native positional [][]any rows zipped with ordinal
    column names (createValues bean.go:152-162; alternating update pairing
    createUpdatePairs bean.go:164-181) — pure Catalyst array ops."""
    ev = _events(spark, sf_dir)
    sid = F.col("event_id").cast("string")
    n = F.col("user_id").cast("string")
    n7 = (F.col("user_id") + 7).cast("string")
    sid1m = (F.col("event_id") + 1000000).cast("string")
    op = (
        F.when(F.col("event_id") % 3 == 0, "INSERT")
        .when(F.col("event_id") % 3 == 1, "UPDATE")
        .otherwise("DELETE")
    )
    rows = (
        F.when(op == "INSERT", F.array(
            F.array(sid, F.lit("py"), n), F.array(sid1m, F.lit("go"), n7)))
        .when(op == "UPDATE", F.array(  # alternating: Before, After
            F.array(sid, F.lit("xx"), F.lit("0")), F.array(sid, F.lit("py"), n)))
        .otherwise(F.array(F.array(sid, F.lit("py"), n)))
    )
    events = ev.select("event_id", op.alias("op"), rows.alias("rows"))
    d = decode_positional(events, ["id", "lang", "n_chars"])
    return d.select(
        "event_id", "op", F.col("row_idx").cast("int").alias("row_idx"),
        F.col("before.id").cast("bigint").alias("before_id"),
        F.col("after.id").cast("bigint").alias("after_id"),
        F.col("after.lang").alias("after_lang"),
        F.col("after.n_chars").cast("bigint").alias("after_n"),
    )


def q_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: deterministic micro-batch planning over the GTID order — batch
    id, gtid range, per-op event counts, and the running high-watermark
    each batch commit would persist (listener.go:136-138,183-189 analogue)."""
    from pyspark.sql import Window

    df = q_table_filter(spark, sf_dir)
    span = 1000
    batched = df.withColumn("batch_id", F.floor(F.col("gtid") / span).cast("bigint"))
    agg = batched.groupBy("batch_id").agg(
        F.min("gtid").alias("gtid_min"),
        F.max("gtid").alias("gtid_max"),
        F.sum(F.when(F.col("op") == "INSERT", 1).otherwise(0)).alias("n_insert"),
        F.sum(F.when(F.col("op") == "UPDATE", 1).otherwise(0)).alias("n_update"),
        F.sum(F.when(F.col("op") == "DELETE", 1).otherwise(0)).alias("n_delete"),
    )
    w = Window.orderBy("batch_id").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "batch_id", "gtid_min", "gtid_max", "n_insert", "n_update", "n_delete",
        F.max("gtid_max").over(w).alias("watermark_gtid"),
    )


def q_size_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9: serialization-free size estimate + size-bounded split plan
    (bean.go:65-87,129-150) as a scalable cumulative-sum window."""
    _events(spark, sf_dir).createOrReplaceTempView("events")
    est = spark.sql(SIZE_SQL)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    return est.select(
        "event_id", "user_id", "est_size",
        F.floor((F.sum("est_size").over(w) - F.col("est_size")) / 4096).cast("bigint").alias("part_idx"),
    )


def q_size_split_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 via the pure-Catalyst prefix-sum kernel (functions/split.py
    split_plan_cumsum — the streaming publisher's default): per-event
    max-row headroom keeps greedy's never-oversize guarantee, jumbo-row
    events degrade to one row per part, UPDATE events never split
    (update.go:49-55). DuckDB recomputes the same window arithmetic."""
    from th2_listener_mysql_binlog_go_spark.functions.split import split_plan_cumsum

    _events(spark, sf_dir).createOrReplaceTempView("events")
    est = spark.sql(SIZE_SQL).withColumn(
        "op",
        F.when(F.col("event_id") % 7 == 0, F.lit("UPDATE")).otherwise(F.lit("INSERT")),
    )
    out = split_plan_cumsum(est, event_col="user_id", order_col="event_id",
                            size_col="est_size", op_col="op",
                            max_size=4096, base_size=64)
    return out.select("event_id", "user_id", "est_size", "op", "part_idx")


def _replay_to_mid(spark: SparkSession, sf_dir: str, prefix: str,
                   finish: bool = True):
    """Shared setup for the time-travel / changelog / WAP queries: replay
    the derived stream in 8 gtid-span batches, capturing the snapshot
    version after batch 4 — the same cutoff arithmetic the DuckDB oracles
    redo (span = greatest(1, (hi-lo+1)//8); cutoff = (lo//span + 4) *
    span). Returns (table, v_mid, nested, span, bounds) so callers that
    replay further (rollback-forward, branch backfill) reuse the PERSISTED
    stream, span and bounds instead of re-deriving and re-scanning —
    callers unpersist ``nested`` after their last replay over it.
    ``finish=False`` stops at the mid point."""
    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 8)
    tmp = _mkdtemp(prefix)
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, max_batches=4, bounds=(lo, hi))
    v_mid = table.snapshot.version
    if finish:
        ReplayRunner(spark, table, batch_span=span,
                     pipeline_depth=3).run(nested, bounds=(lo, hi))
    return table, v_mid, nested, span, (lo, hi)


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (Iceberg snapshot read): the state AS OF the version
    committed after 4 of 8 replay batches, read back after the head has
    moved on — through a compaction, so the old snapshot's file pins are
    what make the answer, not the live file set."""
    table, v_mid, nested, _, _ = _replay_to_mid(spark, sf_dir, "cdc_tt_")
    nested.unpersist()
    table.compact()
    return table.read_at(v_mid).select("repo", "path", "commit", "lang", "content")


def q_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (Iceberg rollback analogue): replay to head,
    then 'fat-finger' a destructive correction (``delete_where`` of every
    key whose md5 starts with '1'), roll back to the mid-replay snapshot,
    and replay forward. The result hash-matches the full-state oracle
    ONLY if the rollback restored both the file set (undoing the
    correction — no stream event can resurrect those keys) and the replay
    bookkeeping (the restored watermark re-admits the second half's
    batches under the exactly-once guard)."""
    table, v_mid, nested, span, bounds = _replay_to_mid(spark, sf_dir, "cdc_rb_")
    table.delete_where("md5(repo || '|' || path) LIKE '1%'")
    r = table.rollback(v_mid)
    assert not r["noop"] and r["restored"] == v_mid
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=bounds)
    nested.unpersist()
    return table.read().select("repo", "path", "commit", "lang", "content")


def q_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (Iceberg branch refs): main replays the first
    half of the stream; the rest backfills on a branch through the normal
    ReplayRunner (branch snapshots carry the bookkeeping, main's chain is
    untouched — asserted), is 'audited' by reading the branch, then
    publishes via the fast-forward-only swap. The returned main state
    hash-matches the full-replay oracle ONLY if the staged commits landed
    on the branch and the publish made them main's history."""
    table, _, nested, span, bounds = _replay_to_mid(spark, sf_dir, "cdc_wap_",
                                                    finish=False)
    v_main, wm_main = table.snapshot.version, table.watermark_gtid
    branch = table.create_branch("backfill")
    ReplayRunner(spark, branch, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=bounds)
    nested.unpersist()
    assert branch.read().count() > 0  # the audit read
    fresh = LakeTable.load(spark, table.root)
    assert (fresh.snapshot.version, fresh.watermark_gtid) == (v_main, wm_main)
    table.publish_branch("backfill")
    return table.read().select("repo", "path", "commit", "lang", "content")


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point reads: replay the stream into a lake, then
    answer 12 deterministic single-key questions via
    :meth:`LakeTable.lookup` — each opens ONLY the key's bucket's files
    (O(table/num_buckets) IO however large the table), with the key
    predicate pushed through the LWW window into the parquet scan. The
    union of the answers hash-matches the DuckDB LWW state filtered to
    the same keys."""
    from functools import reduce

    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 4)
    tmp = _mkdtemp("cdc_lookup_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    nested.unpersist()
    keys = sorted(
        (r["repo"], r["path"])
        for r in table.read().select("repo", "path")
        .filter(F.md5(F.concat_ws("|", "repo", "path")).startswith("0"))
        .collect()
    )[:12]
    # half via single-key lookup, half via the batch variant — both
    # bucket-pruned plans answer under the SAME DuckDB oracle; buckets
    # precomputed in ONE job (key_buckets) instead of one job per lookup
    bks = table.key_buckets(keys[:6])
    parts = [table.lookup(repo, path, bucket=b)
             for (repo, path), b in zip(keys[:6], bks)]
    parts.append(table.lookup_many(keys[6:]))
    out = reduce(lambda a, c: a.unionByName(c), parts)
    return out.select("repo", "path", "commit", "lang", "content")


def q_key_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key audit (row-level history): replay the stream into a MOR
    lake with auto-compaction off (full event retention), then read 12
    deterministic keys' complete lifecycles via
    :meth:`LakeTable.key_history` — each ONE bucket-pruned scan with the
    key predicate pushed into it, NO LWW window (every retained version
    streams out), the current winner flagged. Hash-matches the raw
    stream's per-key DML timeline recomputed in DuckDB. Reference
    parity: downstream consumers correlate a key's lifecycle from the
    published event stream (listener.go:296-315)."""
    from functools import reduce

    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig

    # persist the FLAT stream: the replay's batch slices read it through
    # to_change_schema (a cheap cached-scan projection) and the key-probe
    # collect below re-filters it — one cache serves both
    flat = derived_changestream(spark, sf_dir).persist()
    nested = to_change_schema(flat)
    b = flat.agg(F.min("gtid").alias("lo"), F.max("gtid").alias("hi")).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    span = max(1, (hi - lo + 1) // 4)
    tmp = _mkdtemp("cdc_keyhist_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span, pipeline_depth=3,
                 config=ApplyConfig(auto_compact_deltas=None)
                 ).run(nested, bounds=(lo, hi))
    keys = sorted(
        (r["repo"], r["path"])
        for r in flat.filter(
            (F.col("schema_name") == "repos") & (F.col("table_name") == "files")
            & F.col("op").isin("INSERT", "UPDATE", "DELETE"))
        .select("repo", "path").distinct()
        .filter(F.md5(F.concat_ws("|", "repo", "path")).startswith("0"))
        .collect()
    )[:12]
    flat.unpersist()
    # one planning job for all 12 probes (key_buckets), not one per key
    parts = [table.key_history(repo, path, bucket=b)
             for (repo, path), b in zip(keys, table.key_buckets(keys))]
    out = reduce(lambda a, c: a.unionByName(c), parts)
    return out.select(
        "repo", "path", "commit", "lang", "content",
        F.col("_op").alias("op"),
        F.col("_gtid").cast("bigint").alias("gtid"),
        F.col("_is_current").cast("int").alias("is_current"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS-OF) join: replay the stream into a
    full-retention MOR lake, then join a deterministic probe set
    (every md5-prefix-0 key at three positions across the gtid range) to
    the row image current AS OF each position via
    :meth:`LakeTable.asof_join` — ONE window over the union of probes
    and the bucket-pruned event log, never an O(probes x versions) range
    join. Inclusive at the position; a last-event DELETE yields NULL
    payload with ``match_op='DELETE'`` (deleted-then vs never-existed
    stays distinguishable). The training-pipeline use: label at time t
    joins features as of t — no leakage. DuckDB recomputes every probe's
    winner from the raw stream with an inequality join + row_number."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig

    flat = derived_changestream(spark, sf_dir).persist()
    nested = to_change_schema(flat)
    b = flat.agg(F.min("gtid").alias("lo"), F.max("gtid").alias("hi")).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    span = max(1, (hi - lo + 1) // 4)
    tmp = _mkdtemp("cdc_asof_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span, pipeline_depth=3,
                 config=ApplyConfig(auto_compact_deltas=None)
                 ).run(nested, bounds=(lo, hi))
    # collect the (bounded, md5-prefix-selected) probe keys once and build
    # the probe set as a LOCAL relation: the same deterministic rows, but
    # asof_join's keyset sample and the probe union now re-execute a local
    # scan instead of the whole stream derivation — and a local relation is
    # trivially deterministic across re-execution (the asof_join probes
    # contract), so the cached stream can be dropped before returning.
    key_rows = sorted(
        (r["repo"], r["path"])
        for r in flat.filter(
            (F.col("schema_name") == "repos") & (F.col("table_name") == "files")
            & F.col("op").isin("INSERT", "UPDATE", "DELETE"))
        .select("repo", "path").distinct()
        .filter(F.md5(F.concat_ws("|", "repo", "path")).startswith("0"))
        .collect())
    flat.unpersist()
    positions = [lo + ((hi - lo) * j) // 4 for j in (1, 2, 3)]
    probes = local_frame(
        spark,
        [(repo, path, p) for repo, path in key_rows for p in positions],
        "repo string, path string, as_of_gtid long")
    out = table.asof_join(probes)
    return out.select(
        "repo", "path", "as_of_gtid", "commit", "lang", "content",
        F.col("_match_gtid").cast("bigint").alias("match_gtid"),
        F.col("_match_op").alias("match_op"))


def q_changes_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake as a CDC *source* (Iceberg changelog / Delta CDF
    analogue): net row-level changes between the mid-replay snapshot and
    head — INSERT/UPDATE after-images, DELETE before-images, one row per
    net-changed key. The O(changes) incremental plan (window delta files
    + touched-bucket join, never a full-table read) is asserted, and the
    DuckDB oracle recomputes the full-state diff — fast path vs
    semantic ground truth."""
    table, v_mid, nested, _, _ = _replay_to_mid(spark, sf_dir, "cdc_changes_")
    nested.unpersist()
    assert table.changes_plan(v_mid) == "incremental"
    return table.changes(v_mid).select(
        "repo", "path", "commit", "lang", "content",
        F.col("_change_type").alias("change_type"),
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance from the changelog: a per-lang
    (count, sum-of-content-length) aggregate created at the mid-replay
    snapshot, then advanced to head by ONE incremental refresh —
    O(changes + touched groups), never a source rescan (the O(changes)
    plan is asserted). The refreshed view must hash-match the oracle's
    full GROUP BY over the final state — incremental maintenance vs
    ground-truth recompute."""
    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 8)
    tmp = _mkdtemp("cdc_matview_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, max_batches=4, bounds=(lo, hi))
    view = IncrementalAggView.create(
        spark, table, os.path.join(tmp, "v"), dims=["lang"],
        aggs={"n_files": ("count",), "total_size": ("sum", "length(content)")},
        num_buckets=4)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    nested.unpersist()
    assert table.changes_plan(view.source_version) == "incremental"
    view.refresh()
    return view.read().select(
        "lang",
        F.col("n_files").cast("bigint").alias("n_files"),
        F.col("total_size").cast("bigint").alias("total_size"))


def q_minmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max materialized view via the TOUCHED-GROUP RECOMPUTE
    strategy (matview.py `_refresh_recompute`): extremes have no inverse
    under DELETE, so the refresh re-aggregates the source restricted to
    the changed groups (per-dim pushdown + exact semi join) instead of
    folding signed deltas. Created at the mid-replay snapshot, advanced
    to head by ONE refresh; must hash-match the oracle's full GROUP BY
    min/max over the final state."""
    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    nested, lo, hi = _prep_replay(to_change_schema(derived_changestream(spark, sf_dir)))
    span = max(1, (hi - lo + 1) // 8)
    tmp = _mkdtemp("cdc_minmax_")
    table = LakeTable.create(spark, os.path.join(tmp, "t"), TARGET_SCHEMA,
                             key_cols=["repo", "path"], num_buckets=16)
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, max_batches=4, bounds=(lo, hi))
    view = IncrementalAggView.create(
        spark, table, os.path.join(tmp, "v"), dims=["lang"],
        aggs={"n_files": ("count",), "min_size": ("min", "length(content)"),
              "max_size": ("max", "length(content)")},
        num_buckets=4)
    assert view.needs_recompute
    ReplayRunner(spark, table, batch_span=span,
                 pipeline_depth=3).run(nested, bounds=(lo, hi))
    nested.unpersist()
    view.refresh()
    return view.read().select(
        "lang",
        F.col("n_files").cast("bigint").alias("n_files"),
        F.col("min_size").cast("bigint").alias("min_size"),
        F.col("max_size").cast("bigint").alias("max_size"))


def q_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained MinHash-LSH dedup index (plans/dedup_index.py):
    full hash at the mid-replay snapshot, then ONE incremental refresh
    from the changelog to head — changed docs re-hashed, deleted docs'
    band rows tombstoned, the unchanged corpus never re-shingled (the
    O(changes) plan is asserted). The oracle recomputes the index from
    the FINAL replayed state, so the incremental maintenance must land
    exactly where a from-scratch build would."""
    from th2_listener_mysql_binlog_go_spark.plans.dedup_index import DedupIndexView

    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig

    table, v_mid, nested, span, bounds = _replay_to_mid(
        spark, sf_dir, "cdc_dedupidx_", finish=False)
    view = DedupIndexView.create(
        spark, table, os.path.join(os.path.dirname(table.root), "idx"),
        id_expr="concat(repo, '/', path)", text_expr="content",
        n_hashes=16, bands=4, k=5, num_buckets=8)
    # auto-compaction OFF for the refresh window: a compaction inside it
    # would legitimately fall changes_plan back to 'diff' and crash the
    # asserted-incremental gate below when the event count grows (round-5
    # advice #1); the refreshed index rows are identical either way.
    ReplayRunner(spark, table, batch_span=span, pipeline_depth=3,
                 config=ApplyConfig(auto_compact_deltas=None)
                 ).run(nested, bounds=bounds)
    nested.unpersist()
    m = view.refresh()
    assert m["plan"] == "incremental", m
    return view.read().select("id", F.col("band").cast("int").alias("band"), "bucket")


# ------------------------------------------------- training-data pipeline ops

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The sf documents table is a single parquet file -> 1-2 input
    # partitions, which would serialize the regex-heavy normalize/shingle
    # stages on one core (measured: 11s of a 19s MinHash run). At real
    # scale the input has thousands of partitions; restore that here.
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical-fingerprint groupBy, min-id representative."""
    out = dd.dedup_exact(_docs(spark, sf_dir))
    return out.select("doc_id", "fp", F.col("dup_count").cast("bigint").alias("dup_count"))


def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (md5-derived, deterministic)."""
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=16, bands=4, k=5,
                                min_sig_sim=0.5)


def q_doc_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (functions/dedup.py minhash_index +
    minhash_lsh_incremental): 3/4 of the corpus (md5(doc_id) first hex
    < 'c') is pre-indexed; the remaining 1/4 is the "new ingest", matched
    against the index and itself on the (band, bucket) collision key. The
    corpus side is never re-shingled — the per-ingest pattern a rolling
    100 TB pipeline runs. The oracle recomputes every signature/bucket
    over the union and replays the new-vs-(corpus ∪ earlier-new) pair
    selection."""
    d = _docs(spark, sf_dir)
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "c"
    idx = dd.minhash_index(d.filter(~is_new))
    out = dd.minhash_lsh_incremental(idx, d.filter(is_new),
                                     n_hashes=16, bands=4, k=5, min_sig_sim=0.5)
    return out.select("new_id", "match_id", "sig_sim")


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over shingle-sharing candidate pairs."""
    return dd.ngram_jaccard_pairs(_docs(spark, sf_dir), k=5, min_jaccard=0.5,
                                  max_shingle_df=100)


def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph (pairs alone don't dedup a corpus — near-duplication is
    transitive, and keep-one-per-GROUP needs the component). Spark runs
    iterative min-label propagation; DuckDB recomputes the same pairs and
    closes them with a recursive CTE — the components must match exactly."""
    pairs = dd.minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=16, bands=4,
                                 k=5, min_sig_sim=0.5)
    return dd.neardup_components(pairs).select("id", "component")


def q_doc_dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component contract as doc_dedup_clusters, but FORCED through
    the large-star/small-star alternation (Kiveris et al.): max_iters=1
    leaves min-label propagation provably unconverged (any nonempty edge
    set changes a label in round one), so the fallback computes every
    component — the O(log^2 n) path a 100-TB chain-shaped dedup graph
    takes. Must hash-match the SAME DuckDB recursive-CTE closure."""
    pairs = dd.minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=16, bands=4,
                                 k=5, min_sig_sim=0.5)
    return dd.neardup_components(pairs, max_iters=1).select("id", "component")


def q_doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5-threshold hashing
    (functions/sampling.py): exact, order-independent, stable under
    repartitioning — the reproducible held-out-split step Spark's own
    randomSplit/sampleBy can't give. Zero shuffles (one codegen'd
    projection); the DuckDB oracle recomputes every assignment from the
    same md5 + integer-threshold arithmetic."""
    from th2_listener_mysql_binlog_go_spark.functions import sampling as sp

    d = _docs(spark, sf_dir)
    out = sp.deterministic_split(
        d, "doc_id", {"train": 98, "val": 1, "test": 1}, seed=7)
    return out.select("doc_id", "lang", "split")


def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling under a row budget (static data
    mixing): equal target shares over five languages, per-domain
    acceptance thresholds from INTEGER arithmetic over the observed
    counts, rows kept by the same md5 hash primitive — deterministic in
    WHICH rows survive, which is exactly what the DuckDB oracle replays
    (it recomputes the counts, the thresholds, and the hash decisions)."""
    from th2_listener_mysql_binlog_go_spark.functions import sampling as sp

    d = _docs(spark, sf_dir)
    out = sp.mixture_sample(
        d, "lang", "doc_id",
        {"en": 1, "zh": 1, "es": 1, "de": 1, "fr": 1},
        budget_rows=150, seed=3)
    return out.select("doc_id", "lang")


def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality score + whitespace AND BPE-ish token counts
    + fingerprint per doc."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        tx.lang_id(F.col("text")).alias("lang_guess"),
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS rolling-hash) document fingerprints: one row per
    (doc, selected fingerprint); any shared substring >= k+w-1 chars
    guarantees a shared row. DuckDB recomputes the md5-derived k-gram
    hashes and window minima exactly."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.explode(tx.winnow_fingerprints(F.col("text"))).alias("fp")
    )


def q_train_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus pipeline a 100-TB data-curation run
    actually executes, composed from the engine's first-class pieces in
    one declarative plan:

      1. text analysis   — lang-id, quality score, BPE-ish token count,
                           canonical fingerprint (pure Catalyst);
      2. quality gate    — keep quality >= 0.75 and identified language;
      3. exact dedup     — one row per canonical fingerprint (min id);
      4. near-dup dedup  — MinHash-LSH pairs -> connected components ->
                           keep the component representative;
      5. sequence pack   — size-balanced packing by token budget (2048
                           BPE tokens/pack) via the two-level cumsum.

    Every stage shuffles on a bounded key (fp / band bucket / chunk id),
    never all-pairs; the only driver traffic is the O(chunks) pack
    offsets. The DuckDB oracle recomputes the full pipeline — stats,
    gates, both dedups (recursive-CTE closure), and the pack prefix-sum —
    so the hash gate certifies stage COMPOSITION, not just each stage."""
    from th2_listener_mysql_binlog_go_spark.functions.multimodal import (
        size_balanced_pack_ids,
    )
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    stats = d.select(
        "doc_id", "text",
        tx.lang_id(F.col("text")).alias("lang_guess"),
        tx.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )
    gated = stats.filter((F.col("quality") >= 0.75)
                         & (F.col("lang_guess") != "und"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    # persist: the regex-heavy stats subtree (lang-id, BPE count, quality,
    # fingerprint + the exact-dedup window) is consumed by BOTH the LSH
    # shingling branch and the representative join/pack branch — cached
    # once, evaluated once (released by the caller via release_cache;
    # harmless if left for session teardown)
    uniq = (gated.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")).persist()
    pairs = dd.minhash_lsh_pairs(uniq.select("doc_id", "text"),
                                 n_hashes=16, bands=4, k=5, min_sig_sim=0.5)
    comp = dd.neardup_components(pairs)  # small: only docs in some pair
    kept = (uniq.join(F.broadcast(comp), uniq["doc_id"] == comp["id"], "left")
            .filter(F.col("component").isNull()
                    | (F.col("component") == F.col("doc_id"))))
    packed, _ = size_balanced_pack_ids(
        kept.select("doc_id", "lang_guess", "quality", "n_bpe_tokens"),
        bytes_col="n_bpe_tokens", order_col="doc_id", target_bytes=2048)
    from th2_listener_mysql_binlog_go_spark.functions.caching import tag_cached

    out = packed.select(
        "doc_id", "lang_guess", "quality",
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.col("_pack_id").cast("bigint").alias("pack_id"),
    )
    # propagate the LSH operator's own tagged signature cache alongside ours
    return tag_cached(out, [uniq] + list(getattr(pairs, "_cdc_cached", [])))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the 10 lowest-id vectors."""
    e = _embs(spark, sf_dir)
    lo = e.agg(F.min("vec_id")).collect()[0][0]
    queries_df = e.filter(F.col("vec_id") < lo + 10)
    return sim.cosine_topk(e, queries_df, k=5)


def _aug_planted(spark: SparkSession, sf_dir: str):
    """Corpus augmented with 5 EXACT clones of each query vector (high,
    disjoint ids): an identical vector gets the identical LSH signature /
    KMeans list, and cosine(query, clone) is exactly the per-engine
    maximum (ties broken by neighbor_id in both engines), so for every
    query the approximate top-5 provably equals the exact top-5 — the
    planted-exactness construction that turns an approximate operator
    into a full-hash oracle check (same trick as emb_neardup). Max
    natural pairwise cosine in this corpus is ~0.51, far below 1."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    lo = e.agg(F.min("vec_id")).collect()[0][0]
    q = e.filter(F.col("vec_id") < lo + 10)
    clones = q.select(
        "vec_id", "embedding",
        F.explode(F.array(*[F.lit(j) for j in range(5)])).alias("j"),
    ).select(
        (F.lit(1000000) + F.col("vec_id") * 8 + F.col("j")).alias("vec_id"),
        "embedding",
    )
    return e.unionByName(clones), q


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k, made oracle-checkable by planted
    exact clones: each query's 5 clones share its bucket in every table
    (identical vector -> identical signature), so LSH recall on the true
    top-5 is provably 1.0 and the result hash must equal DuckDB's exact
    brute-force top-5 over the same augmented corpus."""
    aug, q = _aug_planted(spark, sf_dir)
    return sim.lsh_topk(aug, q, k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k (seeded MLlib KMeans coarse quantizer),
    oracle-checkable via the same planted-clone construction: a clone is
    assigned to the query's own nearest list, which the query always
    probes (n_probe >= 1), so the approximate top-5 provably equals the
    exact top-5 the DuckDB oracle computes."""
    aug, q = _aug_planted(spark, sf_dir)
    return sim.ivf_topk(aug, q, k=5, n_lists=16, n_probe=4)


def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded multi-table hyperplane
    LSH over the corpus augmented with planted scaled clones (every 20th
    vector x1.5 — cosine exactly 1, so each clone pair lands in its
    original's bucket in every table). Oracle: exact all-pairs cosine in
    DuckDB over the same augmented corpus; the only >=0.99 pairs are the
    planted ones (max natural pairwise cosine in this corpus is ~0.51),
    so banded-LSH recall is provably 1.0 here and the hash must match."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    clones = e.filter((F.col("vec_id") % 20) == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * 1.5).cast("float")).alias("embedding"),
    )
    aug = e.unionByName(clones)
    return sim.cosine_neardup_pairs(aug, threshold=0.99).select("id_a", "id_b")


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully hash-checked: the md5-derived 64-bit
    signature, band blocking, and Hamming filter are all recomputed by a
    pure-SQL DuckDB oracle (_simhash_oracle) — bit-for-bit."""
    return dd.simhash_pairs(_docs(spark, sf_dir), max_hamming=8)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under a full hash oracle: synthesize binary
    payloads (repeated sha256 of the text), decode via the Arrow
    mapInPandas path (deterministic byte-derived fake decoder — real
    codecs remain a clearly-marked stub), and emit the first stripe's
    byte SUM (an exact integer — a float32 mean of 16 bytes times 16),
    which DuckDB recomputes from sha256 hex arithmetic. This checks the
    whole binary plumbing chain: to_binary(hex) payload bytes, Arrow
    binary transfer, numpy stripe math, metadata struct pass-through."""
    media = mm.synthesize_media(_docs(spark, sf_dir), "doc_id", "text")
    feats = mm.decode_media(media, fake=True)
    return feats.select(
        "media_id", "kind", "byte_len", "width", "height",
        (F.element_at("feature", 1) * 16).cast("int").alias("f0_sum"),
    )


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode under a full hash oracle: synthesize_real_media
    emits genuine PNG / PPM / WAV bytes (content derived from doc id+text),
    decode_media(fake=False) parses them with the dependency-free byte
    decoders (functions/codecs.py), and the DECODED dimensions — read from
    the PNG IHDR chunk / netpbm header / WAV frame count by actual byte
    parsing, not echoed metadata — must equal the synthesis law DuckDB
    recomputes arithmetically. A wrong chunk walk, header parse, or
    unfilter stride shows up as a dim mismatch; pixel/PCM content is
    covered by the encode->decode round-trip tests (tests/test_codecs.py),
    whose values zlib makes non-SQL-expressible."""
    media = mm.synthesize_real_media(_docs(spark, sf_dir), "doc_id", "text")
    out = mm.decode_media(media, fake=False, feature_dim=4)
    return out.select(
        F.col("media_id").cast("bigint").alias("media_id"),
        "kind",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_changestream": q_changestream,
        "cdc_table_filter": q_table_filter,
        "cdc_lww_dedup": q_lww_dedup,
        "cdc_replay_final_state": q_replay_final_state,
        "cdc_replay_cow": q_replay_cow,
        "cdc_correction_ops": q_correction_ops,
        "cdc_replay_resume": q_replay_resume,
        "cdc_wire_stream_replay": q_wire_stream_replay,
        "cdc_wire_roundtrip": q_wire_roundtrip,
        "cdc_wire_quarantine": q_wire_quarantine,
        "cdc_wire_batched_roundtrip": q_wire_batched_roundtrip,
        "cdc_lineage_metrics": q_lineage_metrics,
        "cdc_replay_with_ddl": q_replay_with_ddl,
        "cdc_multitable_replay": q_multitable_replay,
        "cdc_update_pairing": q_update_pairing,
        "cdc_ddl_classify": q_ddl_classify,
        "cdc_json_decode": q_json_decode,
        "cdc_positional_decode": q_positional_decode,
        "cdc_size_split_plan": q_size_split_plan,
        "cdc_size_split_cumsum": q_size_split_cumsum,
        "cdc_batch_plan": q_batch_plan,
        "cdc_time_travel": q_time_travel,
        "cdc_rollback": q_rollback,
        "cdc_branch_wap": q_branch_wap,
        "cdc_point_lookup": q_point_lookup,
        "cdc_key_history": q_key_history,
        "cdc_asof_join": q_asof_join,
        "cdc_changes_diff": q_changes_diff,
        "cdc_incremental_agg": q_incremental_agg,
        "cdc_minmax_agg": q_minmax_agg,
        "cdc_dedup_index": q_dedup_index,
        "doc_split_assign": q_doc_split_assign,
        "doc_mixture_sample": q_doc_mixture_sample,
        "doc_dedup_exact": q_doc_dedup_exact,
        "doc_dedup_clusters": q_doc_dedup_clusters,
        "doc_dedup_clusters_bigstar": q_doc_dedup_clusters_bigstar,
        "doc_minhash_lsh": q_doc_minhash_lsh,
        "doc_dedup_incremental": q_doc_dedup_incremental,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_text_stats": q_doc_text_stats,
        "doc_winnow": q_doc_winnow,
        "train_corpus": q_train_corpus,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "emb_neardup": q_emb_neardup,
        "doc_simhash": q_doc_simhash,
        "media_decode": q_media_decode,
        "media_decode_real": q_media_decode_real,
    }


# ---------------------------------------------------------------- oracles

# DuckDB equivalent of functions/text.py normalize_text + shingles(k=5)
_NORM_DUCK = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)
def _shingle_ctes(src: str = "documents") -> str:
    """The 5-gram shingle CTE chain, rooted on ``src`` (any relation with
    doc_id + text) so pipeline oracles can shingle a filtered subset."""
    return _SHINGLE_CTES.replace("FROM documents", f"FROM {src}", 1)


_SHINGLE_CTES = f"""
norm AS (SELECT doc_id, {_NORM_DUCK} AS t FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(len(w) - 5, 0) + 1),
                i -> array_to_string(w[i+1:i+5], ' '))) AS s
  FROM toks
)
""".strip()


def _dedup_exact_oracle() -> str:
    return f"""
WITH norm AS (SELECT doc_id, md5({_NORM_DUCK}) AS fp FROM documents),
g AS (
  SELECT doc_id, fp,
         count(*) OVER (PARTITION BY fp) AS dup_count,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM norm
)
SELECT doc_id, fp, dup_count FROM g WHERE rn = 1
""".strip()


def _minhash_prefix(n_hashes: int, bands: int, src: str) -> tuple[str, str]:
    """Shared CTE prefix (shingles -> sig -> bands) + the agree expr —
    the signature arithmetic both minhash oracles replay bit-for-bit."""
    from th2_listener_mysql_binlog_go_spark.functions.dedup import MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(n_hashes)
    rpb = n_hashes // bands
    hs = ", ".join(
        f"min(({a} * b + {c}) % {MINHASH_P}) AS h{i}" for i, (a, c) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"CAST(h{i} AS STRING)" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    agree = " + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(n_hashes))
    prefix = f"""
{_shingle_ctes(src)},
bs AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS b FROM sh),
sig AS (SELECT doc_id, {hs} FROM bs GROUP BY doc_id),
bands AS ({band_selects})""".strip()
    return prefix, agree


def _minhash_oracle(n_hashes: int = 16, bands: int = 4,
                    src: str = "documents") -> str:
    prefix, agree = _minhash_prefix(n_hashes, bands, src)
    return f"""
WITH {prefix},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
ag AS (
  SELECT p.id_a, p.id_b, ({agree}) AS agree
  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
)
SELECT id_a, id_b, CAST(agree / {n_hashes}.0 AS DOUBLE) AS sig_sim
FROM ag WHERE agree / {n_hashes}.0 >= 0.5
""".strip()


def _minhash_incr_oracle(n_hashes: int = 16, bands: int = 4) -> str:
    """Replays minhash_lsh_incremental's new-vs-(corpus ∪ earlier-new)
    pair selection: signatures/buckets over the whole table, a doc is
    "new" iff md5(doc_id)'s first hex >= 'c'; a new doc matches any
    indexed (non-new) collision peer, and any SMALLER-id new peer."""
    prefix, agree = _minhash_prefix(n_hashes, bands, "documents")
    return f"""
WITH {prefix},
newd AS (
  SELECT doc_id, substring(md5(CAST(doc_id AS STRING)), 1, 1) >= 'c' AS is_new
  FROM documents
),
pairs AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS match_id
  FROM bands a
  JOIN newd na ON na.doc_id = a.doc_id AND na.is_new
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
  JOIN newd nb ON nb.doc_id = b.doc_id
  WHERE (NOT nb.is_new) OR b.doc_id < a.doc_id
),
ag AS (
  SELECT p.new_id, p.match_id, ({agree}) AS agree
  FROM pairs p JOIN sig sa ON sa.doc_id = p.new_id JOIN sig sb ON sb.doc_id = p.match_id
)
SELECT new_id, match_id, CAST(agree / {n_hashes}.0 AS DOUBLE) AS sig_sim
FROM ag WHERE agree / {n_hashes}.0 >= 0.5
""".strip()


def _jaccard_oracle(max_df: int = 100) -> str:
    return f"""
WITH {_SHINGLE_CTES},
shd AS (SELECT DISTINCT doc_id, s FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
rare AS (
  SELECT * FROM shd
  WHERE s IN (SELECT s FROM shd GROUP BY s HAVING count(*) <= {max_df})
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(i.inter / (na.n_sh + nb.n_sh - i.inter) AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE i.inter / (na.n_sh + nb.n_sh - i.inter) >= 0.5
""".strip()


# The BPE pre-tokenizer pattern is lookahead-free, so the identical string
# runs in Java regex (Spark) and RE2 (DuckDB); '' doubling for SQL literal.
from th2_listener_mysql_binlog_go_spark.functions.text import BPE_TOKEN_PATTERN

# (standard SQL strings keep backslashes literally — only quotes double)
BPE_PATTERN_SQL = BPE_TOKEN_PATTERN.replace("'", "''")


def _winnow_oracle(k: int = 8, w: int = 4) -> str:
    from th2_listener_mysql_binlog_go_spark.functions.text import WINNOW_P

    return f"""
WITH norm AS (SELECT doc_id, {_NORM_DUCK} AS t FROM documents),
g AS (SELECT doc_id, t FROM norm WHERE length(t) >= {k + w - 1}),
hs AS (
  SELECT doc_id,
    list_transform(range(length(t) - {k - 1}),
      i -> ('0x' || substring(md5(substring(t, i+1, {k})), 1, 15))::BIGINT % {WINNOW_P}) AS h
  FROM g
),
mins AS (
  SELECT doc_id,
    list_transform(range(len(h) - {w - 1}), j -> list_min(h[j+1:j+{w}])) AS m
  FROM hs
)
SELECT doc_id, unnest(list_sort(list_distinct(m))) AS fp FROM mins
""".strip()


def _components_oracle() -> str:
    """Connected components over the MinHash-LSH pair graph: the pairs are
    the _minhash_oracle query verbatim (nested WITH), closed by a
    recursive CTE computing min-reachable-id per node."""
    return f"""
WITH RECURSIVE mh AS (
{_minhash_oracle()}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM mh
  UNION
  SELECT id_b AS a, id_a AS b FROM mh
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT id, min(r) AS component FROM reach GROUP BY id
""".strip()


def _train_corpus_oracle() -> str:
    """The full curation pipeline recomputed in DuckDB: text stats ->
    quality/lang gate -> exact dedup -> MinHash-LSH components (recursive
    closure) -> keep representatives -> token-budget packing as a plain
    exclusive prefix sum (mathematically identical to the engine's
    two-level chunked cumsum)."""
    return f"""
WITH RECURSIVE
stats AS (
{_text_stats_oracle()}
),
gated AS (
  SELECT s.doc_id, s.lang_guess, s.quality, s.n_bpe_tokens, d.text,
         s.fp
  FROM stats s JOIN documents d USING (doc_id)
  WHERE s.quality >= 0.75 AND s.lang_guess <> 'und'
),
uniq AS (
  SELECT doc_id, lang_guess, quality, n_bpe_tokens, text FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
mh AS (
{_minhash_oracle(src="uniq")}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM mh
  UNION
  SELECT id_b AS a, id_a AS b FROM mh
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
kept AS (
  SELECT u.doc_id, u.lang_guess, u.quality, u.n_bpe_tokens
  FROM uniq u LEFT JOIN comp c ON c.id = u.doc_id
  WHERE c.component IS NULL OR c.component = u.doc_id
)
SELECT doc_id, lang_guess, quality,
  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
  CAST(floor(coalesce(sum(n_bpe_tokens) OVER (ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
       AS BIGINT) AS pack_id
FROM kept
""".strip()


def _text_stats_oracle() -> str:
    from th2_listener_mysql_binlog_go_spark.functions.text import LANG_MARKERS

    langs = list(LANG_MARKERS.keys())
    score_exprs = []
    for lang in langs:
        terms = " + ".join(
            f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT)"
            for m in LANG_MARKERS[lang]
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    # earliest-max argmax, mirroring the strict-greater fold in lang_id()
    conds = []
    for i, lang in enumerate(langs):
        ge = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1:]) or "TRUE"
        conds.append(f"WHEN {ge} THEN '{lang}'")
    lang_case = "CASE " + " ".join(conds) + " END"
    maxs = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    return f"""
WITH padded AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
),
scores AS (SELECT doc_id, text, p, {", ".join(score_exprs)} FROM padded),
feats AS (
  SELECT doc_id, text,
    CASE WHEN {maxs} > 0 THEN {lang_case} ELSE 'und' END AS lang_guess,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
    length(text) AS n,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS BIGINT) AS stop_hits
  FROM scores
)
SELECT doc_id, lang_guess, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_PATTERN_SQL}')) AS BIGINT) AS n_bpe_tokens,
  CAST(((CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
   + (CASE WHEN n > 0 THEN CAST(alpha AS DOUBLE) / n ELSE 0.0 END)
   + (CASE WHEN stop_hits > 0 THEN 1.0 ELSE 0.3 END)) / 3.0 AS DOUBLE) AS quality,
  md5({_NORM_DUCK}) AS fp
FROM feats
""".strip()


def _ann_oracle(k: int = 5, n_queries: int = 10) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings
  WHERE vec_id < (SELECT min(vec_id) + {n_queries} FROM embeddings)
),
c AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM q CROSS JOIN c WHERE neighbor_id <> query_id
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM r WHERE rnk <= {k}
""".strip()


def _simhash_oracle(max_hamming: int = 8) -> str:
    """Full DuckDB recomputation of the 64-bit SimHash: same normalize /
    bigram / md5-first-8-bytes / per-bit majority vote as
    functions/dedup.simhash_gram_hashes + _simhash_vote_udf, in pure SQL
    (bit arithmetic over the hi/lo 32-bit halves; bit 63 lands as the
    int64 sign via two's complement). Band blocking and Hamming filter
    mirror simhash_pairs exactly."""
    min_i64 = "(-9223372036854775807 - 1)"
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm WHERE t IS NOT NULL),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 2
         THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
         ELSE [coalesce(w[1], '')] END AS gs
  FROM toks
),
g AS (SELECT doc_id, unnest(gs) AS gr FROM grams),
h AS (
  SELECT doc_id,
    ('0x' || substring(md5(gr), 1, 8))::BIGINT AS hi,
    ('0x' || substring(md5(gr), 9, 8))::BIGINT AS lo
  FROM g
),
bt AS (SELECT unnest(range(64)) AS bit),
acc AS (
  SELECT doc_id, bit,
    sum((CASE WHEN bit < 32 THEN (lo >> bit) & 1
              ELSE (hi >> (bit - 32)) & 1 END) * 2 - 1) AS votes
  FROM h CROSS JOIN bt GROUP BY doc_id, bit
),
sig0 AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN votes > 0 THEN
          CASE WHEN bit = 63 THEN {min_i64}::HUGEINT
               ELSE ((1::BIGINT << bit))::HUGEINT END
        ELSE 0::HUGEINT END) AS BIGINT) AS sig
  FROM acc GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id, coalesce(s.sig, 0) AS sig
  FROM documents d LEFT JOIN sig0 s USING (doc_id)
),
bands AS (SELECT unnest(range(4)) AS band),
banded AS (
  SELECT doc_id, sig, band, (sig >> (band * 16)) & 65535 AS key
  FROM sig CROSS JOIN bands
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
""".strip()


def _ann_planted_oracle(k: int = 5, n_queries: int = 10) -> str:
    """Exact brute-force top-k over the clone-augmented corpus (see
    _aug_planted): the approximate operators must hash-match this."""
    return f"""
WITH j AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) AS t(j)),
qv0 AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id < (SELECT min(vec_id) + {n_queries} FROM embeddings)
),
clones AS (
  SELECT 1000000 + vec_id * 8 + j AS vec_id, embedding FROM qv0 CROSS JOIN j
),
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id, embedding FROM clones
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM qv0
),
c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM aug
),
s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM q CROSS JOIN c WHERE neighbor_id <> query_id
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM r WHERE rnk <= {k}
""".strip()


def _ddl_oracle_sql() -> str:
    pats = {k: v[0].replace("'", "''") for k, v in SPARK_PATTERNS.items()}
    order = ["TRUNCATE", "CREATE_TABLE", "DROP_TABLE", "ALTER_TABLE"]
    op_case = "CASE " + " ".join(
        f"WHEN regexp_matches(stmt, '{pats[o]}') THEN '{o}'" for o in order
    ) + " ELSE 'UNKNOWN' END"
    schema_case = "CASE " + " ".join(
        f"WHEN regexp_matches(stmt, '{pats[o]}') THEN (CASE WHEN regexp_extract(stmt, '{pats[o]}', 1) = '' THEN 'repos' ELSE regexp_extract(stmt, '{pats[o]}', 1) END)"
        for o in order
    ) + " ELSE '' END"
    table_case = "CASE " + " ".join(
        f"WHEN regexp_matches(stmt, '{pats[o]}') THEN regexp_extract(stmt, '{pats[o]}', 2)"
        for o in order
    ) + " ELSE '' END"
    return f"""
WITH stmts AS ({DDL_CASES_SQL})
SELECT doc_id,
  {schema_case} AS ddl_schema,
  {table_case} AS ddl_table,
  {op_case} AS ddl_op
FROM stmts
""".strip()


def oracle_sql() -> dict[str, str]:
    stream = f"stream AS (\n{DERIVED_STREAM_SQL}\n)"
    observed = "observed AS (SELECT * FROM stream WHERE schema_name = 'repos' AND table_name = 'files')"
    # mid-replay cutoff, mirroring _replay_to_mid: span = greatest(1,
    # (hi-lo+1) // 8); state-as-of-batch-4 = rows with gtid < (lo//span+4)*span
    cut = (
        "b AS (SELECT min(gtid) AS lo, max(gtid) AS hi FROM stream),\n"
        "p AS (SELECT lo, greatest(1, CAST(floor((hi - lo + 1) / 8.0) AS BIGINT)) AS span FROM b),\n"
        "cut AS (SELECT (CAST(floor(lo / (1.0 * span)) AS BIGINT) + 4) * span AS c FROM p)"
    )
    return {
        "cdc_changestream": DERIVED_STREAM_SQL,
        "cdc_table_filter": f"WITH {stream}, {observed} SELECT * FROM observed",
        "cdc_lww_dedup": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, gtid AS last_gtid, op AS last_op, commit, lang, content
FROM ranked WHERE rn = 1
""".strip(),
        "cdc_replay_final_state": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_replay_cow": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        # corrections on top of the LWW state: the kill-list drops rows
        # (NULL lang kept — the engine's filter only deletes matches) and
        # the redaction rewrites the matched rows' columns
        "cdc_correction_ops": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
),
state AS (
  SELECT repo, path, commit, lang, content
  FROM ranked WHERE rn = 1 AND op <> 'DELETE'
)
SELECT repo, path,
       CASE WHEN lang = 'py' THEN 'REDACTED' ELSE commit END AS commit,
       lang,
       CASE WHEN lang = 'py' THEN md5(content) ELSE content END AS content
FROM state WHERE lang <> 'go' OR lang IS NULL
""".strip(),
        # resume and wire-streaming replays converge to the SAME final
        # state as the uninterrupted batch replay — oracle SQL verbatim
        "cdc_replay_resume": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_wire_stream_replay": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_wire_roundtrip": f"""
WITH {stream}
SELECT gtid, schema_name, table_name, op, repo, path, commit, lang, content
FROM stream WHERE op IN ('INSERT','UPDATE','DELETE')
""".strip(),
        # one wire message per stream row; the mangle rule (gtid % 97 = 0)
        # is recomputable from the original stream, so the oracle knows
        # exactly which messages quarantine and which survive intact
        "cdc_wire_quarantine": f"""
WITH {stream}
SELECT gtid, op, repo, path, commit, lang, content,
       CAST(NULL AS VARCHAR) AS reason, 0 AS quarantined
FROM stream
WHERE op IN ('INSERT','UPDATE','DELETE') AND gtid % 97 <> 0
UNION ALL
SELECT gtid, CAST(NULL AS VARCHAR) AS op, CAST(NULL AS VARCHAR) AS repo,
       CAST(NULL AS VARCHAR) AS path, CAST(NULL AS VARCHAR) AS commit,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS content,
       'unparseable payload' AS reason, 1 AS quarantined
FROM stream WHERE gtid % 97 = 0
""".strip(),
        "cdc_wire_batched_roundtrip": f"""
WITH wstream AS (
{DERIVED_WIRE_STREAM_SQL}
)
SELECT gtid, log_pos, op, table_name,
  CAST((seq % 2) + 1 AS BIGINT) AS rn,
  repo, path,
  CASE WHEN op = 'DELETE' THEN commit
       WHEN op = 'UPDATE' THEN bcommit END AS before_commit,
  CASE WHEN op IN ('INSERT','UPDATE') THEN commit END AS after_commit,
  lang, content
FROM wstream
""".strip(),
        "cdc_time_travel": f"""
WITH {stream}, {observed},
{cut},
dml AS (
  SELECT * FROM observed
  WHERE op IN ('INSERT','UPDATE','DELETE') AND gtid < (SELECT c FROM cut)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_rollback": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_branch_wap": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
)
SELECT repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_point_lookup": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
),
final AS (
  SELECT repo, path, commit, lang, content
  FROM ranked WHERE rn = 1 AND op <> 'DELETE'
),
keys AS (
  SELECT repo, path FROM final
  WHERE md5(repo || '|' || path) LIKE '0%'
  ORDER BY repo, path LIMIT 12
)
SELECT f.repo, f.path, f.commit, f.lang, f.content
FROM final f JOIN keys k ON f.repo = k.repo AND f.path = k.path
""".strip(),
        "cdc_key_history": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
keys AS (
  SELECT DISTINCT repo, path FROM dml
  WHERE md5(repo || '|' || path) LIKE '0%'
  ORDER BY repo, path LIMIT 12
),
hist AS (
  SELECT d.*, row_number() OVER (
    PARTITION BY d.repo, d.path ORDER BY d.gtid DESC) AS rn
  FROM dml d JOIN keys k ON d.repo = k.repo AND d.path = k.path
)
SELECT repo, path, commit, lang, content, op, gtid,
       CASE WHEN rn = 1 AND op <> 'DELETE' THEN 1 ELSE 0 END AS is_current
FROM hist
""".strip(),
        "cdc_asof_join": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
b AS (SELECT min(gtid) AS lo, max(gtid) AS hi FROM stream),
keys AS (
  SELECT DISTINCT repo, path FROM dml
  WHERE md5(repo || '|' || path) LIKE '0%'
),
probes AS (
  SELECT k.repo, k.path,
         b.lo + ((b.hi - b.lo) * j.j) // 4 AS as_of_gtid
  FROM keys k, b, (SELECT unnest([1, 2, 3]) AS j) j
),
winners AS (
  SELECT p.repo, p.path, p.as_of_gtid,
         d.commit, d.lang, d.content, d.gtid, d.op,
         row_number() OVER (
           PARTITION BY p.repo, p.path, p.as_of_gtid
           ORDER BY d.gtid DESC) AS rn
  FROM probes p
  JOIN dml d ON d.repo = p.repo AND d.path = p.path
            AND d.gtid <= p.as_of_gtid
)
SELECT p.repo, p.path, p.as_of_gtid,
       CASE WHEN w.op = 'DELETE' THEN NULL ELSE w.commit END AS commit,
       CASE WHEN w.op = 'DELETE' THEN NULL ELSE w.lang END AS lang,
       CASE WHEN w.op = 'DELETE' THEN NULL ELSE w.content END AS content,
       CASE WHEN w.op = 'DELETE' THEN NULL ELSE w.gtid END AS match_gtid,
       w.op AS match_op
FROM probes p
LEFT JOIN (SELECT * FROM winners WHERE rn = 1) w
  ON w.repo = p.repo AND w.path = p.path AND w.as_of_gtid = p.as_of_gtid
""".strip(),
        "cdc_changes_diff": f"""
WITH {stream}, {observed},
{cut},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
old_r AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn
  FROM dml WHERE gtid < (SELECT c FROM cut)
),
old_s AS (SELECT repo, path, commit, lang, content FROM old_r WHERE rn = 1 AND op <> 'DELETE'),
new_r AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
),
new_s AS (SELECT repo, path, commit, lang, content FROM new_r WHERE rn = 1 AND op <> 'DELETE')
SELECT
  CASE WHEN n.repo IS NULL THEN o.repo ELSE n.repo END AS repo,
  CASE WHEN n.repo IS NULL THEN o.path ELSE n.path END AS path,
  CASE WHEN n.repo IS NULL THEN o.commit ELSE n.commit END AS commit,
  CASE WHEN n.repo IS NULL THEN o.lang ELSE n.lang END AS lang,
  CASE WHEN n.repo IS NULL THEN o.content ELSE n.content END AS content,
  CASE WHEN o.repo IS NULL THEN 'INSERT'
       WHEN n.repo IS NULL THEN 'DELETE'
       ELSE 'UPDATE' END AS change_type
FROM new_s n FULL OUTER JOIN old_s o ON n.repo = o.repo AND n.path = o.path
WHERE o.repo IS NULL OR n.repo IS NULL
   OR n.commit <> o.commit OR n.lang <> o.lang OR n.content <> o.content
""".strip(),
        "cdc_incremental_agg": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
),
final AS (
  SELECT repo, path, commit, lang, content
  FROM ranked WHERE rn = 1 AND op <> 'DELETE'
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(length(content)) AS BIGINT) AS total_size
FROM final GROUP BY lang
""".strip(),
        "cdc_minmax_agg": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
),
final AS (
  SELECT repo, path, commit, lang, content
  FROM ranked WHERE rn = 1 AND op <> 'DELETE'
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_files,
  CAST(min(length(content)) AS BIGINT) AS min_size,
  CAST(max(length(content)) AS BIGINT) AS max_size
FROM final GROUP BY lang
""".strip(),
        # the incrementally-maintained LSH index must equal a from-scratch
        # minhash_index over the final replayed state (id = repo/path,
        # bucket md5 certifies the whole signature slice)
        "cdc_dedup_index": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn FROM dml
),
state AS (SELECT repo, path, content FROM ranked WHERE rn = 1 AND op <> 'DELETE'),
docs AS (SELECT repo || '/' || path AS doc_id, coalesce(content, '') AS text FROM state),
{_minhash_prefix(16, 4, "docs")[0]}
SELECT doc_id AS id, CAST(band AS INT) AS band, bucket FROM bands
""".strip(),
        "cdc_lineage_metrics": f"""
WITH {stream}, {observed},
dml AS (SELECT * FROM observed WHERE op IN ('INSERT','UPDATE','DELETE')),
b AS (SELECT CAST((max(gtid) - min(gtid) + 1) / 5 AS BIGINT) AS span FROM stream),
batched AS (
  SELECT CAST(floor(gtid / (SELECT span FROM b)) AS BIGINT) AS batch_id, op FROM dml
)
SELECT batch_id,
  CAST(sum(CASE WHEN op <> 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_upserts,
  CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
  CAST(count(*) AS BIGINT) AS n_applied
FROM batched GROUP BY batch_id
""".strip(),
        "cdc_replay_with_ddl": f"""
WITH dstream AS (
{DERIVED_DDL_STREAM_SQL}
),
trunc AS (SELECT coalesce(max(gtid), -1) AS tg FROM dstream WHERE op = 'TRUNCATE'),
alt AS (SELECT coalesce(min(gtid), 1 << 62) AS ag FROM dstream WHERE op = 'ALTER_TABLE'),
dml AS (
  SELECT * FROM dstream
  WHERE op IN ('INSERT','UPDATE','DELETE')
    AND schema_name = 'repos' AND table_name = 'files'
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn
  FROM dml
)
SELECT repo, path, commit, lang, content,
       CASE WHEN gtid > (SELECT ag FROM alt) THEN stars
            ELSE CAST(NULL AS INT) END AS stars
FROM ranked
WHERE rn = 1 AND op <> 'DELETE' AND gtid > (SELECT tg FROM trunc)
""".strip(),
        "cdc_multitable_replay": f"""
WITH mstream AS (
{DERIVED_MULTI_STREAM_SQL}
),
mobserved AS (
  SELECT * FROM mstream
  WHERE schema_name = 'repos' AND table_name IN ('files', 'files2')
    AND op IN ('INSERT','UPDATE','DELETE')
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY table_name, repo, path ORDER BY gtid DESC) AS rn
  FROM mobserved
)
SELECT table_name AS target_table, repo, path, commit, lang, content
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
""".strip(),
        "cdc_update_pairing": """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
leads AS (
  SELECT user_id, rn,
         value AS before_value,
         lead(rn) OVER (PARTITION BY user_id ORDER BY rn) AS next_rn,
         lead(value) OVER (PARTITION BY user_id ORDER BY rn) AS after_value
  FROM ordered
)
SELECT user_id, (rn - 1) // 2 AS pair_idx, before_value, after_value
FROM leads WHERE rn % 2 = 1 AND next_rn IS NOT NULL
""".strip(),
        "cdc_ddl_classify": _ddl_oracle_sql(),
        "cdc_json_decode": f"""
WITH payloads AS ({PAYLOAD_CASES_SQL}),
idx AS (SELECT * FROM (VALUES (0), (1)) AS t(i)),
expanded AS (
  SELECT p.doc_id, p.payload, i.i AS row_idx,
         json_extract_string(p.payload, '$.Operation') AS op
  FROM payloads p CROSS JOIN idx i
)
SELECT doc_id, op,
  json_extract_string(payload, '$.Schema') AS schema_name,
  json_extract_string(payload, '$.Table') AS table_name,
  CAST(row_idx AS INT) AS row_idx,
  CAST(COALESCE(json_extract(payload, '$.Deleted[' || row_idx || '].id'),
                json_extract(payload, '$.Updated[' || row_idx || '].Before.id')) AS BIGINT) AS before_id,
  CAST(COALESCE(json_extract(payload, '$.Inserted[' || row_idx || '].id'),
                json_extract(payload, '$.Updated[' || row_idx || '].After.id')) AS BIGINT) AS after_id,
  COALESCE(json_extract_string(payload, '$.Inserted[' || row_idx || '].lang'),
           json_extract_string(payload, '$.Updated[' || row_idx || '].After.lang')) AS after_lang,
  CAST(COALESCE(json_extract(payload, '$.Inserted[' || row_idx || '].n_chars'),
                json_extract(payload, '$.Updated[' || row_idx || '].After.n_chars')) AS BIGINT) AS after_n_chars
FROM expanded
WHERE row_idx = 0 OR op = 'INSERT'
""".strip(),
        "cdc_positional_decode": """
WITH idx AS (SELECT * FROM (VALUES (0), (1)) AS t(i)),
base AS (
  SELECT event_id, user_id,
    CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'INSERT'
         WHEN 1 THEN 'UPDATE' ELSE 'DELETE' END AS op
  FROM events
)
SELECT event_id, op, CAST(i AS INT) AS row_idx,
  CASE WHEN op IN ('UPDATE','DELETE') THEN CAST(event_id AS BIGINT) END AS before_id,
  CASE WHEN op = 'INSERT' THEN CAST(event_id + 1000000 * i AS BIGINT)
       WHEN op = 'UPDATE' THEN CAST(event_id AS BIGINT) END AS after_id,
  CASE WHEN op = 'INSERT' THEN (CASE WHEN i = 0 THEN 'py' ELSE 'go' END)
       WHEN op = 'UPDATE' THEN 'py' END AS after_lang,
  CASE WHEN op = 'INSERT' THEN CAST(user_id + 7 * i AS BIGINT)
       WHEN op = 'UPDATE' THEN CAST(user_id AS BIGINT) END AS after_n
FROM base CROSS JOIN idx
WHERE i = 0 OR op = 'INSERT'
""".strip(),
        "cdc_size_split_plan": f"""
WITH est AS ({SIZE_SQL})
SELECT event_id, user_id, est_size,
  CAST(floor((sum(est_size) OVER (PARTITION BY user_id ORDER BY event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - est_size) / 4096) AS BIGINT) AS part_idx
FROM est
""".strip(),
        "cdc_batch_plan": f"""
WITH {stream}, {observed},
batched AS (
  SELECT *, CAST(floor(gtid / 1000) AS BIGINT) AS batch_id FROM observed
),
agg AS (
  SELECT batch_id, min(gtid) AS gtid_min, max(gtid) AS gtid_max,
         CAST(sum(CASE WHEN op = 'INSERT' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
         CAST(sum(CASE WHEN op = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
         CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
  FROM batched GROUP BY batch_id
)
SELECT batch_id, gtid_min, gtid_max, n_insert, n_update, n_delete,
       max(gtid_max) OVER (ORDER BY batch_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS watermark_gtid
FROM agg
""".strip(),
        "cdc_size_split_cumsum": f"""
WITH est AS ({SIZE_SQL}),
opd AS (
  SELECT event_id, user_id, est_size,
         CASE WHEN event_id % 7 = 0 THEN 'UPDATE' ELSE 'INSERT' END AS op
  FROM est
),
win AS (
  SELECT *,
    est_size + 1 AS padded,
    max(est_size + 1) OVER (PARTITION BY user_id) AS maxrow,
    sum(est_size + 1) OVER (PARTITION BY user_id ORDER BY event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM opd
)
SELECT event_id, user_id, est_size, op,
  CAST(CASE WHEN op = 'INSERT' THEN
    CASE WHEN (4096 - 64 - maxrow) >= maxrow
         THEN floor((cum - 1) / (4096 - 64 - maxrow))
         ELSE rn - 1 END
  ELSE 0 END AS INT) AS part_idx
FROM win
""".strip(),
        "media_decode_real": """
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CASE WHEN doc_id % 3 = 2 THEN 'audio' ELSE 'image' END AS kind,
  CAST(CASE WHEN doc_id % 3 = 2 THEN 64 + doc_id % 97
            ELSE 8 + doc_id % 13 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 6 + doc_id % 11 END AS INT) AS height
FROM documents
""".strip(),
        "doc_split_assign": """
WITH h AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || '7'), 1, 8))::BIGINT AS u
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN u < (98::BIGINT * 4294967296) // 100 THEN 'train'
            WHEN u < (99::BIGINT * 4294967296) // 100 THEN 'val'
            ELSE 'test' END AS split
FROM h
""".strip(),
        "doc_mixture_sample": """
WITH c AS (
  SELECT lang, count(*) AS n FROM documents
  WHERE lang IN ('en','zh','es','de','fr') GROUP BY lang
),
th AS (
  SELECT lang,
         least(4294967296::BIGINT,
               (150::BIGINT * 1 * 4294967296) // (5 * n)) AS t
  FROM c
)
SELECT d.doc_id, d.lang
FROM documents d JOIN th ON th.lang = d.lang
WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || '|' || '3'), 1, 8))::BIGINT < th.t
""".strip(),
        "doc_dedup_exact": _dedup_exact_oracle(),
        "doc_dedup_clusters": _components_oracle(),
        "doc_dedup_clusters_bigstar": _components_oracle(),
        "doc_minhash_lsh": _minhash_oracle(),
        "doc_dedup_incremental": _minhash_incr_oracle(),
        "doc_ngram_jaccard": _jaccard_oracle(),
        "doc_text_stats": _text_stats_oracle(),
        "doc_winnow": _winnow_oracle(),
        "train_corpus": _train_corpus_oracle(),
        "ann_cosine_topk": _ann_oracle(),
        "ann_lsh_topk": _ann_planted_oracle(),
        "ann_ivf_topk": _ann_planted_oracle(),
        "doc_simhash": _simhash_oracle(),
        "emb_neardup": """
WITH clones AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
),
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id, embedding FROM clones
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM aug
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.dv, b.dv)
           / (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))) AS sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b FROM p WHERE sim >= 0.99
""".strip(),
        # The fake decoder's payload is repeated sha256 hex -> bytes, so
        # every output column is pure hash arithmetic DuckDB can recompute
        # (the real-codec path stays a declared NotImplementedError stub).
        "media_decode": """
WITH m AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    sha256(text) AS h,
    CAST(doc_id % 640 + 16 AS INT) AS width,
    CAST(doc_id % 480 + 16 AS INT) AS height
  FROM documents
)
SELECT media_id, kind, CAST(128 AS INT) AS byte_len, width, height,
  CAST(list_sum(list_transform(range(16),
       i -> ('0x' || substring(h, 2*i + 1, 2))::INT)) AS INT) AS f0_sum
FROM m
""".strip(),
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: full CDC replay to converged final state."""
    return q_replay_final_state(spark, "/root/testdata/sf0.001")
