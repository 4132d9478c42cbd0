"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride a 100 TB lake as ``binary`` columns with a typed
metadata struct. The Spark-side machinery — schema, Arrow batch shape,
``mapInPandas`` signatures, partition sizing — is real and tested, and so
is the decode: ``decode_media(fake=False)`` parses actual PNG / PPM / WAV
bytes via :mod:`.codecs` (PIL / soundfile when installed, dependency-free
stdlib+numpy parsers otherwise). Only formats with no available decoder
(video containers, exotic codecs without PIL) raise / null out, per
``on_unsupported``. The ``fake=True`` decoder remains as the
any-payload deterministic path used by the hash oracle.

Pattern notes for the real thing:
- decode inside ``mapInPandas`` (one Arrow batch of binaries in, one
  batch of feature rows out) — never a row-at-a-time Python UDF;
- cap ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
  multi-MB blobs fits executor memory;
- repartition by a size-aware key (e.g. ceil(cum_bytes/target)) before
  the decode stage so tasks carry comparable byte loads, not row counts.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# Captured into the decode closures (a plain string pickles by value):
# Python workers launched with a cwd that can't import this package —
# any driver not started from the repo root, no --py-files — retry the
# codecs import with this path appended. On a real cluster --py-files
# ships the package and the fast import just works.
_PKG_PARENT = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", ".."))

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, byte_len int, width int, height int, "
    "feature array<float>"
)


def synthesize_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media rows from any table: payload bytes =
    repeated sha2 of the text (opaque, content-derived), kind cycles
    image/audio/video. Gives the binary-column path a real input."""
    payload = F.to_binary(
        F.repeat(F.sha2(F.col(text_col), 256), 4), F.lit("hex")
    )
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            (F.col(id_col) % 640 + 16).cast("int").alias("width"),
            (F.col(id_col) % 480 + 16).cast("int").alias("height"),
            (F.col(id_col) % 10000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthesize_real_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic REAL-format media rows: payloads are genuine PNG / PPM /
    WAV bytes (``codecs`` encoders) whose content derives from the source
    row's id+text, so ``decode_media(fake=False)`` exercises actual byte-level
    parsing end-to-end with zero external data. Kind cycles image(png) /
    image(ppm) / audio(wav) by ``id % 3``. Encoded inside ``mapInPandas`` —
    the synthesis is distributed like any decode stage would be."""
    out_schema = MEDIA_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        try:
            from th2_listener_mysql_binlog_go_spark.functions import codecs
        except ModuleNotFoundError:
            import sys as _sys
            if _PKG_PARENT not in _sys.path:
                _sys.path.insert(0, _PKG_PARENT)
            from th2_listener_mysql_binlog_go_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, text in zip(pdf[id_col], pdf[text_col]):
                mid = int(mid)
                seed = np.frombuffer(
                    hashlib.sha256(f"{mid}:{text}".encode()).digest(),
                    dtype=np.uint8,
                ).astype(np.int64)
                m = mid % 3
                if m in (0, 1):
                    w, h = 8 + mid % 13, 6 + mid % 11
                    pix = (seed.cumsum()[:, None, None]
                           + np.arange(h)[None, :, None] * 7
                           + np.arange(w)[None, None, :] * 3)
                    pix = (pix.sum(axis=0) % 256).astype(np.uint8)[:, :, None]
                    pix = np.repeat(pix, 3, axis=2)
                    payload = (codecs.encode_png(pix) if m == 0
                               else codecs.encode_ppm(pix))
                    mime = "image/png" if m == 0 else "image/x-portable-pixmap"
                    rows.append((mid, "image", payload, {
                        "mime": mime, "width": w, "height": h,
                        "duration_ms": None}))
                else:
                    nfr, rate = 64 + mid % 97, 8000
                    t = np.arange(nfr, dtype=np.float64)
                    wave_ = np.sin(t * (1 + seed[0] % 17) / 10.0) * 3000
                    samples = wave_.astype(np.int16)[:, None]
                    payload = codecs.encode_wav(samples, rate)
                    rows.append((mid, "audio", payload, {
                        "mime": "audio/wav", "width": None, "height": None,
                        "duration_ms": int(nfr * 1000 / rate)}))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def decode_media(
    df: DataFrame,
    fake: bool = False,
    feature_dim: int = 8,
    on_unsupported: str = "error",
) -> DataFrame:
    """binary payload -> per-item features via mapInPandas.

    ``fake=True`` runs the deterministic byte-derived decoder (any payload);
    ``fake=False`` runs REAL decoders (:mod:`.codecs`): PIL / soundfile when
    installed, else the dependency-free built-in PNG/PPM/PGM/WAV parsers —
    width/height/feature come from actual decoded pixels / PCM samples.
    Formats nothing can decode (e.g. video containers — no stdlib demuxer)
    follow ``on_unsupported``: ``'error'`` raises ``NotImplementedError``
    (honest default), ``'null'`` emits the row with NULL dims/feature so a
    lake-wide sweep can quarantine undecodables instead of dying."""
    if on_unsupported not in ("error", "null"):
        raise ValueError("on_unsupported must be 'error' or 'null'")

    def decode_real(pdf: pd.DataFrame) -> pd.DataFrame:
        try:
            from th2_listener_mysql_binlog_go_spark.functions import codecs
        except ModuleNotFoundError:
            import sys as _sys
            if _PKG_PARENT not in _sys.path:
                _sys.path.insert(0, _PKG_PARENT)
            from th2_listener_mysql_binlog_go_spark.functions import codecs

        n = len(pdf)
        widths = np.full(n, -1, dtype=np.int64)
        heights = np.full(n, -1, dtype=np.int64)
        feats: list = [None] * n
        byte_len = np.zeros(n, dtype=np.int32)
        for i, payload in enumerate(pdf["payload"]):
            b = bytes(payload)
            byte_len[i] = len(b)
            got = codecs.decode_one(b, feature_dim)
            if got is None:
                if on_unsupported == "error":
                    kind = codecs.sniff_kind(b) or "unknown"
                    raise NotImplementedError(
                        f"no real decoder for payload format '{kind}' "
                        f"(media_id={pdf['media_id'].iloc[i]}); install "
                        "PIL/soundfile or pass on_unsupported='null'"
                    )
                continue
            widths[i], heights[i], feats[i] = got
        return pd.DataFrame({
            "media_id": pdf["media_id"],
            "kind": pdf["kind"],
            "byte_len": byte_len,
            "width": pd.array([None if w < 0 else int(w) for w in widths],
                              dtype="Int32"),
            "height": pd.array([None if h < 0 else int(h) for h in heights],
                               dtype="Int32"),
            "feature": feats,
        })

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                yield decode_real(pdf)
                continue
            n = len(pdf)
            feats = np.zeros((n, feature_dim), dtype=np.float32)
            byte_len = np.zeros(n, dtype=np.int32)
            for i, payload in enumerate(pdf["payload"]):
                b = np.frombuffer(payload, dtype=np.uint8)
                byte_len[i] = len(b)
                # "feature" = per-stripe byte means — deterministic,
                # content-derived, shaped like a real embedding
                stripes = np.array_split(b.astype(np.float32), feature_dim)
                feats[i] = [s.mean() if len(s) else 0.0 for s in stripes]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "byte_len": byte_len,
                "width": pdf["meta"].map(lambda m: m["width"]),
                "height": pdf["meta"].map(lambda m: m["height"]),
                "feature": list(feats),
            })

    return df.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


def size_balanced_pack_ids(
    df: DataFrame,
    bytes_col,
    order_col: str = "media_id",
    target_bytes: int = 64 << 20,
    chunk_span: int = 1_000_000,
) -> tuple[DataFrame, int]:
    """Assign each row a ``_pack_id`` so every pack carries ~``target_bytes``
    of payload in ``order_col`` order — a true running byte-cumsum, computed
    scalably in two levels:

    1. rows chunk by ``floor(order_col / chunk_span)``; the within-chunk
       cumsum is a parallel window per chunk (no global sort);
    2. chunk byte totals (one row per chunk — bounded driver traffic:
       10^10 rows at the default span is ~10^4 chunk rows) turn into
       exclusive prefix offsets, broadcast-joined back;
    3. global_offset = chunk_base + within_cumsum − row_bytes;
       ``_pack_id = floor(global_offset / target_bytes)``.

    Returns (df with _pack_id, number of packs). Contract: ``order_col``
    must be non-null — a NULL id has no place in a total order, so such
    rows are dropped here (documented; callers needing them must assign
    ids first). Without the filter a None chunk key would crash the
    driver-side sort with a TypeError."""
    est = (F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col).cast("bigint")
    d = df.filter(F.col(order_col).isNotNull()).withColumn("_sb_bytes", est).withColumn(
        "_sb_chunk", F.floor(F.col(order_col) / F.lit(chunk_span)).cast("bigint")
    )
    totals = sorted(
        (r["_sb_chunk"], r["t"])
        for r in d.groupBy("_sb_chunk").agg(F.sum("_sb_bytes").alias("t")).collect()
    )
    bases, running = [], 0
    for chunk, t in totals:
        bases.append((chunk, running))
        running += t
    n_packs = max(1, -(-running // target_bytes))
    spark = df.sparkSession
    base_df = local_frame(spark, bases, "_sb_chunk bigint, _sb_base bigint")

    from pyspark.sql import Window

    w = (
        Window.partitionBy("_sb_chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        d.join(F.broadcast(base_df), "_sb_chunk")
        .withColumn(
            "_pack_id",
            F.floor(
                (F.col("_sb_base") + F.sum("_sb_bytes").over(w) - F.col("_sb_bytes"))
                / F.lit(target_bytes)
            ).cast("bigint"),
        )
        .drop("_sb_bytes", "_sb_chunk", "_sb_base")
    )
    return out, int(n_packs)


def size_balanced_repartition(
    df: DataFrame,
    bytes_col,
    order_col: str = "media_id",
    target_bytes: int = 64 << 20,
    chunk_span: int = 1_000_000,
) -> DataFrame:
    """Repartition so tasks carry comparable *byte* loads (blob tables skew
    by size, not rows): one partition per ~``target_bytes`` pack of the
    running cumulative byte estimate (see :func:`size_balanced_pack_ids`).
    Exactly one pack per task, no balls-in-bins collisions: the dense pack
    id maps through :func:`~..plans.lake.exact_partition_rep` — a
    deterministic hash exchange with no range-sampling pass (the sampler
    would re-execute the whole cumsum plan a second time). Beyond the
    mapping's codegen-friendly size, falls back to range partitioning."""
    from ..plans.lake import EXACT_REPARTITION_MAX, exact_partition_rep

    packed, n_packs = size_balanced_pack_ids(
        df, bytes_col, order_col=order_col,
        target_bytes=target_bytes, chunk_span=chunk_span,
    )
    if n_packs <= EXACT_REPARTITION_MAX:
        out = packed.repartition(
            n_packs, exact_partition_rep(F.col("_pack_id"), n_packs))
    else:
        out = packed.repartitionByRange(n_packs, F.col("_pack_id"))
    return out.drop("_pack_id")
