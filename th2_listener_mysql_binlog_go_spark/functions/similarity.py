"""Similarity search over embedding columns (array<float>).

Two paths over ``embeddings(vec_id, embedding, label)``:

- :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
  query set against the corpus, dot products as Catalyst higher-order
  functions (``zip_with`` + ``aggregate`` — sequential fold, deterministic,
  JVM codegen), rank window per query. The corpus side streams: no shuffle
  of the big table except the final per-query top-k (k rows per query per
  partition via window; AQE coalesces). This is the baseline every ANN
  variant is measured against.
- :func:`lsh_topk` — the scale path: random-hyperplane LSH. A seeded
  hyperplane matrix (driver numpy, broadcast) signs each vector into a
  b-bit bucket inside an Arrow-batched pandas UDF; candidates = corpus
  rows sharing a query's bucket (multi-probe over Hamming-1 neighbors for
  recall); exact cosine re-rank only within candidates. Probe cost is
  ~corpus/2^b per query instead of the full corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    """Cosine similarity between two array columns (cast to double first
    for cross-engine determinism)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return (_dot(da, db) / (_norm(da) * _norm(db))).cast("double")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, rank).
    Self-matches excluded; ties broken by neighbor id (deterministic)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    joined = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _signature_udf(dim: int, n_planes: int, seed: int):
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((dim, n_planes)).astype(np.float64)

    @pandas_udf("int")
    def signature(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes) > 0
        out = np.zeros(len(vecs), dtype=np.int32)
        for j in range(n_planes):
            out |= bits[:, j].astype(np.int32) << j
        return pd.Series(out)

    return signature


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets + exact
    re-rank within candidates. Queries probe their own bucket plus all
    Hamming-1 neighbor buckets (multi-probe) for recall.

    Pass ``dim`` explicitly in pipelines — the default probes the corpus
    with a driver-side ``first()`` for convenience."""
    dim = dim if dim is not None else len(corpus.select(vec_col).first()[0])
    sig = _signature_udf(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        sig(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        sig(F.col(vec_col)).alias("qb"),
    )
    if multiprobe:
        probes = F.array(*([F.col("qb")] + [
            F.col("qb").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)
        ]))
        q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    else:
        q = q.withColumnRenamed("qb", "bucket")
    cand = c.join(F.broadcast(q), on=[c.bucket == q.bucket], how="inner").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    ).groupBy("query_id", "neighbor_id").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse k-means quantizer (seeded
    Spark MLlib KMeans — the index *build*) assigns each corpus vector to
    one of ``n_lists`` inverted lists; each query probes its ``n_probe``
    nearest centroids and exact-cosine re-ranks only those lists'
    vectors — probe cost ~ corpus * n_probe / n_lists instead of the full
    corpus.

    Scale shape: the quantizer fits on a sample-sized problem (n_lists
    centroids), assignment is one MLlib transform pass, the centroid
    table broadcasts (n_lists rows), and the candidate join is a hash
    join on list_id — never all-pairs. At 1e9+ vectors raise n_lists so
    lists stay ~1e5-1e6 vectors (the FAISS IVF sizing rule of thumb)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    feat = c.withColumn("features", array_to_vector(F.transform("cv", lambda x: x.cast("double"))))
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter)
    model = km.fit(feat)
    assigned = model.transform(feat).select(
        "neighbor_id", "cv", F.col("prediction").alias("list_id")
    )
    spark = corpus.sparkSession
    cents = local_frame(
        spark,
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "list_id int, cvec array<double>",
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # L2 distance to every centroid (n_lists rows — broadcast), keep n_probe
    qd = q.join(F.broadcast(cents)).select(
        "query_id", "qv", "list_id",
        F.aggregate(
            F.zip_with(F.transform("qv", lambda x: x.cast("double")), F.col("cvec"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("d2"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("list_id").asc())
    probes = qd.withColumn("_pr", F.row_number().over(w)).filter(F.col("_pr") <= n_probe)
    cand = assigned.join(probes.select("query_id", "qv", "list_id"), "list_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _multi_signature_udf(dim: int, n_tables: int, bits_per_table: int, seed: int):
    """One Arrow pass computing every hash table's signature: the
    (dim x n_tables*bits) plane matrix is applied once; bits pack into
    one int per table."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((dim, n_tables * bits_per_table)).astype(np.float64)

    @pandas_udf("array<int>")
    def signatures(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes) > 0  # (n, n_tables * bits_per_table)
        sigs = np.zeros((len(vecs), n_tables), dtype=np.int32)
        for t in range(n_tables):
            for j in range(bits_per_table):
                sigs[:, t] |= bits[:, t * bits_per_table + j].astype(np.int32) << j
        return pd.Series(list(sigs))

    return signatures


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    bits_per_table: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold)
    via *banded multi-table* hyperplane LSH — the embedding-space analogue
    of the MinHash band structure in dedup.minhash_lsh_pairs.

    Scale shape: each of ``n_tables`` hash tables splits the corpus into
    2^bits_per_table buckets; candidate pairs form only *within* a
    (table, bucket) cell, so expected candidates are
    ~n_tables * n^2 / 2^bits — never an all-pairs join (at 12 bits and 4
    tables that's a 1000x cut vs all-pairs). A pair sharing any table's
    bucket survives (OR across tables, recall knob), then exact cosine
    re-scores candidates once (dedup before scoring). Pass ``dim`` in
    pipelines; the default probes with a driver-side ``first()``."""
    dim = dim if dim is not None else len(df.select(vec_col).first()[0])
    sig = _multi_signature_udf(dim, n_tables, bits_per_table, seed)
    ids = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # persist: both sides of the banded self-join read this — without it
    # the Arrow signature pass over every vector runs twice
    buckets = ids.select(
        "id", F.posexplode(sig(F.col("v"))).alias("tbl", "sig")
    ).persist()
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, on=[F.col("a.tbl") == F.col("b.tbl"),
                      F.col("a.sig") == F.col("b.sig"),
                      F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()  # a pair may collide in several tables: score once
    )
    va = ids.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = ids.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    out = (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    # caller releases the pinned bucket blocks via caching.release_cache
    from .caching import tag_cached

    return tag_cached(out, [buckets])
