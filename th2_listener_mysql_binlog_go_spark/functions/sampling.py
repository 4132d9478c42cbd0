"""Deterministic corpus splitting and domain-mixture sampling.

The two sampling operations a training-data pipeline runs after curation
(dedup/quality — `functions/dedup.py`, `functions/text.py`):

- **held-out splits**: assign every document to train/val/test by a
  deterministic hash of its id — stable across reruns, cluster sizes,
  and row order (Spark's ``sampleBy``/``randomSplit`` are neither exact
  nor reproducible across partitionings);
- **mixture sampling**: downsample each domain (language, source, ...)
  toward target proportions under a row budget — the static data-mixing
  step (DoReMi-style weights are an input here, not computed here).

Both use the same primitive: ``u = int(first 8 hex chars of
md5(id|seed), 16)`` is uniform on [0, 2^32); comparing it against
integer-derived thresholds keeps every decision EXACT and recomputable
in plain SQL (md5 + integer arithmetic only — the repo's
oracle-portability rule: Spark ``conv(hex,16,10)`` ==
DuckDB ``('0x'||hex)::BIGINT``), so the driver's DuckDB gate can replay
the whole assignment bit-for-bit. All thresholds are integer arithmetic
(no float rounding drift between engines); weights are integers
(ratios), not floats.

Scale shape: ``deterministic_split`` is a pure narrow projection (zero
shuffles, zero Python — whole-stage codegen). ``mixture_sample`` runs
ONE aggregate over the domain column (O(domains) rows to the driver,
domains are few by construction) and one broadcast join of the tiny
threshold table back onto the corpus — no key shuffle of the corpus
itself, no sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

_HASH_SPACE = 1 << 32  # 8 hex chars


def _hash_u32(id_col, seed: int):
    """``int(md5(id|seed)[:8], 16)`` — uniform on [0, 2^32), exactly
    reproducible in any SQL engine with md5() and hex parsing."""
    hx = F.substring(
        F.md5(F.concat_ws("|", id_col.cast("string"), F.lit(str(seed)))),
        1, 8)
    return F.conv(hx, 16, 10).cast("bigint")


def split_thresholds(weights: dict[str, int]) -> list[tuple[str, int]]:
    """``[(split_name, upper_threshold)]`` with cumulative-integer
    thresholds: split i owns hashes in [t_{i-1}, t_i), the last
    threshold is exactly 2^32 (the remainder absorbs integer rounding).
    Pure integer arithmetic — ``(2^32 * cum_i) // total`` — so an oracle
    recomputes the exact same boundaries."""
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {k: v for k, v in weights.items()
           if not isinstance(v, int) or v <= 0}
    if bad:
        raise ValueError(
            f"weights must be positive integers (exactness — no float "
            f"rounding drift between engines): {bad}")
    total = sum(weights.values())
    out, cum = [], 0
    for name, w in weights.items():
        cum += w
        out.append((name, (cum * _HASH_SPACE) // total))
    return out


def deterministic_split(df: DataFrame, id_col: str,
                        weights: dict[str, int], seed: int = 0,
                        split_col: str = "split") -> DataFrame:
    """Assign every row a split label by hash threshold — exact,
    order-independent, stable under repartitioning and reruns.

    ``weights`` are integer ratios in insertion order (e.g.
    ``{"train": 98, "val": 1, "test": 1}``); expected split sizes are
    proportional, actual membership is the deterministic hash decision
    per id (equal ids always co-assign — the property held-out splits
    need: a doc's revisions or surviving near-dups keyed by the same id
    can never straddle train/test by reordering). Zero shuffles: one
    codegen'd projection."""
    ths = split_thresholds(weights)
    h = _hash_u32(F.col(id_col), seed)
    # forward WHEN chain: first threshold the hash is under wins; the
    # last split takes the remainder
    expr = None
    for name, hi in ths[:-1]:
        cond = h < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(ths[-1][0]) if expr is None else expr.otherwise(F.lit(ths[-1][0]))
    return df.withColumn(split_col, expr)


def mixture_sample(df: DataFrame, domain_col: str, id_col: str,
                   target_weights: dict[str, int], budget_rows: int,
                   seed: int = 0) -> DataFrame:
    """Downsample toward target domain proportions under a row budget.

    Domain d's desired size is ``budget_rows * w_d / total_w``; its
    acceptance threshold is ``min(2^32, (budget*w_d*2^32) //
    (total_w*count_d))`` — INTEGER arithmetic end-to-end, so the same
    numbers fall out of a SQL recompute. A domain smaller than its
    target keeps every row (hash sampling cannot upsample — disclosed,
    not hidden: re-weight or repeat epochs downstream). Domains absent
    from ``target_weights`` are dropped. Expected output size is ~budget
    (Bernoulli-by-hash, not exact-k: deterministic in WHICH rows, not in
    how many — the property the oracle gate checks).

    Plan: one count aggregate (O(domains) to the driver), one broadcast
    join of the per-domain threshold table, one filter — the corpus is
    never key-shuffled."""
    if budget_rows <= 0:
        raise ValueError("budget_rows must be positive")
    split_thresholds(target_weights)  # reuse its weight validation
    total_w = sum(target_weights.values())
    counts = {r["d"]: r["n"] for r in
              df.filter(F.col(domain_col).isin(list(target_weights)))
              .groupBy(F.col(domain_col).alias("d"))
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = []
    for d, w in target_weights.items():
        n = counts.get(d, 0)
        if n == 0:
            continue
        t = min(_HASH_SPACE, (budget_rows * w * _HASH_SPACE) // (total_w * n))
        rows.append((d, t))
    if not rows:
        return df.filter(F.lit(False))
    th = local_frame(df.sparkSession, rows, f"{domain_col} string, _th bigint")
    h = _hash_u32(F.col(id_col), seed)
    return (df.join(F.broadcast(th), domain_col)
            .filter(h < F.col("_th"))
            .drop("_th"))
