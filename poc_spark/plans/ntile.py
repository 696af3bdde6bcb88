"""Chunk-parallel exact ntile (SURVEY §4.3 discipline) — the scale
path for equal-count quantile bucketing over one global total order.

ntile(n) OVER (ORDER BY ...) is a single-partition window: every row
through one task. But ntile only needs each row's GLOBAL RANK, and a
global rank decomposes over range chunks:

  1. range-chunk on the leading order column (approx quantile bounds;
     ties never straddle a chunk because bucketing is strict `>`);
  2. per-chunk row counts -> driver (<= num_chunks rows), prefix-sum
     them into chunk rank offsets;
  3. row_number WITHIN each chunk (parallel windows) + offset = the
     exact global rank;
  4. map rank -> bucket with SQL ntile's remainder rule (first N mod n
     buckets take one extra row), a pure expression.

Equality with the global window is exact for ANY (N, n) — pinned in
tests/test_plans.py including remainder-heavy shapes — because the
range partition respects the total order and the rank->bucket map IS
the ntile definition, not an approximation of it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _numeric_key(df: DataFrame, key: str):
    """Numeric shadow of the leading order column for approxQuantile /
    range bucketing. Timestamps (LTZ and NTZ — neither casts to double)
    become epoch microseconds; µs fit a double's 53-bit mantissa."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[key].dataType
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" `{key}`) AS DOUBLE)"
        )
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(key)).cast("double")
    return F.col(key).cast("double")


def _range_chunks(
    df: DataFrame, key: str, num_chunks: int
) -> DataFrame:
    """df + `_key_num` (numeric shadow of `key`) + `_chunk` (range
    bucket). Approximate quantile bounds, deduped (a skewed key yields
    duplicate quantiles, which would create guaranteed-empty chunks);
    bucketing is strict `>`, so rows tied on the key can never straddle
    a chunk boundary — the property the per-chunk ranks' exactness
    relies on."""
    keyed = df.withColumn("_key_num", _numeric_key(df, key))
    fractions = [i / num_chunks for i in range(1, num_chunks)]
    raw_bounds = (
        keyed.approxQuantile("_key_num", fractions, 0.001)
        if num_chunks > 1
        else []
    )
    bounds = sorted(set(raw_bounds))
    chunk = F.lit(0)
    for i, b in enumerate(bounds):
        chunk = F.when(F.col("_key_num") > F.lit(b), i + 1).otherwise(chunk)
    return keyed.withColumn("_chunk", chunk)



def ntile_rank_to_bucket(rank, total: int, n_buckets: int):
    """SQL ntile's rank->bucket map: q = N//n rows per bucket, the
    first r = N%n buckets take q+1. Pure integer expression."""
    q, r = divmod(total, n_buckets)
    big_span = r * (q + 1)
    if q == 0:
        # fewer rows than buckets: bucket == rank (SQL ntile semantics)
        return rank.cast("int")
    return (
        F.when(rank <= big_span, F.ceil(rank / F.lit(q + 1)))
        .otherwise(F.lit(r) + F.ceil((rank - F.lit(big_span)) / F.lit(q)))
        .cast("int")
    )


def chunked_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: Sequence[str],
    num_chunks: int = 32,
    bucket_col: str = "bucket_n",
) -> DataFrame:
    """df + `bucket_col` (int 1..n_buckets) == ntile(n_buckets) OVER
    (ORDER BY order_cols ASC) — without a global single-partition
    window. Ascending order only: callers wanting DESC negate the
    leading column (numeric keys negate losslessly; that is what
    textstats.perplexity_buckets does).

    The input lineage is barriered with a lazy localCheckpoint before
    the first action: this plan runs THREE actions over it (the
    approxQuantile bounds job, the per-chunk counts collect, the output
    job), and without the barrier an expensive upstream (the unigram-LM
    scoring in perplexity_buckets) would execute three times (r5
    self-review; the established minhash_lsh_pairs pattern)."""
    bucketed = _range_chunks(
        df.localCheckpoint(eager=False), order_cols[0], num_chunks
    )

    counts = {
        r["_chunk"]: r["cnt"]
        for r in bucketed.groupBy("_chunk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    if total == 0:
        return df.withColumn(bucket_col, F.lit(None).cast("int"))
    offsets, cum = {}, 0
    for c in sorted(counts):
        offsets[c] = cum
        cum += counts[c]

    off = F.lit(0)
    for c, o in offsets.items():
        off = F.when(F.col("_chunk") == c, F.lit(o)).otherwise(off)
    w = Window.partitionBy("_chunk").orderBy(*order_cols)
    rank = off + F.row_number().over(w)
    return (
        bucketed.withColumn(
            bucket_col, ntile_rank_to_bucket(rank, total, n_buckets)
        )
        .drop("_key_num", "_chunk")
    )
