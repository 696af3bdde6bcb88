"""Size-threshold dispatch between a global-window ntile and its
chunk-parallel twin.

`ntile(n) OVER (ORDER BY ...)` collapses to a single partition: fine
below ~1M rows, where the chunked form's extra fixed jobs make it
slower, hostile far above. `use_chunked(df)` consults Catalyst's
optimized-plan sizeInBytes estimate (free, no job, filter-selectivity-
aware) against a byte threshold; textstats.perplexity_buckets routes
to the exactly-equal plans/ntile.chunked_ntile when it trips (measured
crossover: NTILE_DEMO.json). Unknown/huge estimates (post-join plans
without stats) dispatch chunked: the safe direction at scale.

The threshold is calibrated on the SCORED documents plan that
perplexity_buckets tiles: ~700 B/doc in Catalyst's estimate at
sf0.01/sf0.1, so 768 MiB ≈ 1.1M documents.

Conf keys:
  spark.poc.ntile.minScoredBytes    estimate threshold (default 768 MiB)
  spark.poc.chunkedWindow.force     "true"/"false" overrides the
                                    estimate entirely (tests; ops)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CHUNK_MIN_BYTES_KEY = "spark.poc.ntile.minScoredBytes"
CHUNK_FORCE_KEY = "spark.poc.chunkedWindow.force"
DEFAULT_MIN_BYTES = 768 * 1024 * 1024


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes. No job runs;
    for parquet scans this is file size scaled by filter selectivity."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def use_chunked(df: DataFrame) -> bool:
    """True when a global-window ntile should take the range-chunked
    scale path for this input."""
    conf = df.sparkSession.conf
    force = conf.get(CHUNK_FORCE_KEY, None)
    if force is not None:
        return force.strip().lower() == "true"
    threshold = int(conf.get(CHUNK_MIN_BYTES_KEY, str(DEFAULT_MIN_BYTES)))
    return estimated_size_bytes(df) >= threshold
