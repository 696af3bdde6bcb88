"""Scale dispatch: the size threshold and force conf route
perplexity_buckets between the global-window ntile and its exactly
equal chunk-parallel twin."""

from __future__ import annotations

import pytest

from poc_spark.plans.dispatch import (
    CHUNK_FORCE_KEY,
    CHUNK_MIN_BYTES_KEY,
    estimated_size_bytes,
    use_chunked,
)
from poc_spark.sources.catalog import load_table


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_threshold_logic(spark, events):
    # tiny input under the default threshold -> global path
    assert not use_chunked(events)
    assert estimated_size_bytes(events) > 0
    # a 1-byte threshold trips the dispatch on the same input
    spark.conf.set(CHUNK_MIN_BYTES_KEY, "1")
    try:
        assert use_chunked(events)
    finally:
        spark.conf.unset(CHUNK_MIN_BYTES_KEY)
    # force overrides the estimate in both directions
    spark.conf.set(CHUNK_FORCE_KEY, "false")
    spark.conf.set(CHUNK_MIN_BYTES_KEY, "1")
    try:
        assert not use_chunked(events)
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
        spark.conf.unset(CHUNK_MIN_BYTES_KEY)
    spark.conf.set(CHUNK_FORCE_KEY, "true")
    try:
        assert use_chunked(events)
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)


def test_perplexity_buckets_self_dispatches(spark, sf_dir):
    """Force-flag flips the CCNet bucketing onto the chunked ntile;
    output must stay bit-equal to the global-window form either way —
    AND the baseline must really take the global path (else this
    compares chunked to chunked vacuously): the global plan carries an
    ntile window, the chunked one a row_number window."""
    from poc_spark.operators.textstats import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = perplexity_buckets(docs)
    base_plan = base._jdf.queryExecution().executedPlan().toString()
    assert "ntile" in base_plan, base_plan  # global path at test scale
    glob = {(r["id"], r["bucket"]) for r in base.collect()}
    spark.conf.set(CHUNK_FORCE_KEY, "true")
    try:
        forced_df = perplexity_buckets(docs)
        forced_plan = forced_df._jdf.queryExecution().executedPlan().toString()
        assert "ntile" not in forced_plan, forced_plan  # chunked path
        forced = {(r["id"], r["bucket"]) for r in forced_df.collect()}
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
    assert forced == glob
