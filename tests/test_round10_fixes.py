"""Pins for the round-10 ADVICE fixes: the scalar_try_safe RLIKE guard
must be semantics-preserving vs the unguarded cast, and the catalog
row-count cache must evict superseded entries and reject remote paths."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_batch_processor_spark import catalog

# The guard pattern as scalar_try_safe spells it (PySpark expr string
# escaping: \\\\s in source -> \\s in SQL text -> \s in the Java regex).
GUARDED = (
    "try_cast(CASE WHEN s RLIKE '^\\\\s*[+-]?[0-9]+\\\\s*$'"
    " THEN s END AS BIGINT)"
)


def test_try_safe_guard_matches_unguarded_cast(spark):
    """The RLIKE prefilter exists for throughput (try_cast pays a JVM
    exception per failing row) and must be INVISIBLE semantically:
    guarded == unguarded try_cast on every input shape the cast
    accepts or rejects — whitespace-trimmed, '+'-signed, empty, alpha,
    decimal, exponent, overflow (r10 ADVICE: the old '^-?[0-9]+$'
    silently nulled ' 5 ' and '+5')."""
    vals = [
        "5", "+5", "-5", " 5 ", " +5 ", "  -12  ", "\t7\n", "05",
        "", " ", "A", "+", "-", "5.0", "5.7", "1e2", "0x10",
        "99999999999999999999", "9223372036854775807", "-9223372036854775808",
        None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select(
        "s",
        F.expr("try_cast(s AS BIGINT)").alias("plain"),
        F.expr(GUARDED).alias("guarded"),
    ).collect()
    diverged = [(r.s, r.plain, r.guarded) for r in rows if r.plain != r.guarded]
    assert not diverged, diverged


def test_row_count_cache_evicts_superseded_entries(tmp_path):
    """Regenerating a fixture in place must supersede (not accumulate)
    its row-count cache entry, and the count must track the new file."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": list(range(7))}), p)
    assert catalog.table_row_count(str(tmp_path), "orders") == 7
    entries_for_p = [k for k in catalog._ROW_COUNT_CACHE if k[0] == str(p)]
    assert len(entries_for_p) == 1
    # Rewrite in place with a different row count and a NEWER mtime
    # (fs timestamp granularity can otherwise alias the two versions).
    pq.write_table(pa.table({"a": list(range(11))}), p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert catalog.table_row_count(str(tmp_path), "orders") == 11
    entries_for_p = [k for k in catalog._ROW_COUNT_CACHE if k[0] == str(p)]
    assert len(entries_for_p) == 1, "superseded entry not evicted"


def test_row_count_rejects_remote_paths():
    """table_row_count is a local-filesystem fast path; a remote URI
    must fail with the named error, not a confusing os.stat crash."""
    with pytest.raises(AssertionError, match="LOCAL filesystem"):
        catalog.table_row_count("s3://bucket/sf0.1", "orders")


def test_diag_probes_retire_after_green_sample():
    """Retirement policy (r9 verdict item 8): green-sampled diagnostic
    probes order BEHIND every operator key; a red probe rides tier 0."""
    from go_batch_processor_spark import registry

    registry._ensure_loaded()
    order = registry.driver_sample_order(list(registry.REGISTRY))
    n = len(order)
    # Both probes are driver-green as of r09 -> dead last (tier 3).
    assert set(order[-2:]) == {"diag_constant_canary", "diag_km_inputs"}
    # A future red re-promotes to tier 0: simulate by patching history.
    real = registry._driver_check_history

    def fake():
        counts, latest_fail, latest_rows_only = real()
        counts = dict(counts)
        latest_fail = dict(latest_fail)
        counts["diag_km_inputs"] = counts.get("diag_km_inputs", 0) + 1
        latest_fail["diag_km_inputs"] = True
        return counts, latest_fail, latest_rows_only

    registry._driver_check_history = fake
    try:
        order2 = registry.driver_sample_order(list(registry.REGISTRY))
    finally:
        registry._driver_check_history = real
    assert order2.index("diag_km_inputs") == 0
    assert n == len(order2)
