"""Run every registered query against its DuckDB oracle at sf0.001 —
a local, stricter mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
from tests.parity import assert_frames_match
from tools.oracle_dtype_audit import duck_kind, spark_kind

_ensure_loaded()

WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


def _hash_kind(kind: str) -> str:
    # decimal<->float materializes identically (duckdb .df() maps
    # DECIMAL to float64) — allowed, same rule as tests/parity.py.
    return "float" if kind == "decimal" else kind


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    # Output dtype KIND per column, from DuckDB's DESCRIBE and Spark's
    # schema: the driver hashes stringified values, so an int/float
    # split diverges even on equal values (tools/oracle_dtype_audit.py).
    skinds = {f.name: _hash_kind(spark_kind(f.dataType)) for f in df.schema.fields}
    dkinds = {
        r[0]: _hash_kind(duck_kind(r[1]))
        for r in duck.sql(f"DESCRIBE ({spec.oracle})").fetchall()
    }
    assert skinds == dkinds, f"{name}: output dtype-kind mismatch"
    spark_pdf = df.toPandas()
    oracle_pdf = duck.sql(spec.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
