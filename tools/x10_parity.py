#!/usr/bin/env python
"""x10 VALUE-parity sweep: every ORACLED key, both engines, at sf≈1.

The driver's correctness gate compares Spark vs DuckDB at sf0.01 (60k
lineitem rows); tools/x10_drive.py proves every key *completes* at x10
(6M rows). This sweep closes the gap between the two: it runs each
oracled key's Spark plan AND its DuckDB oracle against the scale-harness
x10 dataset and applies tests/parity.assert_frames_match — the same
strict (dtype-kind + bit-exact + zero-sign) comparison the sf0.01 gate
uses — at 100x the driver's data scale.

Failure triage is built in: a strict failure is retried at
float_rtol=1e-9. A key that passes the retry is reported ULP (an
order-dependent double sum whose round(k) guard digits ran out at x10
magnitudes — determinism-ledger class 10, expected to appear ONLY past
the scales the registry claims); a key that fails both is reported FAIL
(a structural divergence — a real bug at scale).

Usage: python tools/x10_parity.py [x10_dir] [--only key1,key2,...]
Writes one line per key; exits 0 iff no FAIL (ULP lines are a report,
not a gate — the registry's oracle-safety claims are sf-bounded).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    x10_dir = args[0] if args else "/tmp/scale_harness/x10"
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))

    import duckdb

    from go_batch_processor_spark.catalog import TABLE_NAMES
    from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
    from go_batch_processor_spark.session import get_spark
    from tests.parity import assert_frames_match

    spark = get_spark(
        app_name="gbp-x10-parity",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    _ensure_loaded()
    con = duckdb.connect()
    # Heavy oracles (graph recursions, all-pairs similarity) spill and
    # parallelize hard at x10: pin the spill off the repo tree, cap the
    # oracle's memory so a runaway plan cannot take the Spark JVM down
    # with it, and leave cores for the concurrently-running Spark side.
    os.makedirs("/tmp/duckdb_tmp", exist_ok=True)
    con.sql("SET temp_directory='/tmp/duckdb_tmp'")
    con.sql("SET memory_limit='24GB'")
    con.sql("SET threads=16")
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{x10_dir}/{t}.parquet'")

    keys = sorted(k for k, s in REGISTRY.items() if s.oracle is not None)
    if only:
        keys = [k for k in keys if k in only]
    hard_fails, ulps, errors = [], [], []
    t_total = time.perf_counter()
    for name in keys:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            spdf = REGISTRY[name].fn(spark, x10_dir).toPandas()
            odf = con.sql(REGISTRY[name].oracle).df()
            try:
                assert_frames_match(spdf, odf, name=name)
                verdict = "ok"
            except AssertionError as strict_err:
                try:
                    assert_frames_match(spdf, odf, name=name, float_rtol=1e-9)
                    verdict = "ULP"
                    ulps.append(name)
                except AssertionError:
                    verdict = "FAIL"
                    hard_fails.append(name)
                    print(f"     detail: {str(strict_err)[:300]}", flush=True)
            dt = time.perf_counter() - t0
            print(f"{verdict} {name} {dt:.2f}s rows={len(spdf)}", flush=True)
        except Exception as exc:  # noqa: BLE001 — survey every key
            errors.append(name)
            print(f"ERROR {name} {repr(exc)[:300]}", flush=True)
    print(
        f"total: {len(keys)} ok: {len(keys) - len(ulps) - len(hard_fails) - len(errors)} "
        f"ulp: {len(ulps)} fail: {len(hard_fails)} error: {len(errors)} "
        f"wall: {time.perf_counter() - t_total:.0f}s",
        flush=True,
    )
    if ulps:
        print("ULP keys: " + ",".join(ulps), flush=True)
    if hard_fails:
        print("FAIL keys: " + ",".join(hard_fails), flush=True)
    if errors:
        print("ERROR keys: " + ",".join(errors), flush=True)
    sys.exit(1 if (hard_fails or errors) else 0)


if __name__ == "__main__":
    main()
