#!/usr/bin/env python
"""x10 completion drive: run EVERY registered key once against the
scale-harness x10 dataset (sf≈1: 6M lineitem / 1M events / 50k docs /
20k vectors, FK-consistent replication — tools/scale_harness.py).

Correctness at x10 has no oracle (DuckDB would need the same synthetic
inputs and the driver gate already covers sf0.01 values); this drive is
the ROBUSTNESS complement to SCALE_MEASURED.md's timing curves: no key
may crash, OOM, overflow a guard, or hang at 10x the largest data it
was developed against. Failures print one FAIL line each; exit 0 iff
all keys completed.

Usage: python tools/x10_drive.py [x10_dir]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    x10_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_harness/x10"
    if not os.path.isdir(x10_dir):
        from tools.scale_harness import synthesize

        synthesize(10, x10_dir)

    from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
    from go_batch_processor_spark.session import get_spark

    spark = get_spark(
        app_name="gbp-x10-drive",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    _ensure_loaded()
    fails = []
    t_total = time.perf_counter()
    for i, name in enumerate(sorted(REGISTRY)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            REGISTRY[name].fn(spark, x10_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            print(f"ok {name} {dt:.2f}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — survey every key
            fails.append(name)
            print(f"FAIL {name} {repr(exc)[:300]}", flush=True)
    print(
        f"total: {len(REGISTRY)} fails: {len(fails)} "
        f"wall: {time.perf_counter() - t_total:.0f}s",
        flush=True,
    )
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
