#!/usr/bin/env python
"""Alternating-order A/B harness for CODE-level toggles (monkeypatches).

Import as a library from an inline driver script:

    from tools.ab_code import ab
    ab(spark, KEYS, set_old, set_new, reps=6)

Within each rep the arm order alternates (old/new, then new/old) so the
~10-15% run-immediately-after warm bias cancels in the median — the same
fix tools/ab_conf.py carries.
"""
from __future__ import annotations

import statistics
import time


def ab(spark, keys, set_old, set_new, reps=6, sf="/root/testdata/sf0.1"):
    from go_batch_processor_spark.registry import REGISTRY

    def run(k):
        t0 = time.perf_counter()
        REGISTRY[k].fn(spark, sf).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    for k in keys:  # warm both arms
        set_old()
        run(k)
        set_new()
        run(k)
    a = {k: [] for k in keys}
    b = {k: [] for k in keys}
    for rep in range(reps):
        for k in keys:
            arms = (
                [(set_old, a), (set_new, b)]
                if rep % 2 == 0
                else [(set_new, b), (set_old, a)]
            )
            for setter, acc in arms:
                setter()
                acc[k].append(run(k))
    ta = tb = 0.0
    print(f"{'key':40s} {'old':>8s} {'new':>8s} {'ratio':>6s}")
    for k in keys:
        ma, mb = statistics.median(a[k]), statistics.median(b[k])
        ta += ma
        tb += mb
        print(f"{k:40s} {ma:8.3f} {mb:8.3f} {mb / ma:6.3f}")
    print(f"{'TOTAL':40s} {ta:8.3f} {tb:8.3f} {tb / ta:6.3f}")
