#!/usr/bin/env python3
"""Cold-sample probe: runs each key of ``workloads.COLD_PROBE_KEYS`` twice
in a row through the harness, each sample on a cold engine, and prints
the two wall times of each key as one JSON line.

    python3 perfbench/coldprobe.py

A cache the harness fails to clear would serve the second sample, making
it many times faster than the first. ``selftest.py`` runs this in a
process of its own.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    run.prepare_env()
    import datagen
    import workloads as W
    from engine import Engine

    data = {}
    for name, sf in (("main", W.SCALE["queries"]), ("small", run.SETUP_SF)):
        data[name] = os.path.join(run.WORK, f"coldprobe-data-{name}")
        datagen.write_tables(data[name], sf, seed=1)
    eng = Engine(cores=len(os.sched_getaffinity(0)), work_dir=run.WORK)
    walls: dict[str, list[float]] = {}
    try:
        eng.fresh(run.java_options())
        for key in W.COLD_PROBE_KEYS:
            # Warm the JVM's JIT on other tables, so that a cache the
            # harness fails to clear would serve only the second sample.
            eng.fresh()
            eng.run_key(key, data["small"], "jit-warm-up")
            walls[key] = []
            for i in range(2):
                eng.fresh()
                walls[key].append(eng.run_key(key, data["main"], f"cold-{i}").wall_s)
    finally:
        eng.stop()
    print(json.dumps(walls))
    return 0


if __name__ == "__main__":
    sys.exit(main())
