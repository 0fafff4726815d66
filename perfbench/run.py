#!/usr/bin/env python3
"""Cold, per-layer benchmark of the engine's query layers and its
``BatchPipeline`` runtime.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Workloads: ``queries`` (registry keys, each sample on a cold engine, ending
at the noop sink) and ``pipeline_docs`` (document batches through
``BatchPipeline``). Inputs are generated from ``--seed`` under
``.perfbench/``. After an untimed check pass, timed passes repeat until
``--seconds`` have passed and the workload's minimum passes ran; a traced
run (``--trace 1``) adds one pass with the Spark event log on.

Stdout ends with one summary line and one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). Per-key
detail, per-pass totals, set-up samples and spans go to
``.perfbench/<workload>-seed<seed>-trace<trace>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG_DIR = os.path.join(ROOT, "go_batch_processor_spark")

SETUP_SF = 0.001  # scale of the set-up warm-up query
SETUP_SAMPLES = 3
WARMUP_KEY = "agg_groupby_q1"
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"
PIPELINE_TIMEOUT_S = 120.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, help="table scale (default: the workload's; self-tests use 0.001)"
    )
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep every file Spark, the JVMs and Python workers write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, which builds the driver JVM's command.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, os.environ.get("PYTHONPATH", "")]
    )
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    # Each cold sample re-imports the engine package: keep its bytecode
    # (under WORK) so the re-import does not recompile every module.
    sys.pycache_prefix = os.path.join(WORK, "pycache")
    sys.dont_write_bytecode = False


def java_options() -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            # A fixed heap and young generation: peak RSS then follows the
            # heap the work keeps live, not G1's adaptive sizing.
            f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:TieredStopAtLevel=1"
        )
    }


class Runner:
    def __init__(self, args: argparse.Namespace, cores: int):
        import workloads as W
        from engine import Engine

        if args.sf is None:
            args.sf = W.SCALE[args.workload]
        self.args = args
        self.cores = cores
        self.rng = random.Random(args.seed)
        self.data = os.path.join(WORK, f"data-{args.workload}-sf{args.sf}-seed{args.seed}")
        self.setup_data = os.path.join(WORK, f"data-sf{SETUP_SF}-seed{args.seed}")
        self.log_dir = os.path.join(WORK, f"eventlog-{args.workload}-seed{args.seed}")
        self.engine = Engine(cores, WORK)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "settings": {
                "master": f"local[{cores}]",
                "sf": args.sf,
                "setup_sf": SETUP_SF,
                "max_workers": cores,
                "driver_memory": DRIVER_MEM,
            },
        }

    # ---- inputs and set-up -------------------------------------------------

    def generate(self) -> None:
        import datagen
        import workloads as W

        shutil.rmtree(self.data, ignore_errors=True)
        shutil.rmtree(self.setup_data, ignore_errors=True)
        datagen.write_tables(self.data, self.args.sf, self.args.seed, W.TABLES[self.args.workload])
        datagen.write_tables(self.setup_data, SETUP_SF, self.args.seed)
        shutil.rmtree(self.log_dir, ignore_errors=True)
        os.makedirs(self.log_dir)

    def cleanup(self) -> None:
        """Remove the run's tables and event log; the detail file stays."""
        for path in (self.data, self.setup_data, self.log_dir):
            shutil.rmtree(path, ignore_errors=True)

    def setup(self) -> dict[str, float]:
        """One set-up: fresh SparkContext and engine package, registry
        load, and one warm-up query at SETUP_SF."""
        t0 = time.perf_counter()
        parts = self.engine.fresh(java_options())
        w0 = time.perf_counter()
        self.engine.run_key(WARMUP_KEY, self.setup_data, "setup")
        end = time.perf_counter()
        return {**parts, "warmup_s": end - w0, "setup_s": end - t0}

    def run_setups(self) -> dict[str, float]:
        launch = self.setup()  # includes starting the JVM
        samples = [self.setup() for _ in range(SETUP_SAMPLES)]
        self.detail["setup"] = {"jvm_launch_sample": launch, "samples": samples}
        return {k: statistics.median(s[k] for s in samples) for k in samples[0]}

    def fail(self, what: str, count: int = 1) -> None:
        """Count ``count`` failed key runs or batches, described by ``what``."""
        self.failed += count
        self.failures.append(what)

    def conf_for(self, traced: bool) -> dict[str, str]:
        from engine import event_log_conf

        return event_log_conf(self.log_dir) if traced else {}

    def passes(self, min_plain: int):
        """Yield (pass number, traced) until the run's time is used and at
        least ``min_plain`` untraced passes ran. In a traced run pass 1 is
        the one traced pass, bracketed by untraced passes so the JIT's
        warm-up trend does not read as tracing overhead."""
        deadline = time.perf_counter() + self.args.seconds
        min_passes = max(min_plain, 2) + 1 if self.args.trace else min_plain
        n = 0
        while n < min_passes or time.perf_counter() < deadline:
            yield n, bool(self.args.trace) and n == 1
            n += 1

    # ---- query workloads -----------------------------------------------------

    def check_queries(self, keys: list[str]) -> dict[str, int]:
        """Untimed check pass: run every key once, collect its output and
        compare it with the key's DuckDB oracle (when it has one). Returns
        the row count each key must give in every timed sample. The pass
        also brings the JVM's JIT to the state later passes run in."""
        import duckdb

        from tests.parity import assert_frames_match

        duck = duckdb.connect()
        for name in os.listdir(self.data):
            table = name.removesuffix(".parquet")
            duck.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.data}/{name}'")
        self.engine.fresh()
        expected = {}
        check_s = self.detail.setdefault("check_s", {})
        for key in self.rng.sample(keys, len(keys)):
            self.attempted += 1
            spec = self.engine.registry.REGISTRY[key]
            try:
                t0 = time.perf_counter()
                got = spec.fn(self.engine.spark, self.data).toPandas()
                t1 = time.perf_counter()
                if spec.oracle is not None:
                    assert_frames_match(got, duck.sql(spec.oracle).df(), name=key)
                check_s[key] = {"engine": t1 - t0, "oracle": time.perf_counter() - t1}
            except Exception as exc:  # noqa: BLE001 — a wrong answer is a failure
                self.fail(f"{key}: {exc!r}"[:300])
                continue
            expected[key] = len(got)
        duck.close()
        return expected

    def run_queries(self, keys: list[str]) -> tuple[dict, dict]:
        import workloads as W
        from engine import plan_phases_s, reset_peak_rss
        from layers import Span, percentile

        expected_rows = self.check_queries(keys)
        # The oracle check's DuckDB tables and collected frames are the
        # harness's, not the engine's: the peak RSS starts after them.
        reset_peak_rss()
        keys = [k for k in keys if k in expected_rows]
        passes = []
        for n, traced in self.passes(W.MIN_PASSES):
            order = self.rng.sample(keys, len(keys))
            samples, spans, plan_s, reset_s = [], [], 0.0, 0.0
            p0 = time.perf_counter()
            for key in order:
                reset_s += sum(self.engine.fresh(self.conf_for(traced)).values())
                group = f"p{n}-{key}"
                self.attempted += 1
                try:
                    s = self.engine.run_key(key, self.data, group)
                except Exception as exc:  # noqa: BLE001 — counted, run goes on
                    self.fail(f"{key}: {exc!r}"[:300])
                    continue
                if s.rows != expected_rows[key]:
                    self.fail(f"{key}: {s.rows} rows, expected {expected_rows[key]}")
                    continue
                if traced:
                    plan_s += plan_phases_s(s.df)
                    spans += [
                        Span("key.sample", group, s.start, s.end),
                        Span("registry.build", group, s.start, s.build_end, "key.sample"),
                        Span("sink.write", group, s.build_end, s.end, "key.sample"),
                    ]
                s.df = None
                samples.append(s)
            passes.append(
                {
                    "traced": traced,
                    "pass_s": sum(s.wall_s for s in samples),
                    "cpu_s": sum(s.cpu_s for s in samples),
                    "reset_s": reset_s,
                    "pass_wall_s": time.perf_counter() - p0,
                    "keys": {
                        s.key: {
                            "wall_s": s.wall_s,
                            "build_s": s.build_s,
                            "write_s": s.write_s,
                            "rows": s.rows,
                            "cpu_s": s.cpu_s,
                        }
                        for s in samples
                    },
                    "_samples": samples,
                    "_spans": spans,
                    "_plan_s": plan_s,
                }
            )
        plain = [p for p in passes if not p["traced"]]
        per_key = {
            k: statistics.median(p["keys"][k]["wall_s"] for p in plain if k in p["keys"])
            for k in keys
            if any(k in p["keys"] for p in plain)
        }
        e2e = {
            "pass_s": statistics.median(p["pass_s"] for p in plain),
            "item_geomean_s": statistics.geometric_mean(per_key.values()),
            "item_p90_s": percentile(
                [k["wall_s"] for p in plain for k in p["keys"].values()], 90
            ),
            "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        }
        layer = {}
        if self.args.trace:
            layer = self.query_layers(passes, e2e["pass_s"])
        for p in passes:
            del p["_samples"], p["_spans"], p["_plan_s"]
        self.detail["passes"] = passes
        self.detail["per_key_median_wall_s"] = per_key
        return e2e, layer

    def query_layers(self, passes: list[dict], plain_pass_s: float) -> dict:
        from layers import covered_s, group_totals, job_spans, read_event_logs, set_self_times

        groups = read_event_logs(self.log_dir)
        traced = [p for p in passes if p["traced"]]
        rows = []
        all_spans = []
        for p in traced:
            samples = p["_samples"]
            stats = [groups[s.group] for s in samples if s.group in groups]
            spans = list(p["_spans"])
            build_jobs = 0
            driver_only = 0.0
            for s in samples:
                st = groups.get(s.group)
                jobs = st.jobs if st else []
                build_jobs += sum(1 for _, a, _ in jobs if s.start <= a <= s.build_end)
                driver_only += s.wall_s - covered_s([(a, b) for _, a, b in jobs], s.start, s.end)
                if st:
                    parents = [x for x in p["_spans"] if x.sample == s.group and x.parent]
                    spans += job_spans(s.group, st, parents)
            set_self_times(spans)
            all_spans += spans
            rows.append(
                {
                    "registry.build_s": sum(s.build_s for s in samples),
                    "registry.build_jobs": float(build_jobs),
                    "sink.write_s": sum(s.write_s for s in samples),
                    "spark.plan_s": p["_plan_s"],
                    **group_totals(stats),
                    "driver.only_s": driver_only,
                    "driver.py_cpu_s": sum(s.py_cpu_s for s in samples),
                    "trace.overhead_s": p["pass_s"] - plain_pass_s,
                }
            )
        self.detail["spans"] = [vars(s) for s in all_spans]
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}

    # ---- pipeline workload ---------------------------------------------------

    def run_pipeline(self) -> tuple[dict, dict]:
        import workloads as W
        from engine import reset_peak_rss
        from layers import percentile

        n_batches = W.PIPELINE_BATCHES
        self.engine.fresh()
        expected = self.whole_table_clean()

        def checked_pass(n: int, traced: bool, n_batches: int = n_batches) -> dict:
            self.engine.fresh(self.conf_for(traced))
            res = self.pipeline_pass(n_batches, traced)
            self.attempted += n_batches
            if res["failed"]:
                self.fail(f"pass {n}: {res['failed']} batches failed", res["failed"])
            elif (res["rows"], res["words"]) != expected:
                self.fail(f"pass {n}: committed {res['rows'], res['words']}, expected {expected}")
            return res

        # An untimed warm-up pass takes the steep start of the JIT's
        # warm-up trend, as the check pass does for the query workloads.
        checked_pass(-1, False, W.PIPELINE_BATCHES // 2)
        reset_peak_rss()
        passes = [checked_pass(n, traced) for n, traced in self.passes(W.MIN_PASSES)]
        plain = [p for p in passes if not p["traced"]]
        e2e = {
            "pass_s": statistics.median(p["pass_s"] for p in plain),
            "item_geomean_s": statistics.median(
                statistics.geometric_mean(p["latencies"]) for p in plain
            ),
            "item_p90_s": percentile([v for p in plain for v in p["latencies"]], 90),
            "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        }
        layer = {}
        if self.args.trace:
            layer = self.pipeline_layers(passes, plain, n_batches)
        for p in passes:
            del p["_batches"]
        self.detail["passes"] = passes
        return e2e, layer

    def build_pipeline(self, n_batches: int, traced: bool):
        import importlib

        import workloads as W
        from engine import PKG, plan_phases_s

        spark = self.engine.spark
        docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        order = self.rng.sample(range(n_batches), n_batches)
        log = W.BatchLog(n_batches)
        supplier = W.BacklogSupplier(docs, order, self.args.seed, log)
        processor = W.CleaningProcessor(supplier, log)
        finalizer = W.CommitFinalizer(processor, log, plan_phases_s if traced else None)
        bp = importlib.import_module(PKG + ".pipeline.batch_pipeline")
        pipe = (
            bp.BatchPipeline(self.cores, supplier, processor)
            .with_finalizer(finalizer)
            .with_no_batch_sleep_interval_ms(W.NO_BATCH_SLEEP_MS)
        )
        return pipe, supplier, processor, finalizer, log

    def pipeline_pass(self, n_batches: int, traced: bool) -> dict:
        from engine import tree_cpu_s

        pipe, _, _, _, log = self.build_pipeline(n_batches, traced)
        cpu0, py0 = tree_cpu_s(), time.process_time()
        start = time.time()
        pipe.start()
        finished = log.done.wait(PIPELINE_TIMEOUT_S)
        pipe.stop()
        cpu1, py1 = tree_cpu_s(), time.process_time()
        batches = log.batches
        done = [b for b in batches.values() if "finalized" in b and not b.get("error")]
        end = max((b["finalized"] for b in done), default=time.time())
        return {
            "traced": traced,
            "pass_s": end - start,
            "start": start,
            "cpu_s": cpu1 - cpu0,
            "py_cpu_s": py1 - py0,
            "latencies": [b["finalized"] - b["fetched"] for b in done],
            "rows": log.rows,
            "words": log.words,
            "failed": log.failed + (0 if finished else n_batches - log.finalized),
            "fetch_calls": log.fetch_calls,
            "empty_polls": log.empty_polls,
            "fetch_s": log.fetch_s,
            "_batches": batches,
        }

    def whole_table_clean(self) -> tuple[int, int]:
        """Untimed reference: the cleaning transform over the whole table."""
        import workloads as W
        from engine import write_noop

        docs = self.engine.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        got = write_noop(W.clean_docs(docs), W.words_sum())
        return int(got["rows"]), int(got["words"])

    def direct_batches_per_s(self, n_batches: int) -> float:
        """The same supplier, processor and finalizer called serially,
        with no pipeline: the single-threaded baseline."""
        self.engine.fresh()
        _, supplier, processor, finalizer, log = self.build_pipeline(n_batches, False)
        start = time.time()
        while (batch := supplier.fetch_next_batch()) is not None:
            finalizer.on_batch_processed(processor.process_batch(batch), None)
        wall = time.time() - start
        self.attempted += n_batches
        if log.failed:
            self.fail(f"direct baseline: {log.failed} batches failed", log.failed)
        return n_batches / wall

    def pipeline_layers(self, passes: list[dict], plain: list[dict], n_batches: int) -> dict:
        from layers import (
            Span,
            covered_s,
            group_totals,
            job_spans,
            percentile,
            read_event_logs,
            set_self_times,
        )

        groups = read_event_logs(self.log_dir)
        rows, all_spans = [], []
        for p in (x for x in passes if x["traced"]):
            batches = [b for b in p["_batches"].values() if "finalized" in b]
            stats = [groups[b["group"]] for b in batches if b.get("group") in groups]
            spans = []
            for no, b in p["_batches"].items():
                if "finalized" not in b:
                    continue
                sid = f"batch-{no}"
                own = [
                    Span(f"pipeline.{stage}", sid, b[a], b[z], "pipeline.batch")
                    for stage, a, z in (
                        ("fetch", "fetch_start", "fetched"),
                        ("process", "process_start", "process_end"),
                        ("finalize", "finalize_start", "finalized"),
                    )
                ]
                spans += [Span("pipeline.batch", sid, b["fetch_start"], b["finalized"]), *own]
                if b.get("group") in groups:
                    spans += job_spans(sid, groups[b["group"]], own[2:])
            set_self_times(spans)
            all_spans += spans
            end = p["start"] + p["pass_s"]
            all_jobs = [(a, c) for st in stats for _, a, c in st.jobs]
            gaps = [b["process_start"] - b["fetched"] for b in batches]
            rows.append(
                {
                    "registry.build_s": 0.0,
                    "registry.build_jobs": 0.0,
                    "sink.write_s": sum(b["commit_s"] for b in batches),
                    "spark.plan_s": sum(b["plan_s"] for b in batches),
                    **group_totals(stats),
                    "driver.only_s": p["pass_s"] - covered_s(all_jobs, p["start"], end),
                    "driver.py_cpu_s": p["py_cpu_s"],
                    "pipeline.fetch_s": p["fetch_s"],
                    "pipeline.fetch_calls": float(p["fetch_calls"]),
                    "pipeline.empty_polls": float(p["empty_polls"]),
                    "pipeline.dispatch_gap_p50_s": percentile(gaps, 50),
                    "pipeline.dispatch_gap_p99_s": percentile(gaps, 99),
                    "pipeline.process_s": sum(
                        b["process_end"] - b["process_start"] for b in batches
                    ),
                    "pipeline.finalize_s": sum(
                        b["finalized"] - b["finalize_start"] for b in batches
                    ),
                    "pipeline.in_flight_mean": sum(b["finalized"] - b["fetched"] for b in batches)
                    / p["pass_s"],
                    "trace.overhead_s": p["pass_s"] - statistics.median(x["pass_s"] for x in plain),
                }
            )
        self.detail["spans"] = [vars(s) for s in all_spans]
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        lat = [v for p in plain for v in p["latencies"]]
        out["pipeline.batches_per_s"] = statistics.median(n_batches / p["pass_s"] for p in plain)
        out["pipeline.batch_latency_p50_s"] = percentile(lat, 50)
        out["pipeline.batch_latency_p99_s"] = percentile(lat, 99)
        out["pipeline.direct_batches_per_s"] = self.direct_batches_per_s(n_batches)
        return out


E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "item_geomean_s": "s",
    "item_p90_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "warmup_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "sink.write_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sched_delay_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "python.bytes_sent": "bytes",
    "python.rows_received": "count",
    "scan.input_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "driver.only_s": "s",
    "driver.py_cpu_s": "s",
    "pipeline.fetch_s": "s",
    "pipeline.fetch_calls": "count",
    "pipeline.empty_polls": "count",
    "pipeline.dispatch_gap_p50_s": "s",
    "pipeline.dispatch_gap_p99_s": "s",
    "pipeline.process_s": "s",
    "pipeline.finalize_s": "s",
    "pipeline.in_flight_mean": "ratio",
    "pipeline.batches_per_s": "1/s",
    "pipeline.batch_latency_p50_s": "s",
    "pipeline.batch_latency_p99_s": "s",
    "pipeline.direct_batches_per_s": "1/s",
    "trace.overhead_s": "s",
}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    prepare_env()
    import workloads as W
    from engine import peak_rss_mb

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    runner = Runner(args, cores)
    try:
        t0 = time.perf_counter()
        runner.generate()
        t1 = time.perf_counter()
        setup = runner.run_setups()
        t2 = time.perf_counter()
        if args.workload == W.PIPELINE_WORKLOAD:
            e2e, layer = runner.run_pipeline()
        else:
            e2e, layer = runner.run_queries(W.QUERY_WORKLOADS[args.workload])
        rss = peak_rss_mb()
        runner.detail["phases_s"] = {
            "generate": t1 - t0,
            "setup": t2 - t1,
            "measure": time.perf_counter() - t2,
        }
    finally:
        runner.engine.stop()
        runner.cleanup()
    e2e = {"setup_s": setup["setup_s"], **e2e, "peak_rss_mb": rss}
    layer.update(
        {
            "session.get_spark_s": setup["get_spark_s"],
            "registry.load_s": setup["load_s"],
            "warmup_s": setup["warmup_s"],
        }
    )
    failed = runner.failed
    attempted = max(runner.attempted, 1)
    runner.detail.update(
        {"end_to_end": e2e, "per_layer": layer, "failures": runner.failures}
    )
    detail_path = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as fh:
        json.dump(runner.detail, fh, indent=1, default=str)

    if args.trace:
        shown = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER_UNITS.items()}
    else:
        shown = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    summary = " ".join(f"{k}={v:.4g}" for k, v in e2e.items())
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"{summary} error_rate={failed}/{attempted}"
    )
    for f in runner.failures[:3]:
        print(f"perfbench FAIL {f}"[:200])
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in shown.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
