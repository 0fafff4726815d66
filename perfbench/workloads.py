"""The benchmark's workloads: key lists, and the document-cleaning
supplier/processor/finalizer that ``pipeline_docs`` runs through
``BatchPipeline``.

The key list is sized so that its check pass and timed passes fit one
benchmark run; ``perfbench/README.md`` gives the reason for each workload
and the keys left out.
"""

from __future__ import annotations

import threading
import time

import datagen
from engine import write_noop
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The ``queries`` workload: registry keys of three kinds that use the same
# scheduler in opposite ways.
# SQL-shaped keys, 2-8 jobs each: planning, scheduling and shuffle dominate.
SQL_KEYS = [
    "tpch_q5_shape",
    "tpch_q21_shape",
    "join_asof",
    "join_full_outer",
    "window_rank_topn_per_group",
]
# Iterative keys: Spark jobs run eagerly while the DataFrame is built.
ITERATIVE_KEYS = ["graph_k_core"]
# A pandas/Arrow kernel: executor compute in Python workers.
PYTHON_KERNEL_KEYS = ["ml_isolation_forest"]

QUERY_WORKLOADS = {"queries": SQL_KEYS + ITERATIVE_KEYS + PYTHON_KERNEL_KEYS}
PIPELINE_WORKLOAD = "pipeline_docs"
WORKLOADS = (*QUERY_WORKLOADS, PIPELINE_WORKLOAD)

# Generated-table scale of each workload, and the tables it reads.
SCALE = {"queries": 0.01, "pipeline_docs": 0.1}
TABLES = {"queries": datagen.TABLES, "pipeline_docs": ("documents",)}

# Timed passes per run (at least). A run's timings are medians over its
# passes, so one pass slowed by a burst of load elsewhere on the machine
# does not move them; with two passes it moved them by half. A pipeline
# pass is one sample however many batches it has, since its batches share
# one scheduler.
MIN_PASSES = 3

# Keys whose cold cost a cross-sample cache would hide; the self-test
# runs each twice in a row and requires the second sample to stay cold.
COLD_PROBE_KEYS = ("graph_triangle_count", "similarity_opq_codebook")

# Backlog of one pipeline pass: sf0.1 ``documents`` (5,000 rows) in 32
# batches of ~156. Measured on 4 cores with 3 timed passes: 16 batches ran
# 4-5 waves of ~1.2 s; 50 batches kept the per-batch latency (p50 ~1.05 s)
# but made a run 74-84 s; 100 batches made it 128 s. A full measurement
# (48 runs in 3420 s) leaves ~60 s per pipeline run.
PIPELINE_BATCHES = 32
NO_BATCH_SLEEP_MS = 10


def _normalised_text():
    """The document text with trailing " dup" markers stripped."""
    return F.regexp_replace("text", "( dup)+$", "")


def clean_docs(docs: DataFrame) -> DataFrame:
    """Per-document cleaning: word count, a quality filter, and dedup on
    the hash of the normalised text."""
    norm = _normalised_text()
    return (
        docs.withColumn("words", F.size(F.split(norm, " ")))
        .where((F.col("words") >= 10) & (F.col("n_chars") >= 40))
        .withColumn("text_hash", F.sha2(norm, 256))
        .dropDuplicates(["text_hash"])
        .select("doc_id", "lang", "source", "words", "text_hash")
    )


def words_sum():
    return F.coalesce(F.sum("words"), F.lit(0)).alias("words")


def batch_column(seed: int, n_batches: int):
    """Batch number of a document. Copies of one normalised text share a
    batch, so per-batch dedup commits the same rows as whole-table dedup."""
    return F.pmod(F.xxhash64(_normalised_text(), F.lit(seed)), F.lit(n_batches))


class BatchLog:
    """Per-batch timestamps and counters, written by the supplier,
    processor and finalizer threads under one lock."""

    def __init__(self, n_batches: int):
        self.n_batches = n_batches
        self.lock = threading.Lock()
        self.done = threading.Event()
        self.batches: dict[int, dict] = {}
        self.fetch_calls = 0
        self.empty_polls = 0
        self.fetch_s = 0.0
        self.finalized = 0
        self.failed = 0
        self.rows = 0
        self.words = 0

    def record(self, batch_no: int, **fields) -> None:
        with self.lock:
            self.batches.setdefault(batch_no, {}).update(fields)


class BacklogSupplier:
    """Hands out a fixed backlog of document batches in a seeded order,
    then reports an empty source."""

    def __init__(self, docs: DataFrame, order: list[int], seed: int, log: BatchLog):
        self._docs = docs.withColumn("_batch", batch_column(seed, log.n_batches))
        self._order = list(order)
        self._log = log
        self.by_frame: dict[int, int] = {}

    def fetch_next_batch(self) -> DataFrame | None:
        t0 = time.time()
        log = self._log
        with log.lock:
            log.fetch_calls += 1
            batch_no = self._order.pop(0) if self._order else None
            if batch_no is None:
                log.empty_polls += 1
        if batch_no is None:
            return None
        batch = self._docs.where(F.col("_batch") == batch_no).drop("_batch")
        self.by_frame[id(batch)] = batch_no
        t1 = time.time()
        with log.lock:
            log.fetch_s += t1 - t0
        log.record(batch_no, fetch_start=t0, fetched=t1)
        return batch


class CleaningProcessor:
    """Applies ``clean_docs`` to one batch and notes which Spark job group
    the pipeline gave the batch's worker thread."""

    def __init__(self, supplier: BacklogSupplier, log: BatchLog):
        self._supplier = supplier
        self._log = log
        self.by_frame: dict[int, int] = {}

    def process_batch(self, batch: DataFrame) -> DataFrame:
        t0 = time.time()
        batch_no = self._supplier.by_frame.pop(id(batch))
        group = batch.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")
        out = clean_docs(batch)
        self.by_frame[id(out)] = batch_no
        self._log.record(batch_no, process_start=t0, process_end=time.time(), group=group)
        return out


class CommitFinalizer:
    """Commits each processed batch to the noop sink and counts its rows."""

    def __init__(self, processor: CleaningProcessor, log: BatchLog, plan_fn=None):
        self._processor = processor
        self._log = log
        self._plan_fn = plan_fn  # traced runs: seconds the final plan took to plan

    def on_batch_processed(self, processed, error) -> None:
        t0 = time.time()
        log = self._log
        rows = words = 0
        commit_s = plan_s = 0.0
        batch_no = None
        if processed is not None:
            batch_no = self._processor.by_frame.pop(id(processed))
        if error is None:
            try:
                got = write_noop(processed, words_sum())
                rows, words = int(got["rows"]), int(got["words"])
                commit_s = time.time() - t0
                if self._plan_fn is not None:
                    plan_s = self._plan_fn(processed)
            except Exception as exc:  # noqa: BLE001 — counted as a failed batch
                error = exc
        t1 = time.time()
        with log.lock:
            if error is None:
                log.rows += rows
                log.words += words
            else:
                log.failed += 1
            log.finalized += 1
            if log.finalized == log.n_batches:
                log.done.set()
        if batch_no is not None:
            log.record(
                batch_no,
                finalize_start=t0,
                finalized=t1,
                rows=rows,
                commit_s=commit_s,
                plan_s=plan_s,
                error=None if error is None else repr(error),
            )

