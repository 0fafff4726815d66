"""Results track the data under a path, not an earlier version of it.

Each case runs a key whose plan comes from a builder shared with sibling
keys, rewrites one input table under the same path to its first half of
rows, runs the key again in the same Spark session, and requires the
second answer to match DuckDB over the rewritten files. A builder that
memoised its frame across calls (keyed on the path) would return the
first answer here.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

from go_batch_processor_spark.catalog import TABLE_NAMES
from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
from tests.parity import assert_frames_match

_ensure_loaded()


@pytest.mark.parametrize(
    "name, table",
    [
        ("graph_triangle_count", "lineitem"),  # _triangle_census
        ("graph_closeness_landmarks", "events"),  # _pivot_distances
        ("timeseries_matrix_profile", "events"),  # _mp_dists
        ("text_pmi_collocations", "documents"),  # _corpus_bigrams
    ],
)
def test_rerun_after_rewrite_matches_oracle(spark, sf_dir, tmp_path, name, table):
    for t in TABLE_NAMES:
        # copyfile, not copy: the fixtures are read-only and the rewrite
        # below needs a writable file.
        shutil.copyfile(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    data_dir = str(tmp_path)
    spec = REGISTRY[name]
    spec.fn(spark, data_dir).toPandas()

    path = os.path.join(data_dir, f"{table}.parquet")
    full = pq.read_table(path)
    pq.write_table(full.slice(0, full.num_rows // 2), path)

    with duckdb.connect() as con:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        oracle_pdf = con.sql(spec.oracle).df()
    assert_frames_match(spec.fn(spark, data_dir).toPandas(), oracle_pdf, name=name)
