"""dist_rank.distributed_row_number == the single-task global window it
replaces (exactness contract for the round-5 straggler fix), plus plan
shape: the row_number window must be hash-partitioned on the bucket
column, never SinglePartition."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from go_batch_processor_spark.dist_rank import distributed_row_number


def _events_per_user(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id").agg(F.sum("value").alias("x"))


def test_asc_matches_global_window(spark, sf_dir):
    df = _events_per_user(spark, sf_dir)
    got, n = distributed_row_number(
        df, "x", [F.col("x").asc(), F.col("user_id").asc()], "rn", nbuckets=8
    )
    w = Window.partitionBy().orderBy(F.col("x").asc(), F.col("user_id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert n == df.count()
    g = {r["user_id"]: r["rn"] for r in got.collect()}
    e = {r["user_id"]: r["rn"] for r in want.collect()}
    assert g == e


def test_desc_matches_global_window_with_ties(spark, sf_dir):
    # Integer key with heavy ties (event counts), descending order.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    got, n = distributed_row_number(
        df, "k", [F.col("k").desc(), F.col("user_id").asc()], "rn",
        descending=True, nbuckets=8,
    )
    w = Window.partitionBy().orderBy(F.col("k").desc(), F.col("user_id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    g = {r["user_id"]: r["rn"] for r in got.collect()}
    e = {r["user_id"]: r["rn"] for r in want.collect()}
    assert g == e and n == len(e)


def test_constant_key_degenerates_to_one_bucket(spark, sf_dir):
    df = _events_per_user(spark, sf_dir).withColumn("x", F.lit(1.0))
    got, n = distributed_row_number(
        df, "x", [F.col("x").asc(), F.col("user_id").asc()], "rn", nbuckets=8
    )
    rns = sorted(r["rn"] for r in got.collect())
    assert rns == list(range(1, n + 1))


def test_plan_has_no_single_partition_window(spark, sf_dir):
    df = _events_per_user(spark, sf_dir)
    got, _ = distributed_row_number(
        df, "x", [F.col("x").asc(), F.col("user_id").asc()], "rn", nbuckets=8
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bkt" in plan
    assert "SinglePartition" not in plan


def test_group_cumsum_matches_window(spark, sf_dir):
    """distributed_group_cumsum == the per-group cumulative window it
    replaces (the stats_spearman_corr price-marginal scale path)."""
    from go_batch_processor_spark.dist_rank import distributed_group_cumsum
    from go_batch_processor_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    got = distributed_group_cumsum(
        pm, "l_returnflag", "l_extendedprice", "c", "cum", nbuckets=8
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    want = pm.withColumn("cum", F.sum("c").over(w))
    g = {
        (r["l_returnflag"], r["l_extendedprice"]): r["cum"]
        for r in got.collect()
    }
    e = {
        (r["l_returnflag"], r["l_extendedprice"]): r["cum"]
        for r in want.collect()
    }
    assert g == e and len(g) > 0


def test_group_cumsum_plan_is_bucket_parallel(spark, sf_dir):
    from go_batch_processor_spark.dist_rank import distributed_group_cumsum
    from go_batch_processor_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    got = distributed_group_cumsum(
        pm, "l_returnflag", "l_extendedprice", "c", "cum", nbuckets=8
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__bkt" in plan
    assert "SinglePartition" not in plan


def _nan_ranks(spark, descending):
    """Distributed and single-task window ranks of the same NaN-keyed frame."""
    rows = [(i, float(i % 7)) for i in range(200)] + [
        (1000 + i, float("nan")) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id long, x double")
    x = F.col("x").desc() if descending else F.col("x").asc()
    got, n = distributed_row_number(
        df, "x", [x, F.col("id").asc()], "rn", descending=descending, nbuckets=8
    )
    w = Window.partitionBy().orderBy(x, F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    g = {r["id"]: r["rn"] for r in got.collect()}
    e = {r["id"]: r["rn"] for r in want.collect()}
    assert n == len(e)
    return g, e


def test_nan_keys_and_nan_bounds_still_rank_exactly(spark):
    # r14 (ADVICE): approxQuantile can return NaN boundaries when the key
    # column contains NaN; bounds are NaN-filtered before the CASE chain.
    # Spark orders NaN greatest, so NaN > b holds for every bound: NaN
    # keys land in the last bucket ascending, and the rank stays a
    # permutation that matches the single-task global window (NaN sorts
    # LAST asc in both the window and the bucketed sort).
    g, e = _nan_ranks(spark, descending=False)
    assert g == e


def test_nan_keys_and_nan_bounds_still_rank_exactly_descending(spark):
    # Descending, NaN > b puts NaN keys in bucket 0, and they rank FIRST,
    # as in the single-task descending window.
    g, e = _nan_ranks(spark, descending=True)
    assert g == e
    assert {e[1000 + i] for i in range(20)} == set(range(1, 21))


def test_backtick_column_name_is_escaped(spark):
    # approxQuantile rejects backtick-bearing names upstream, so the full
    # two-pass path can never see one — but _bucket_expr interpolates the
    # name into SQL and must stay parse-safe for any name it is handed
    # (r14, ADVICE).
    from go_batch_processor_spark.dist_rank import _bucket_expr

    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(50)], ["id", "we`ird"]
    )
    out = df.withColumn(
        "b", _bucket_expr([1.0, 3.0], "we`ird", descending=False)
    )
    got = {r["id"]: r["b"] for r in out.collect()}
    assert all(got[i] == (0 if i % 5 <= 1 else (1 if i % 5 <= 3 else 2))
               for i in range(50))
