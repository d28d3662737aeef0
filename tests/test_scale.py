"""Scale-utility tests: salting correctness, compaction, plan introspection."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_etl_framework_spark.scale import (
    compact_store,
    explain_summary,
    salted_aggregate,
    salted_join,
)

SF_DIR = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    plain = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        ["c_custkey"],
        salt_buckets=4,
    ).count()
    assert salted == plain


def test_salted_aggregate_matches_plain(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plain = {
        (r["l_returnflag"]): (r["n"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r["l_returnflag"]): (r["n"], r["sum_l_quantity"])
        for r in salted_aggregate(
            li, ["l_returnflag"], sum_cols=["l_quantity"], salt_buckets=4
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][0] == salted[k][0]
        assert abs(plain[k][1] - salted[k][1]) < 1e-6


def test_compact_store(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    # simulate 10 incremental appends → many small files
    for _ in range(10):
        df.write.mode("append").parquet(path)
    import os

    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    compact_store(spark, path, target_files=2)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after <= 2 < n_before
    assert spark.read.parquet(path).count() == 10000


def test_explain_summary_detects_broadcast(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    s = explain_summary(joined)
    assert s["BroadcastHashJoin"] == 1
    assert s["SortMergeJoin"] == 0


def test_delta_join_store_scan_is_column_pruned(spark, tmp_path):
    """The 100 TB guarantee: the delta anti-join reads only the two hash
    columns of the store, never the full rows."""
    import pandas_etl_framework_spark as etl

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    stamped = etl.add_meta_columns(
        orders, etl.create_currents("2024-01-10 08:00:00"), ["o_orderkey"]
    )
    store = str(tmp_path / "store")
    stamped.write.parquet(store)
    cur = etl.read_parquet_df(spark, store)
    delta = etl.get_delta(cur, stamped)
    plan = delta._jdf.queryExecution().executedPlan().toString()
    store_scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "store" in line
    ]
    assert store_scans
    for line in store_scans:
        cols = line.split("FileScan parquet ")[1].split("]")[0]
        assert "KEY_HASH" in cols and "RECORD_HASH" in cols
        assert "o_totalprice" not in cols


def test_salted_join_spreads_hot_key(spark):
    """A 90%-hot key lands in one task partition unsalted; salting spreads
    the hot key's rows across ~salt_buckets partitions."""
    from pyspark.sql import functions as F2

    hot = spark.range(9000).select(F2.lit(1).alias("k"), F2.col("id").alias("v"))
    cold = spark.range(1000).select(
        (F2.col("id") % 50 + 2).alias("k"), F2.col("id").alias("v")
    )
    big = hot.unionByName(cold)
    small = spark.createDataFrame(
        [(k,) for k in range(1, 52)], "k long"
    ).withColumn("tag", F2.lit("x"))

    joined = salted_join(big, small, ["k"], salt_buckets=8)
    assert joined.count() == 10000
    # the shuffle key is (k, __salt): the hot key must fan out over (nearly)
    # all salt values, so no single reducer owns its 9000 rows. (Post-join
    # partition ids are useless here — AQE coalesces tiny outputs to one.)
    salted = big.withColumn(
        "__salt", F2.floor(F2.rand(seed=42) * 8).cast("int")
    )
    n_salts = (
        salted.filter(F2.col("k") == 1).select("__salt").distinct().count()
    )
    assert n_salts >= 6


def test_write_sorted_store_clusters_ranges(spark, tmp_path):
    """Range-clustered files carry disjoint min/max stats, so predicate
    scans can skip whole files/row-groups."""
    import glob

    import pyarrow.parquet as pq

    from pandas_etl_framework_spark.scale import write_sorted_store

    df = spark.range(10_000).selectExpr("id AS k", "id % 7 AS v")
    path = str(tmp_path / "sorted")
    write_sorted_store(df, path, ["k"], num_files=4)

    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    spans.sort()
    assert len(spans) == 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint ranges: stats-based skipping works
    # content unchanged
    assert spark.read.parquet(path).count() == 10_000


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered files are narrow in BOTH dimensions; a plain sort on one
    column leaves the other dimension spanning the full range."""
    import glob

    import pyarrow.parquet as pq

    from pandas_etl_framework_spark.scale import (
        write_sorted_store,
        write_zordered_store,
    )

    df = spark.range(64 * 64).selectExpr(
        "CAST(id % 64 AS LONG) AS x", "CAST(id DIV 64 AS LONG) AS y"
    )

    def file_spans(path, col_idx):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            st = [md.row_group(i).column(col_idx).statistics
                  for i in range(md.num_row_groups)]
            spans.append(max(s.max for s in st) - min(s.min for s in st))
        return spans

    zpath = str(tmp_path / "z")
    write_zordered_store(df, zpath, "x", "y", num_files=16)
    # every z-file is narrow in BOTH x and y (quadrant-sized, not stripes)
    assert all(s <= 40 for s in file_spans(zpath, 0))
    assert all(s <= 40 for s in file_spans(zpath, 1))

    spath = str(tmp_path / "s")
    write_sorted_store(df, spath, ["x"], num_files=16)
    # sort by x: x is narrow but y spans (almost) everything in every file
    assert all(s <= 8 for s in file_spans(spath, 0))
    assert all(s >= 60 for s in file_spans(spath, 1))


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed+sorted on the join key must sort-merge join with
    NO Exchange on either side (the 100-TB co-located-join path for the
    delta anti-join: bucket the store on KEY_HASH once, every later run's
    join reads pre-partitioned buckets)."""
    from pandas_etl_framework_spark.scale import write_bucketed_store

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_customer")
    write_bucketed_store(
        orders.withColumnRenamed("o_custkey", "custkey"),
        "bkt_orders", ["custkey"], num_buckets=4, mode="overwrite",
    )
    write_bucketed_store(
        customer.withColumnRenamed("c_custkey", "custkey"),
        "bkt_customer", ["custkey"], num_buckets=4, mode="overwrite",
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_orders").join(
                spark.table("bkt_customer"), "custkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            # and it actually runs
            assert joined.count() == orders.join(
                customer, orders.o_custkey == customer.c_custkey
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_auto_join_strategy_decisions(spark):
    from pandas_etl_framework_spark.scale import auto_join_strategy

    uniform = spark.range(0, 4000).select((F.col("id") % 1000).alias("k"))
    hot = spark.range(0, 4000).select(
        F.when(F.col("id") % 3 != 0, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    assert auto_join_strategy(uniform, ["k"]) == "plain"
    assert auto_join_strategy(hot, ["k"]) == "salted"
    # empty probe side: no straggler to spread, stay plain
    assert auto_join_strategy(uniform.filter("k < 0"), ["k"]) == "plain"
    # deterministic hash-sampled profile still sees a >=20%-share hitter
    assert (
        auto_join_strategy(hot, ["k"], profile_fraction=0.5) == "salted"
    )
    # r09 item 6: a UNIFORM low-cardinality key (10 keys -> 10% max
    # share) is not skew — pinning sort-merge there would only suppress
    # a broadcast; must stay 'plain' despite clearing the share bar.
    # 40k rows so mx = 4000 CLEARS the min_hot_rows floor: this is the
    # case only the cardinality gate can catch (a 4k-row fixture would
    # pass via the floor and leave the gate untested)
    uniform_lowcard = spark.range(0, 40000).select(
        (F.col("id") % 10).alias("k")
    )
    assert auto_join_strategy(uniform_lowcard, ["k"]) == "plain"
    # same distribution but genuinely skewed at high cardinality takes
    # the aqe branch — pins that the gate, not the share test, decided
    skewed_highcard = spark.range(0, 40000).select(
        F.when(F.col("id") < 4000, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    assert auto_join_strategy(skewed_highcard, ["k"]) == "aqe_skew"
    # ...but a genuinely dominant key on a low-cardinality column is
    # still a straggler: salting is not cardinality-gated
    hot_lowcard = spark.range(0, 4000).select(
        F.when(F.col("id") % 3 != 0, F.lit(0)).otherwise(
            F.col("id") % 4
        ).alias("k")
    )
    assert auto_join_strategy(hot_lowcard, ["k"]) == "salted"
    # absolute hot-row floor: under min_hot_rows no key can make a
    # straggler task whatever its share — tiny relations stay 'plain'
    tiny_hot = spark.range(0, 100).select(F.lit(7).alias("k"))
    assert auto_join_strategy(tiny_hot, ["k"]) == "plain"
    assert auto_join_strategy(tiny_hot, ["k"], min_hot_rows=50) == "salted"
    # the floor scales with profile_fraction: a sampled profile of a
    # hot key well over the ABSOLUTE floor must still salt, even though
    # the sampled count lands under the unscaled floor
    # 2400 true hot rows (over the 1000 floor); the 25% sample sees
    # ~600 — under the UNSCALED floor, over the scaled one (250)
    big_hot = spark.range(0, 2400).select(F.lit(7).alias("k"))
    assert (
        auto_join_strategy(big_hot, ["k"], profile_fraction=0.25) == "salted"
    )


def test_auto_join_hot_fixture_takes_salted_path_and_matches_plain(spark):
    from pandas_etl_framework_spark.scale import SALT_COL, auto_join

    hot = spark.range(0, 4000).select(
        F.when(F.col("id") % 3 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 100).alias("v"),
    )
    dim = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    joined = auto_join(hot, dim, ["k"])
    # plan proof: the hot fixture actually went through salting — the
    # salt column appears in the physical plan and the join is the
    # shuffle-hash join salted_join pins (not a broadcast of the
    # replicated relation)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL in plan
    assert "ShuffledHashJoin" in plan
    plain = hot.join(dim, on=["k"]).groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    auto = joined.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, plain.collect()))


def test_auto_join_uniform_fixture_stays_plain(spark):
    from pandas_etl_framework_spark.scale import SALT_COL, auto_join

    uniform = spark.range(0, 4000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 1000).select(F.col("id").alias("k"))
    joined = auto_join(uniform, dim, ["k"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL not in plan
    assert joined.count() == 4000


def test_auto_join_unsaltable_how_never_salts(spark):
    from pandas_etl_framework_spark.scale import SALT_COL, auto_join

    hot = spark.range(0, 3000).select(
        F.when(F.col("id") % 3 != 0, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    dim = spark.range(0, 10).select(F.col("id").alias("k"), F.lit("x").alias("lbl"))
    # full outer would duplicate unmatched dim rows under salting — the
    # guard must route it plain even though the probe side is hot
    joined = auto_join(hot, dim, ["k"], how="full")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL not in plan
    # k=8 is the one dim key absent from hot (hot = {7} ∪ multiples of
    # 3); under a wrongly-salted full join it would surface once per salt
    # bucket instead of once
    assert joined.filter("k = 8").count() == 1


def test_zorder_buckets_narrow_both_dimensions(spark):
    """The z-order pruning property: every layout bucket's span in EACH
    dimension is at most 1/4 of the global 0..255 range (16 buckets on
    an 8+8-bit interleave => 64-wide tiles), which is what lets a filter
    on either column skip most buckets. Also pins the interleave against
    a pure-Python Morton mirror."""
    from pandas_etl_framework_spark.scale import (
        ZORDER_BITS,
        q_rel_zorder_layout,
        zorder_key,
    )

    rows = q_rel_zorder_layout(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["x_max"] - r["x_min"] <= 63, r
        assert r["y_max"] - r["y_min"] <= 63, r

    # interleave mirror on hand values; negative inputs interleave their
    # two's-complement low bits, so z stays in [0, 4^bits)
    def morton(x, y, bits=ZORDER_BITS):
        z = 0
        for i in range(bits):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255, -1, -6) for y in (0, 2, 7, 255, -3)],
        "x long, y long",
    )
    got = df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])
