"""Distributed sketches, engine-portable by construction.

HyperLogLog distinct-count: the classic register sketch (Flajolet et al.),
built so Spark and the DuckDB oracle agree BIT-FOR-BIT — which native
``approx_count_distinct`` implementations never do across engines:

- register index = first 2 hex digits of md5(value)  (m = 256 registers);
- rank = position of the first 1-bit in the next 13 hex digits (a 52-bit
  integer x): ``53 - length(bin(x))``, 53 when x = 0 — no log/pow calls;
- the harmonic sum keeps 2^-rank as the EXACT integer 2^(53-rank), summed
  as BIGINT, so the only float op is one final literal*int division that
  both engines execute identically. (64 - 53 = 11 spare bits: the sum of
  256 * 2^53 maxes at 2^61, no overflow.)

The estimate is the raw HLL formula alpha_m * m^2 / sum (no small/large
range corrections — those need ln(), whose libm rounding differs across
engines; at the scales this gates, raw error ~1.6% is the spec behavior).

Scale: one narrow shuffle of at most m rows per aggregation group. This is
the pattern to extend to any sketch the engine needs (theta, count-min):
integer registers + exact dyadic arithmetic, floats only in the last step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_B = 8  # register-index bits (2 hex digits)
HLL_M = 1 << HLL_B  # 256 registers
# alpha_256 = 0.7213 / (1 + 1.079/256), written out so both engines see the
# same literal
HLL_ALPHA = 0.7182725806451613


def _rank_col(hash_col: F.Column) -> F.Column:
    """Rank (1-based first-1-bit position) of the 52-bit suffix."""
    x = F.conv(F.substring(hash_col, 3, 13), 16, 10).cast("long")
    return F.when(x == 0, F.lit(53)).otherwise(53 - F.length(F.bin(x)))


def hll_registers(df: DataFrame, col: str, group_by: list[str] | None = None
                  ) -> DataFrame:
    """The mergeable state: (group cols, reg, m_j) — max rank observed per
    register. Two register sets merge by ``max`` per register, which is the
    basis for incremental maintenance (``incremental_hll_update``)."""
    h = F.md5(F.col(col).cast("string"))
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    keys = list(group_by or [])
    return (
        df.select(*keys, reg.alias("reg"), _rank_col(h).alias("rank"))
        .groupBy(*keys, "reg")
        .agg(F.max("rank").alias("m_j"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_by: list[str] | None = None
) -> DataFrame:
    keys = list(group_by or [])
    # exact dyadic harmonic sum: present registers contribute 2^(53 - M_j),
    # the (m - n_present) empty registers contribute 2^53 each
    est = (
        F.lit(HLL_ALPHA * HLL_M * HLL_M * float(1 << 53))
        / (
            # F.shiftleft needs a literal shift amount; the SQL form takes a
            # column expression
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m_j AS INT))"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << 53).cast("long")
        ).cast("double")
    )
    return regs.groupBy(*keys).agg(est.alias("hll_estimate"))


def hll_distinct(df: DataFrame, col: str, group_by: list[str] | None = None
                 ) -> DataFrame:
    """HLL distinct-count estimate of ``col``, optionally per group.
    Returns group columns + ``hll_estimate`` (double)."""
    return hll_estimate_from_registers(
        hll_registers(df, col, group_by), group_by
    )


def incremental_hll_update(
    regs: DataFrame,
    feed: DataFrame,
    col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Incremental distinct-count maintenance: fold the INSERT rows of a
    change data feed (``VersionedStore.changes`` output) into an existing
    register table — work scales with the change volume, never the base
    table. Registers are max-monotone, so deletes cannot be subtracted;
    the estimate tracks distinct values EVER inserted (the usual HLL
    contract) and a delete-heavy store needs a periodic register rebuild.
    Pairs with ``incremental_rollup_update`` (additive aggregates) as the
    sketch half of incremental view maintenance."""
    keys = list(group_by or [])
    inserts = feed
    if "_change_type" in feed.columns:
        inserts = feed.filter(F.col("_change_type") == "insert")
    delta = hll_registers(inserts, col, keys)
    return (
        regs.unionByName(delta)
        .groupBy(*keys, "reg")
        .agg(F.max("m_j").alias("m_j"))
    )


def q_sketch_hll_distinct(spark, sf_dir):
    """HLL estimate vs exact distinct customer count over orders, plus the
    relative error — the accuracy contract in one row."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    est = hll_distinct(orders, "o_custkey")
    exact = orders.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return (
        est.crossJoin(exact)
        .select(
            "exact_distinct",
            "hll_estimate",
            (
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct")
            ).alias("rel_error"),
        )
    )


def _sql_hex_to_long(col: str, start: int, digits: int) -> str:
    expr = "0"
    for i in range(digits):
        d = f"(instr('0123456789abcdef', substr({col}, {start + i}, 1)) - 1)"
        expr = f"({expr} * 16 + {d})"
    return expr


_H = "md5(CAST(o_custkey AS VARCHAR))"
_X = _sql_hex_to_long(_H, 3, 13)

SQL_SKETCH_HLL_DISTINCT = f"""
WITH regs AS (
    SELECT {_sql_hex_to_long(_H, 1, 2)} AS reg,
           MAX(CASE WHEN {_X} = 0 THEN 53
                    ELSE 53 - LENGTH(bin({_X})) END) AS m_j
    FROM orders
    GROUP BY reg
),
est AS (
    SELECT CAST({HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)!r} AS DOUBLE)
           / CAST(SUM(1::BIGINT << (53 - m_j))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53) AS DOUBLE)
               AS hll_estimate
    FROM regs
),
exact AS (
    SELECT COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders
)
SELECT exact_distinct, hll_estimate,
       abs(hll_estimate - exact_distinct) / exact_distinct AS rel_error
FROM est, exact
"""


def q_sketch_hll_merge(spark, sf_dir):
    """The MERGE contract — the property that makes HLL the 100-TB
    distinct-count tool (per-partition/per-day partial sketches folded
    into one): per-priority distinct customer counts computed by
    building registers over two DISJOINT splits of orders
    (o_orderkey % 2) and folding one into the other with
    ``incremental_hll_update``. Registers are max-mergeable, so the
    folded estimate must equal a direct single-pass build bit-for-bit —
    and the oracle IS that direct build (the grouped twin of
    SQL_SKETCH_HLL_DISTINCT over the full table): a wrong merge shows up
    as a hash mismatch, not a tolerance miss. Exact per-group distinct
    and relative error ride along as the accuracy contract (module
    caveat applies per GROUP here: below n ~ m=256 distincts the raw
    formula's small-range bias dominates — at the sf0.01 gate every
    priority group holds ~1300 distinct customers, rel_error 0.7-5.5%)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = ["o_orderpriority"]
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    regs = hll_registers(half_a, "o_custkey", keys)
    merged = incremental_hll_update(regs, half_b, "o_custkey", keys)
    est = hll_estimate_from_registers(merged, keys)
    exact = orders.groupBy(*keys).agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return (
        est.join(exact, keys)
        .select(
            *keys,
            "exact_distinct",
            "hll_estimate",
            (
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct")
            ).alias("rel_error"),
        )
    )


SQL_SKETCH_HLL_MERGE = f"""
WITH regs AS (
    SELECT o_orderpriority, {_sql_hex_to_long(_H, 1, 2)} AS reg,
           MAX(CASE WHEN {_X} = 0 THEN 53
                    ELSE 53 - LENGTH(bin({_X})) END) AS m_j
    FROM orders
    GROUP BY o_orderpriority, reg
),
est AS (
    SELECT o_orderpriority,
           CAST({HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)!r} AS DOUBLE)
           / CAST(SUM(1::BIGINT << (53 - m_j))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53) AS DOUBLE)
               AS hll_estimate
    FROM regs
    GROUP BY o_orderpriority
),
exact AS (
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_distinct
    FROM orders GROUP BY o_orderpriority
)
SELECT est.o_orderpriority, exact_distinct, hll_estimate,
       abs(hll_estimate - exact_distinct) / exact_distinct AS rel_error
FROM est JOIN exact ON est.o_orderpriority = exact.o_orderpriority
"""


def q_streaming_hll_registers(
    spark,
    sf_dir,
    *,
    max_files_per_trigger=None,
    src_files=None,
    replay_each_batch=False,
):
    """sketch_hll_merge's micro-batch twin — streaming distinct-count
    maintenance THROUGH the real engine: orders stream in (availableNow,
    file source) and each micro-batch's foreachBatch appends exactly one
    chop-invariant artifact, the batch's grouped register partials
    (``hll_registers``), keyed by batch_id so an at-least-once replay
    overwrites its own partition (the r11 idempotency discipline). The
    estimate is resolved at READ time against the max-folded store, so
    the result is identical however the engine chops ingestion — the
    steady-state shape of a distinct-users dashboard fed by a stream at
    any scale (state per group is <= m = 256 register rows per batch,
    never raw ids). The oracle is the DIRECT single-pass grouped build
    (SQL_SKETCH_HLL_MERGE): a chop-dependent or replay-dependent result
    is a value-hash mismatch.

    ``max_files_per_trigger``/``src_files``/``replay_each_batch`` exist
    for the chopping/redelivery pytest only; driver paths leave them
    unset."""
    from .io import scratch_dir, state_store_partitions
    from .llmops.dedup import _idempotent_batch_write

    keys = ["o_orderpriority"]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        *keys, "o_custkey"
    )

    def handle(batch_df, bid):
        regs = hll_registers(batch_df, "o_custkey", keys)
        _idempotent_batch_write(regs, store, bid)
        if replay_each_batch:
            _idempotent_batch_write(regs, store, bid)

    with scratch_dir("etl_stream_hll_") as tmp, state_store_partitions(spark):
        src, store, ckpt = f"{tmp}/src", f"{tmp}/store", f"{tmp}/ckpt"
        w = orders.repartition(src_files) if src_files else orders
        w.write.mode("overwrite").parquet(src)
        reader = spark.readStream.schema(orders.schema)
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            )
        q = (
            reader.parquet(src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(store)
            .drop("batch_id")
            .groupBy(*keys, "reg")
            .agg(F.max("m_j").alias("m_j"))
        )
        est = hll_estimate_from_registers(merged, keys)
        exact = orders.groupBy(*keys).agg(
            F.countDistinct("o_custkey").alias("exact_distinct")
        )
        return (
            est.join(exact, keys)
            .select(
                *keys,
                "exact_distinct",
                "hll_estimate",
                (
                    F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                ).alias("rel_error"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Count-min sketch (frequency estimation)
# --------------------------------------------------------------------------

CMS_D = 4       # hash rows
CMS_W = 1024    # buckets per row
_CMS_P = 2_147_483_647
# fixed (a, b) per hash row, a < 2^30 (same overflow headroom as minhash)
_CMS_AB = [
    (387420489, 1000000007),
    (268435399, 998244353),
    (536870909, 754974721),
    (805306457, 167772161),
]


def _item_base(col: str) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("long")


def countmin_counters(df: DataFrame, col: str) -> DataFrame:
    """Build the d×w counter table (j, bucket, c) — d tiny aggregations,
    each a map-side-combining groupBy over at most w groups, so the sketch
    costs d narrow shuffles of ≤ w rows regardless of input size (the whole
    point at 100 TB: a mergeable fixed-size summary)."""
    base = _item_base(col)
    parts = []
    for j, (a, b) in enumerate(_CMS_AB[:CMS_D]):
        bucket = (F.lit(a) * base + F.lit(b)) % _CMS_P % CMS_W
        parts.append(
            df.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("c"))
            .select(F.lit(j).alias("j"), "bucket", "c")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def countmin_estimate(counters: DataFrame, items: DataFrame, col: str
                      ) -> DataFrame:
    """Point-query the sketch for every row of ``items``: estimate =
    min over the d rows of the item's bucket counter (classic CMS upper
    bound: never under-counts)."""
    base = _item_base(col)
    probes = None
    for j, (a, b) in enumerate(_CMS_AB[:CMS_D]):
        p = items.select(
            F.col(col),
            F.lit(j).alias("j"),
            ((F.lit(a) * base + F.lit(b)) % _CMS_P % CMS_W).alias("bucket"),
        )
        probes = p if probes is None else probes.unionByName(p)
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy(col)
        .agg(F.min("c").alias("cms_estimate"))
    )


def q_sketch_countmin(spark, sf_dir):
    """CMS frequency estimates vs exact counts for every supplier in
    lineitem — estimate >= exact always; equality whenever no bucket
    collision."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    counters = countmin_counters(li, "l_suppkey")
    exact = li.groupBy("l_suppkey").agg(F.count("*").alias("exact_cnt"))
    est = countmin_estimate(counters, exact.select("l_suppkey"), "l_suppkey")
    return exact.join(est, "l_suppkey").select(
        "l_suppkey",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_cnt")).alias("overcount"),
    )


_IB = _sql_hex_to_long("md5(CAST(l_suppkey AS VARCHAR))", 1, 8)

_SQL_CMS_COUNTERS = "\n    UNION ALL\n".join(
    f"    SELECT {j} AS j, ({a} * base + {b}) % {_CMS_P} % {CMS_W} AS bucket,"
    f" COUNT(*) AS c FROM items GROUP BY bucket"
    for j, (a, b) in enumerate(_CMS_AB[:CMS_D])
)

_SQL_CMS_PROBES = "\n    UNION ALL\n".join(
    f"    SELECT l_suppkey, {j} AS j,"
    f" ({a} * base + {b}) % {_CMS_P} % {CMS_W} AS bucket FROM dist"
    for j, (a, b) in enumerate(_CMS_AB[:CMS_D])
)

SQL_SKETCH_COUNTMIN = f"""
WITH items AS (
    SELECT l_suppkey, {_IB} AS base FROM lineitem
),
counters AS (
{_SQL_CMS_COUNTERS}
),
dist AS (SELECT DISTINCT l_suppkey, {_IB.replace('l_suppkey', 'l_suppkey')} AS base
         FROM lineitem),
probes AS (
{_SQL_CMS_PROBES}
),
est AS (
    SELECT l_suppkey, MIN(c) AS cms_estimate
    FROM probes JOIN counters USING (j, bucket)
    GROUP BY l_suppkey
),
exact AS (
    SELECT l_suppkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, exact_cnt, cms_estimate,
       cms_estimate - exact_cnt AS overcount
FROM exact JOIN est USING (l_suppkey)
"""


# --------------------------------------------------------------------------
# Histogram quantile sketch (mergeable approximate percentiles)
# --------------------------------------------------------------------------

HIST_BINS = 1000


def q_sketch_histogram_quantiles(spark, sf_dir):
    """Approximate p50/p95 of o_totalprice from a fixed 1000-bin equi-width
    histogram — the mergeable-summary alternative to an exact sort: counts
    per bin are integers (order-independent), the quantile is the lower
    edge of the first bin whose cumulative count crosses the target. One
    narrow shuffle of ≤ bins rows; merging partial histograms is just
    summing counts — exactly how a 1000-executor percentile should run.
    Exact percentiles for comparison live in rel_percentiles."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rng = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = (
        orders.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.lit(HIST_BINS - 1),
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / HIST_BINS)
                ),
            ).alias("bin"),
            "lo",
            "hi",
        )
        .groupBy("bin", "lo", "hi")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    cum = F.sum("c").over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.sum("c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    edges = binned.select(
        "bin",
        "c",
        (F.col("lo") + F.col("bin") * ((F.col("hi") - F.col("lo")) / HIST_BINS)
         ).alias("bin_lo"),
        cum.alias("cum"),
        total.alias("total"),
    )
    out = None
    for name, num, den in (("p50", 1, 2), ("p95", 19, 20)):
        q = (
            edges.filter(F.col("cum") * den >= F.col("total") * num)
            .orderBy("bin")
            .limit(1)
            .select(F.lit(name).alias("quantile"), F.col("bin_lo").alias("approx_value"))
        )
        out = q if out is None else out.unionByName(q)
    return out


SQL_SKETCH_HISTOGRAM_QUANTILES = f"""
WITH rng AS (
    SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
binned AS (
    SELECT LEAST({HIST_BINS - 1},
                 CAST(floor((o_totalprice - lo) / ((hi - lo) / {HIST_BINS}))
                      AS BIGINT)) AS bin,
           lo, hi, COUNT(*) AS c
    FROM orders CROSS JOIN rng
    GROUP BY 1, 2, 3
),
edges AS (
    SELECT bin, c,
           lo + bin * ((hi - lo) / {HIST_BINS}) AS bin_lo,
           SUM(c) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(c) OVER () AS total
    FROM binned
)
SELECT 'p50' AS quantile, bin_lo AS approx_value FROM (
    SELECT bin_lo FROM edges WHERE cum * 2 >= total * 1 ORDER BY bin LIMIT 1
)
UNION ALL
SELECT 'p95', bin_lo FROM (
    SELECT bin_lo FROM edges WHERE cum * 20 >= total * 19 ORDER BY bin LIMIT 1
)
"""


# --------------------------------------------------------------------------
# KMV / theta sketch (distinct counting with set-operation estimates)
# --------------------------------------------------------------------------

KMV_K = 256
_KMV_DOMAIN = 1 << 52          # 13 hex digits of md5 → uniform [0, 2^52)
_KMV_NUM = (KMV_K - 1) * _KMV_DOMAIN  # 255 * 2^52, exact in int64 AND double


def _kmv_hash(col: F.Column) -> F.Column:
    """52-bit uniform hash, portable: same md5-prefix fold as the HLL."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast(
        "long"
    )


def kmv_sketch(hashes: DataFrame, k: int = KMV_K) -> DataFrame:
    """(theta, kk) of a distinct-hash relation: theta = k-th smallest hash,
    kk = min(|set|, k). ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — per-partition top-k then a k·partitions driver
    merge, never a global sort — so the sketch is O(k) per partition at any
    scale, and two sketches merge by unioning their hash sets."""
    return (
        hashes.orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("theta"), F.count("*").alias("kk"))
    )


def _kmv_est(theta: F.Column, kk: F.Column) -> F.Column:
    """(k-1)/theta-normalized estimate; exact when the set fit in the sketch.
    Single double division — bit-identical across engines."""
    return F.when(kk < KMV_K, kk.cast("double")).otherwise(
        F.lit(_KMV_NUM).cast("double") / theta.cast("double")
    )


def q_sketch_theta_kmv(spark, sf_dir):
    """Distinct customers in the 1995-97 vs 1998+ order halves, their union
    and intersection — each estimated from 256-value KMV sketches next to
    the exact counts. The theta intersection counts common hashes below
    min(theta_a, theta_b); when both sketches are exhaustive that degrades
    gracefully to the exact count."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h = orders.select(
        F.year("o_orderdate").alias("y"), _kmv_hash(F.col("o_custkey")).alias("h")
    )
    a = h.filter(F.col("y") < 1998).select("h").distinct()
    b = h.filter(F.col("y") >= 1998).select("h").distinct()
    u = a.unionByName(b).distinct()
    i = a.join(b, "h")

    def pre(df, p):
        sk = kmv_sketch(df)
        return sk.select(
            F.col("theta").alias(f"{p}_theta"),
            F.col("kk").alias(f"{p}_kk"),
            F.when(F.col("kk") < KMV_K, F.lit(_KMV_DOMAIN))
            .otherwise(F.col("theta"))
            .alias(f"{p}_eff"),
        )

    sa, sb, su = pre(a, "a"), pre(b, "b"), pre(u, "u")
    ea = a.agg(F.count("*").alias("exact_a"))
    eb = b.agg(F.count("*").alias("exact_b"))
    eu = u.agg(F.count("*").alias("exact_union"))
    ei = i.agg(F.count("*").alias("exact_intersect"))
    tmin = F.least(F.col("a_eff"), F.col("b_eff"))
    ic = (
        i.crossJoin(F.broadcast(sa.crossJoin(sb)))
        .filter(F.col("h") <= tmin)
        .agg(F.count("*").alias("cnt"), F.max(tmin).alias("tmin"))
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(ei)
        .crossJoin(sa)
        .crossJoin(sb)
        .crossJoin(su)
        .crossJoin(ic)
        .select(
            "exact_a",
            _kmv_est(F.col("a_theta"), F.col("a_kk")).alias("est_a"),
            "exact_b",
            _kmv_est(F.col("b_theta"), F.col("b_kk")).alias("est_b"),
            "exact_union",
            _kmv_est(F.col("u_theta"), F.col("u_kk")).alias("est_union"),
            "exact_intersect",
            (
                F.col("cnt").cast("double")
                * F.lit(_KMV_DOMAIN).cast("double")
                / F.col("tmin").cast("double")
            ).alias("est_intersect"),
        )
    )


_KH = _sql_hex_to_long("md5(CAST(o_custkey AS VARCHAR))", 1, 13)

SQL_SKETCH_THETA_KMV = f"""
WITH h AS (
    SELECT year(o_orderdate) AS y, {_KH} AS h FROM orders
),
a AS (SELECT DISTINCT h FROM h WHERE y < 1998),
b AS (SELECT DISTINCT h FROM h WHERE y >= 1998),
u AS (SELECT h FROM a UNION SELECT h FROM b),
i AS (SELECT a.h FROM a JOIN b USING (h)),
sa AS (SELECT MAX(h) AS theta, COUNT(*) AS kk,
              CASE WHEN COUNT(*) < {KMV_K} THEN {_KMV_DOMAIN}
                   ELSE MAX(h) END AS eff
       FROM (SELECT h FROM a ORDER BY h LIMIT {KMV_K})),
sb AS (SELECT MAX(h) AS theta, COUNT(*) AS kk,
              CASE WHEN COUNT(*) < {KMV_K} THEN {_KMV_DOMAIN}
                   ELSE MAX(h) END AS eff
       FROM (SELECT h FROM b ORDER BY h LIMIT {KMV_K})),
su AS (SELECT MAX(h) AS theta, COUNT(*) AS kk,
              CASE WHEN COUNT(*) < {KMV_K} THEN {_KMV_DOMAIN}
                   ELSE MAX(h) END AS eff
       FROM (SELECT h FROM u ORDER BY h LIMIT {KMV_K})),
ea AS (SELECT COUNT(*) AS exact_a FROM a),
eb AS (SELECT COUNT(*) AS exact_b FROM b),
eu AS (SELECT COUNT(*) AS exact_union FROM u),
ei AS (SELECT COUNT(*) AS exact_intersect FROM i),
ic AS (SELECT COUNT(*) AS cnt, MAX(LEAST(sa.eff, sb.eff)) AS tmin
       FROM i CROSS JOIN sa CROSS JOIN sb
       WHERE i.h <= LEAST(sa.eff, sb.eff))
SELECT exact_a,
       CASE WHEN sa.kk < {KMV_K} THEN CAST(sa.kk AS DOUBLE)
            ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(sa.theta AS DOUBLE)
       END AS est_a,
       exact_b,
       CASE WHEN sb.kk < {KMV_K} THEN CAST(sb.kk AS DOUBLE)
            ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(sb.theta AS DOUBLE)
       END AS est_b,
       exact_union,
       CASE WHEN su.kk < {KMV_K} THEN CAST(su.kk AS DOUBLE)
            ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(su.theta AS DOUBLE)
       END AS est_union,
       exact_intersect,
       CAST(ic.cnt AS DOUBLE) * CAST({_KMV_DOMAIN} AS DOUBLE)
           / CAST(ic.tmin AS DOUBLE) AS est_intersect
FROM ea, eb, eu, ei, sa, sb, su, ic
"""


# --------------------------------------------------------------------------
# Bloom filter (broadcastable semi-join pruning)
# --------------------------------------------------------------------------

BLOOM_BITS = 2048          # deliberately small so the fixture shows real FPs
BLOOM_WORD_BITS = 32       # 32-bit words in BIGINT slots: no sign-bit hazards
_BLOOM_AB = [(387420489, 11), (268435399, 97), (536870909, 101), (805306457, 31)]


def _bloom_pos(hp: F.Column, a: int, b: int) -> F.Column:
    return ((F.lit(a) * hp + F.lit(b)) % _CMS_P) % BLOOM_BITS


def bloom_build(keys: DataFrame, col: str) -> DataFrame:
    """(word, w) bitset words of a k=4 Bloom filter over ``keys[col]``.
    BLOOM_BITS/8 bytes total — at 100 TB you build this in one tiny
    aggregation and BROADCAST it to prune a shuffle-heavy semi-join down
    to a map-side filter; the FP survivors are re-checked by the real join."""
    hp = _item_base(col)
    entries = keys.select(
        F.explode(
            F.array(*[_bloom_pos(hp, a, b).alias("p") for a, b in _BLOOM_AB])
        ).alias("pos")
    )
    return entries.groupBy(
        F.expr(f"div(pos, {BLOOM_WORD_BITS})").alias("word")
    ).agg(
        F.expr(
            f"bit_or(shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD_BITS} as int)))"
        ).alias("w")
    )


def bloom_probe(words: DataFrame, probes: DataFrame, col: str) -> DataFrame:
    """Rows of ``probes`` whose key sets all 4 filter bits (members plus
    a deterministic false-positive tail). The word table joins broadcast."""
    hp = _item_base(col)
    pe = probes.select(
        F.col(col),
        F.explode(
            F.array(*[_bloom_pos(hp, a, b).alias("p") for a, b in _BLOOM_AB])
        ).alias("pos"),
    )
    hits = (
        pe.join(
            F.broadcast(words),
            F.expr(f"div(pos, {BLOOM_WORD_BITS})") == F.col("word"),
        )
        .filter(
            F.expr(
                f"(w & shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD_BITS} as int))) <> 0"
            )
        )
        .groupBy(col)
        .agg(F.count("*").alias("n_set"))
    )
    return hits.filter(F.col("n_set") == len(_BLOOM_AB)).select(col)


def q_sketch_bloom_prune(spark, sf_dir):
    """Prune the orders→BUILDING-customers semi-join with a 256-byte Bloom
    filter and report its observed selectivity: build/probe cardinalities,
    Bloom survivors, true members, and the false-positive rate among
    non-members. No false negatives by construction (test-asserted)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bk = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    pk = orders.select(F.col("o_custkey").alias("key")).distinct()
    words = bloom_build(bk, "key")
    passed = bloom_probe(words, pk, "key")
    n_build = bk.agg(F.count("*").alias("n_build"))
    n_probe = pk.agg(F.count("*").alias("n_probe"))
    n_pass = passed.agg(F.count("*").alias("n_pass"))
    n_true = pk.join(bk, "key").agg(F.count("*").alias("n_true"))
    return (
        n_build.crossJoin(n_probe)
        .crossJoin(n_pass)
        .crossJoin(n_true)
        .select(
            "n_build",
            "n_probe",
            "n_pass",
            "n_true",
            (
                (F.col("n_pass") - F.col("n_true")).cast("double")
                / (F.col("n_probe") - F.col("n_true")).cast("double")
            ).alias("fp_rate"),
        )
    )


_BH_C = _sql_hex_to_long("md5(CAST(key AS VARCHAR))", 1, 8)
_BLOOM_VALUES = ", ".join(f"({a}, {b})" for a, b in _BLOOM_AB)

SQL_SKETCH_BLOOM_PRUNE = f"""
WITH ab(a, b) AS (VALUES {_BLOOM_VALUES}),
bk AS (SELECT DISTINCT c_custkey AS key FROM customer
       WHERE c_mktsegment = 'BUILDING'),
pk AS (SELECT DISTINCT o_custkey AS key FROM orders),
be AS (SELECT ((a * {_BH_C} + b) % {_CMS_P}) % {BLOOM_BITS} AS pos
       FROM bk CROSS JOIN ab),
words AS (SELECT pos // {BLOOM_WORD_BITS} AS word,
                 bit_or((1::BIGINT) << (pos % {BLOOM_WORD_BITS})) AS w
          FROM be GROUP BY 1),
pe AS (SELECT key, ((a * {_BH_C} + b) % {_CMS_P}) % {BLOOM_BITS} AS pos
       FROM pk CROSS JOIN ab),
hits AS (SELECT pe.key, COUNT(*) AS n_set
         FROM pe JOIN words ON pe.pos // {BLOOM_WORD_BITS} = words.word
         WHERE (words.w & ((1::BIGINT) << (pe.pos % {BLOOM_WORD_BITS}))) <> 0
         GROUP BY pe.key),
pass AS (SELECT key FROM hits WHERE n_set = {len(_BLOOM_AB)}),
s AS (SELECT (SELECT COUNT(*) FROM bk) AS n_build,
             (SELECT COUNT(*) FROM pk) AS n_probe,
             (SELECT COUNT(*) FROM pass) AS n_pass,
             (SELECT COUNT(*) FROM pk JOIN bk USING (key)) AS n_true)
SELECT n_build, n_probe, n_pass, n_true,
       CAST(n_pass - n_true AS DOUBLE) / CAST(n_probe - n_true AS DOUBLE)
           AS fp_rate
FROM s
"""


QUERIES = {
    "sketch_hll_distinct": (q_sketch_hll_distinct, SQL_SKETCH_HLL_DISTINCT),
    # r12: the grouped merge contract (split-build-fold == direct build)
    "sketch_hll_merge": (q_sketch_hll_merge, SQL_SKETCH_HLL_MERGE),
    # r12: its micro-batch twin — same direct-build oracle, registers
    # maintained through the real streaming engine
    "streaming_hll_registers": (
        q_streaming_hll_registers,
        SQL_SKETCH_HLL_MERGE,
    ),
    "sketch_theta_kmv": (q_sketch_theta_kmv, SQL_SKETCH_THETA_KMV),
    "sketch_bloom_prune": (q_sketch_bloom_prune, SQL_SKETCH_BLOOM_PRUNE),
    "sketch_countmin": (q_sketch_countmin, SQL_SKETCH_COUNTMIN),
    "sketch_histogram_quantiles": (
        q_sketch_histogram_quantiles,
        SQL_SKETCH_HISTOGRAM_QUANTILES,
    ),
}


def register_all() -> None:
    from . import harness

    for name, (fn, sql) in QUERIES.items():
        harness.register(name, fn, sql)
