"""Quantized k-means clustering over the ``embeddings`` table — the
clustering stage of semantic dedup / topic bucketing in a training-data
pipeline (reference has no vector ops; SURVEY.md §2.6 capability surface).

Lloyd's algorithm with every number an integer: embedding components are
quantized to round(x·10^6) BIGINTs, distances are exact integer squared-L2,
centroid updates are truncating integer division — so a fixed-iteration
run is bit-identical across engines AND partitionings, and the DuckDB
oracle is simply the iterations unrolled as CTEs (same pattern as
graph.pagerank_quantized).

Scale shape (the point of this implementation):
- Assignment is ZERO-shuffle: the k centroids ride an Arrow map closure
  and each batch finds its nearest centroids with one exact float64 GEMM
  (``_nearest``) — no k× row blowup, no groupBy.
- The centroid update shuffles only (cid, dim) partial sums: k·64 groups
  with map-side combine, bytes independent of row count.
- Overflow headroom: |x| ≤ 1 → q ≤ 2^20, diff² ≤ 2^42, ×64 dims ≤ 2^48;
  sums over ≤ 2^14 rows stay far below 2^63 at test scale, and at any
  scale the partial-aggregate tree keeps per-task sums bounded.

Empty clusters drop out of the recompute identically in both engines
(centroids are rebuilt only from observed assignments).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

Q_SCALE = 1_000_000          # component quantization: round(x * 1e6)
KM_K = 8
KM_ITERATIONS = 3
_DIM = 64

_VQ_EXPR = (
    "transform(embedding, x -> cast(round(cast(x as double) * 1000000.0, 0)"
    " as bigint))"
)

def kmeans_quantized(
    emb: DataFrame, k: int = KM_K, iterations: int = KM_ITERATIONS
) -> tuple[DataFrame, DataFrame]:
    """Return (assignments(vec_id, cid), centroids(cid, c: array<bigint>))
    after ``iterations`` Lloyd rounds, seeded with the vectors whose
    ``vec_id`` < k (deterministic init)."""
    # Materialize the quantized vectors once: every Lloyd round scans `e`
    # for assignment AND for the centroid update, and without truncation
    # the unrolled lineage re-reads the parquet + requantizes per round.
    e = emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq")).localCheckpoint(
        eager=True
    )
    return kmeans_on_vq(e, k, iterations)


def kmeans_on_vq(
    e: DataFrame, k: int = KM_K, iterations: int = KM_ITERATIONS
) -> tuple[DataFrame, DataFrame]:
    """Lloyd rounds over an ALREADY-QUANTIZED (vec_id, vq: array<bigint>)
    relation — the entry point the IVF-PQ residual chains use, where the
    input is integer residuals rather than a fresh quantization of the
    parquet column. ``e`` should be checkpointed (or a cheap projection
    of a checkpoint): each round scans it twice. Returns
    (assignments(vec_id, cid), centroids(cid, c)): ``kmeans_on_vq_grouped``
    over a single group."""
    assign, cent = kmeans_on_vq_grouped(
        e.select("vec_id", F.lit(0).alias("grp"), "vq"), k, iterations
    )
    return assign.drop("grp"), cent.drop("grp")


def _nearest(Q, C):
    """Row index into ``C`` of each row's nearest centroid by squared L2,
    computed as qq - 2·Q@Cᵀ + cc with one BLAS GEMM. EXACT on quantized
    inputs: components are integers with |q| ≤ 2^21, so every product,
    dot and distance term is an integer below 2^53 and float64 reproduces
    the JVM long arithmetic. ``argmin`` returns the first minimum, so with
    ``C`` sorted by id ties break to the lowest id."""
    qq = (Q * Q).sum(axis=1)
    cc = (C * C).sum(axis=1)
    return np.argmin(qq[:, None] - 2.0 * (Q @ C.T) + cc[None, :], axis=1)


def kmeans_on_vq_grouped(
    e: DataFrame, k: int = KM_K, iterations: int = KM_ITERATIONS
) -> tuple[DataFrame, DataFrame]:
    """Lloyd rounds over MANY independent problems at once: ``e`` is
    (vec_id, grp, vq) and each ``grp`` value is clustered separately,
    seeded per group by the rows with ``vec_id`` < k. Returns
    (assignments(vec_id, grp, cid), centroids(grp, cid, c)).

    Each round collects the m*k centroids (driver-sized by construction),
    ships them in an Arrow map closure, assigns every vector with
    ``_nearest`` and scatter-adds exact int64 per-(grp, cid) component
    sums, so only m*k*dim partial rows per batch reach the update
    shuffle. The new centroid is div(s, n), truncating toward zero;
    empty clusters drop out. Addition of integers is associative, so
    results are bit-identical for any partitioning or batching. The
    final round's assignment pass returns (vec_id, grp, cid) without
    the vq payload.

    Raises ``ValueError`` when ``k`` or ``iterations`` is below 1 or a
    group has no seed row."""
    if k < 1 or iterations < 1:
        raise ValueError(
            f"k and iterations must be >= 1, got k={k}, iterations={iterations}"
        )
    # posexplode tags arrive as int; pin to long so the Arrow batch dtype
    # matches the declared mapInPandas output schema exactly
    e = e.select(
        "vec_id", F.col("grp").cast("long").alias("grp"), "vq"
    )
    groups = Observation()
    cent = (
        e.observe(groups, F.collect_set("grp").alias("grps"))
        .filter(F.col("vec_id") < k)
        .select("grp", F.col("vec_id").alias("cid"), F.col("vq").alias("c"))
    )
    for it_round in range(iterations):
        by_grp: dict[int, list] = {}
        for r in cent.collect():  # m*k rows of dim ints — driver-sized
            by_grp.setdefault(int(r["grp"]), []).append(r)
        if it_round == 0:
            unseeded = set(groups.get["grps"]) - set(by_grp)
            if unseeded:
                raise ValueError(
                    f"groups {sorted(unseeded)} have no seed row (vec_id < {k})"
                )
        mats = {}
        for g, rows in by_grp.items():
            rows.sort(key=lambda r: r["cid"])
            mats[g] = (
                np.array([r["c"] for r in rows], dtype="int64").astype(
                    "float64"
                ),
                np.array([r["cid"] for r in rows], dtype="int64"),
            )

        def partial_batches(it, mats=mats):
            import pandas as pd

            for pdf in it:
                if not len(pdf):
                    continue
                grps = pdf["grp"].to_numpy()
                Qi_all = np.stack(pdf["vq"].to_numpy())  # int64, exact
                Q_all = Qi_all.astype("float64")
                out = {"grp": [], "cid": [], "pos": [], "s": [], "n": []}
                dim = Qi_all.shape[1]
                pos_tile = np.arange(dim, dtype="int32")
                for g in np.unique(grps):
                    C, cids = mats[int(g)]
                    sel = grps == g
                    idx = _nearest(Q_all[sel], C)
                    kk = C.shape[0]
                    cnt = np.bincount(idx, minlength=kk)
                    S = np.zeros((kk, dim), dtype="int64")
                    np.add.at(S, idx, Qi_all[sel])  # exact int64 sums
                    p = cnt > 0  # absent centroids emit nothing
                    npres = int(p.sum())
                    out["grp"].append(
                        np.full(npres * dim, int(g), dtype="int64")
                    )
                    out["cid"].append(np.repeat(cids[p], dim))
                    out["pos"].append(np.tile(pos_tile, npres))
                    out["s"].append(S[p].ravel())
                    out["n"].append(np.repeat(cnt[p].astype("int64"), dim))
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in out.items()}
                )

        sums = (
            e.mapInPandas(
                partial_batches, "grp long, cid long, pos int, s long, n long"
            )
            .groupBy("grp", "cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        cent = (
            sums.select("grp", "cid", "pos", F.expr("div(s, n)").alias("cq"))
            .groupBy("grp", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cq"))),
                    lambda st: st["cq"],
                ).alias("c")
            )
            # m*k rows: checkpointing is ~free and keeps the per-round
            # plan constant instead of nesting all prior rounds
            .localCheckpoint(eager=False)
        )

    def assign_batches(it, mats=mats):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            out_cid = np.empty(len(pdf), dtype="int64")
            grps = pdf["grp"].to_numpy()
            Q_all = np.stack(pdf["vq"].to_numpy()).astype("float64")
            for g in np.unique(grps):
                C, cids = mats[int(g)]
                sel = grps == g
                out_cid[sel] = cids[_nearest(Q_all[sel], C)]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "grp": grps, "cid": out_cid}
            )

    # the last round's assignment, against the centroids it updated from
    assign = e.mapInPandas(assign_batches, "vec_id long, grp long, cid long")
    return assign, cent


def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster profile after 3 quantized Lloyd rounds over the embeddings:
    size, vec_id checksum, and the (dequantized) centroid squared norm."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign, cent = kmeans_quantized(emb)
    prof = assign.groupBy("cid").agg(
        F.count("*").alias("n_members"), F.sum("vec_id").alias("sum_vec_id")
    )
    sq = cent.select(
        "cid",
        F.aggregate(
            F.transform("c", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("ss"),
    )
    return (
        prof.join(sq, "cid")
        .select(
            "cid",
            "n_members",
            "sum_vec_id",
            (F.col("ss").cast("double") / F.lit(1.0e12)).alias("centroid_sqnorm"),
        )
        .orderBy("cid")
    )


def _kmeans_cte_body(
    k: int = KM_K,
    iterations: int = KM_ITERATIONS,
    suffix: str = "",
    vq_sql: str | None = None,
    dim: int = _DIM,
    first: bool = True,
    source_sql: str = "embeddings",
) -> str:
    """WITH-clause chain ending at assignment ``a{suffix}{iterations}`` and
    centroids ``cent{suffix}{iterations}`` — shared by the profile,
    semantic-dedup, and IVF oracles. ``suffix``/``vq_sql``/``dim`` let the
    PQ oracle run one independent chain per subspace (sliced vectors)
    inside a single WITH; ``first=False`` emits a continuation chain;
    ``source_sql`` points the chain at a prior CTE instead of the base
    table (the IVF-PQ residual chains cluster ``res``, not embeddings)."""
    vq = vq_sql or (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
    )
    s = suffix
    # every stage MATERIALIZED: DuckDB default-inlines multiply-referenced
    # CTEs, and this chain is the exponential pattern — d{i} is referenced
    # twice (m{i}, a{i}) and recurses through cent{i-1} back to the head,
    # so inlining re-evaluates the whole prefix per reference. Measured on
    # the IVF-PQ recall oracle (which stacks m subspace chains on top of
    # this one): 356 s -> seconds at sf0.01. Semantics-preserving hint.
    head = f"""
{"WITH" if first else ","} e{s} AS MATERIALIZED (
    SELECT vec_id, {vq} AS vq FROM {source_sql}
),
pos{s} AS MATERIALIZED (SELECT unnest(range(1, {dim + 1})) AS pos),
cent{s}0 AS MATERIALIZED (SELECT vec_id AS cid, vq AS c FROM e{s} WHERE vec_id < {k})"""
    steps = []
    for i in range(1, iterations + 1):
        p = i - 1
        steps.append(f""",
d{s}{i} AS MATERIALIZED (
    SELECT e.vec_id, c.cid,
           CAST(list_sum(list_transform(range(1, {dim + 1}),
                j -> (e.vq[j] - c.c[j]) * (e.vq[j] - c.c[j]))) AS BIGINT) AS d
    FROM e{s} e CROSS JOIN cent{s}{p} c
),
m{s}{i} AS MATERIALIZED (SELECT vec_id, MIN(d) AS md FROM d{s}{i} GROUP BY vec_id),
a{s}{i} AS MATERIALIZED (
    SELECT d.vec_id, MIN(d.cid) AS cid
    FROM d{s}{i} d JOIN m{s}{i} m ON d.vec_id = m.vec_id AND d.d = m.md
    GROUP BY d.vec_id
),
s{s}{i} AS MATERIALIZED (
    SELECT a.cid, pos.pos,
           CAST(SUM(e.vq[pos.pos]) AS BIGINT) AS s, COUNT(*) AS n
    FROM a{s}{i} a JOIN e{s} e ON a.vec_id = e.vec_id CROSS JOIN pos{s} pos
    GROUP BY a.cid, pos.pos
),
cent{s}{i} AS MATERIALIZED (
    SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY pos) AS c
    FROM s{s}{i} GROUP BY cid
)""")
    return head + "".join(steps)


def _sql_kmeans(k: int = KM_K, iterations: int = KM_ITERATIONS) -> str:
    tail = f"""
SELECT a.cid,
       COUNT(*) AS n_members,
       CAST(SUM(a.vec_id) AS BIGINT) AS sum_vec_id,
       CAST(ANY_VALUE(cc.ss) AS DOUBLE) / 1000000000000.0 AS centroid_sqnorm
FROM a{iterations} a
JOIN (SELECT cid,
             CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS ss
      FROM cent{iterations}) cc ON a.cid = cc.cid
GROUP BY a.cid
ORDER BY a.cid
"""
    return _kmeans_cte_body(k, iterations) + tail


SQL_EMB_KMEANS = _sql_kmeans()


def q_emb_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: per-cluster within-cluster sum of
    squared (quantized) distances to the final centroid — the inertia the
    elbow method plots. Members join their centroid (broadcast, k rows)
    and the exact integer distance folds JVM-side; the oracle recomputes
    the identical quantity from its own unrolled Lloyd chain, so the two
    engines must agree on assignments AND centroids AND the metric."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign, cent = kmeans_quantized(emb)
    q = emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq"))
    dist = F.aggregate(
        F.zip_with("vq", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        assign.join(q, "vec_id")
        .join(F.broadcast(cent), "cid")
        .withColumn("d2", dist)
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("d2").cast("long").alias("inertia_q"),
        )
    )


def _sql_kmeans_inertia(k: int = KM_K, iterations: int = KM_ITERATIONS) -> str:
    tail = f"""
SELECT a.cid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CAST(list_sum(list_transform(range(1, {_DIM + 1}),
            j -> (e.vq[j] - c.c[j]) * (e.vq[j] - c.c[j]))) AS BIGINT))
            AS BIGINT) AS inertia_q
FROM a{iterations} a
JOIN e ON e.vec_id = a.vec_id
JOIN cent{iterations} c ON c.cid = a.cid
GROUP BY a.cid
"""
    return _kmeans_cte_body(k, iterations) + tail


# --------------------------------------------------------------------------
# Semantic dedup: cluster-bounded near-dup pair search
# --------------------------------------------------------------------------

SEMDEDUP_ITERATIONS = 2
COS_NUM, COS_DEN = 2, 5  # threshold 0.40 as an exact rational
# GEMM tile: peak per-worker memory in the semantic-dedup grouped map is
# TILE x cluster_size float64s, independent of cluster skew
SEMDEDUP_GEMM_TILE = 2048


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style near-duplicate pairs: partition the corpus with
    quantized k-means, then score cosine ONLY within each cluster — the
    O(n²/k) scale path versus the all-pairs O(n²) of emb_neardup_pairs.
    The pair join is an equi-join on cid (shuffle-partitioned by cluster,
    residual vec_id< and cosine predicates applied per partition), so at
    100 TB each cluster's quadratic work is an independent task and k is
    the knob trading recall for cost. Cross-cluster near-dups are missed
    by construction (that is the approximation)."""
    from .similarity import _qdot, _quantized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign, _ = kmeans_quantized(emb, iterations=SEMDEDUP_ITERATIONS)
    scored = (
        emb.select("vec_id", _quantized(F.col("embedding")).alias("q"))
        .withColumn("sq_norm", _qdot(F.col("q"), F.col("q")))
        .join(assign, "vec_id")
    )

    # Within-cluster scoring as one Arrow-batched grouped map: each cluster
    # lands on one task (same distribution as the cid equi-join it replaces)
    # and the pairwise dot products run as a single BLAS GEMM instead of
    # O(pairs x dim) Catalyst lambda evaluations (~3x on the whole query at
    # sf0.1). EXACT, not approximate-float: every product and partial sum
    # of the quantized vectors is an integer below 2^53 (|q_i| <= ~1e6, dim
    # 64 -> |dot| <= 6.4e13), so float64 GEMM returns the same integers the
    # JVM long arithmetic produced, and sqrt/divide are the identical IEEE
    # ops the expression version ran per pair.
    # The GEMM is tiled (row-chunks of Q against the full cluster) so peak
    # worker memory is TILE x n, not n x n: a large or skewed cluster costs
    # more time, never an OOM. Survivor pairs are threshold-filtered per
    # tile before materialization.
    TILE = SEMDEDUP_GEMM_TILE

    def _pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        Q = np.stack(pdf["q"].to_numpy()).astype("float64")
        nrm = np.sqrt(pdf["sq_norm"].to_numpy().astype("float64"))
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, TILE):
            e = min(s + TILE, n)
            cos = (Q[s:e] @ Q.T) / np.outer(nrm[s:e], nrm)
            ii, jj = np.nonzero(cos * COS_DEN > COS_NUM)
            keep = jj > ii + s  # strict upper triangle in global indices
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[ii + s])
            out_b.append(ids[jj])
            out_c.append(cos[ii, jj])
        a = np.concatenate(out_a) if out_a else np.array([], dtype="int64")
        b = np.concatenate(out_b) if out_b else np.array([], dtype="int64")
        c = np.concatenate(out_c) if out_c else np.array([], dtype="float64")
        return pd.DataFrame(
            {
                "vec_a": a,
                "vec_b": b,
                "cid": np.full(len(a), pdf["cid"].iloc[0]),
                "qcos": c,
            }
        )

    return scored.groupBy("cid").applyInPandas(
        _pairs, "vec_a long, vec_b long, cid long, qcos double"
    )


def _sql_semantic_dedup() -> str:
    from .similarity import _SQL_QUANT

    tail = f""",
qs AS (SELECT vec_id, {_SQL_QUANT} AS qv FROM embeddings),
ss AS (
    SELECT q.vec_id, q.qv,
           CAST(list_dot_product(q.qv, q.qv) AS BIGINT) AS sq_norm,
           a{SEMDEDUP_ITERATIONS}.cid
    FROM qs q JOIN a{SEMDEDUP_ITERATIONS} ON q.vec_id = a{SEMDEDUP_ITERATIONS}.vec_id
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cid,
       CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
           / (sqrt(CAST(a.sq_norm AS DOUBLE)) * sqrt(CAST(b.sq_norm AS DOUBLE)))
           AS qcos
FROM ss a JOIN ss b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
          / (sqrt(CAST(a.sq_norm AS DOUBLE)) * sqrt(CAST(b.sq_norm AS DOUBLE)))
          * {COS_DEN} > {COS_NUM}
"""
    return _kmeans_cte_body(KM_K, SEMDEDUP_ITERATIONS) + tail


SQL_EMB_SEMANTIC_DEDUP = _sql_semantic_dedup()


# --------------------------------------------------------------------------
# IVF probe-limited ANN, oracle-checkable
# --------------------------------------------------------------------------

IVF_NPROBE = 2
IVF_TOPK = 10


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-limited ANN with a DuckDB oracle: the float IVF in
    similarity.py (build_ivf_index/ivf_search) is the production API, but
    float centroid averaging isn't bit-stable across engines, so this
    driver-checkable twin runs the same probe-limited search shape on the
    QUANTIZED k-means partitioner — everything integer until the final
    cosine. Centroid-to-query ranking happens driver-side over k rows (the
    bounded-collect contract shared with the IVF/PQ codebooks); the scan
    then touches only the nprobe probed clusters — at scale, store the
    corpus partitioned by cid and this filter prunes whole files."""
    from .similarity import _qdot

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign, cent = kmeans_quantized(emb, iterations=SEMDEDUP_ITERATIONS)
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(F.expr(_VQ_EXPR).alias("vq"))
        .first()["vq"]
    ]

    def d2(c):
        return sum((a - b) * (a - b) for a, b in zip(c, qv))

    crows = cent.collect()
    probed = [
        int(r["cid"])
        for r in sorted(crows, key=lambda r: (d2(r["c"]), r["cid"]))[:IVF_NPROBE]
    ]
    qlit = F.array(*[F.lit(x).cast("long") for x in qv])
    qq = float(sum(x * x for x in qv))  # integer < 2^53, exact as double
    scored = (
        emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq"))
        .join(assign, "vec_id")
        .filter(F.col("cid").isin(probed) & (F.col("vec_id") != 0))
    )
    qcos = _qdot(F.col("vq"), qlit) / (
        F.sqrt(_qdot(F.col("vq"), F.col("vq")).cast("double"))
        * F.sqrt(F.lit(qq))
    )
    return (
        scored.select("vec_id", "cid", qcos.alias("qcos"))
        .orderBy(F.col("qcos").desc(), "vec_id")
        .limit(IVF_TOPK)
    )


def _sql_ivf_topk() -> str:
    i = SEMDEDUP_ITERATIONS
    tail = f""",
qv AS (SELECT vq FROM e WHERE vec_id = 0),
cdist AS (
    SELECT c.cid,
           CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                j -> (c.c[j] - q.vq[j]) * (c.c[j] - q.vq[j]))) AS BIGINT) AS d
    FROM cent{i} c CROSS JOIN qv q
),
probes AS (SELECT cid FROM cdist ORDER BY d, cid LIMIT {IVF_NPROBE})
SELECT e.vec_id,
       a.cid,
       CAST(list_dot_product(e.vq, q.vq) AS BIGINT)
           / (sqrt(CAST(CAST(list_dot_product(e.vq, e.vq) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(list_dot_product(q.vq, q.vq) AS BIGINT) AS DOUBLE)))
           AS qcos
FROM e JOIN a{i} a ON e.vec_id = a.vec_id
CROSS JOIN qv q
WHERE a.cid IN (SELECT cid FROM probes) AND e.vec_id <> 0
ORDER BY qcos DESC, e.vec_id
LIMIT {IVF_TOPK}
"""
    return _kmeans_cte_body(KM_K, SEMDEDUP_ITERATIONS) + tail


SQL_EMB_IVF_TOPK = _sql_ivf_topk()


def q_emb_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the probe-limited IVF search vs exact brute force —
    the standard ANN quality metric, as a one-row oracle-gated report
    (the similarity twin of dedup_minhash_recall: measure the
    approximate index before trusting it at corpus scale).

    Both sides score by the SAME quantized cosine, so the only
    difference is the probe restriction; recall < 1 exactly when a true
    neighbor lives in an unprobed cluster — the quantity the nprobe
    knob trades against scan cost. Exact side is one corpus scan + a
    k-row TakeOrdered; counts exact integers; the one ratio division is
    performed identically on both engines."""
    from .similarity import _qdot

    ivf = q_emb_ivf_topk(spark, sf_dir).select("vec_id").localCheckpoint(
        eager=True
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(F.expr(_VQ_EXPR).alias("vq"))
        .first()["vq"]
    ]
    qlit = F.array(*[F.lit(x).cast("long") for x in qv])
    qq = float(sum(x * x for x in qv))
    qcos = _qdot(F.col("vq"), qlit) / (
        F.sqrt(_qdot(F.col("vq"), F.col("vq")).cast("double"))
        * F.sqrt(F.lit(qq))
    )
    exact = (
        emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", qcos.alias("qcos"))
        .orderBy(F.col("qcos").desc(), "vec_id")
        .limit(IVF_TOPK)
        .select("vec_id")
    )
    hits = exact.join(ivf, "vec_id").agg(F.count("*").alias("n_hits"))
    return hits.select(
        F.lit(IVF_TOPK).cast("long").alias("k"),
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / IVF_TOPK).alias("recall_at_k"),
    )


def _sql_ivf_recall() -> str:
    i = SEMDEDUP_ITERATIONS
    tail = f""",
qv AS (SELECT vq FROM e WHERE vec_id = 0),
cdist AS (
    SELECT c.cid,
           CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                j -> (c.c[j] - q.vq[j]) * (c.c[j] - q.vq[j]))) AS BIGINT) AS d
    FROM cent{i} c CROSS JOIN qv q
),
probes AS (SELECT cid FROM cdist ORDER BY d, cid LIMIT {IVF_NPROBE}),
scored AS (
    SELECT e.vec_id,
           CAST(list_dot_product(e.vq, q.vq) AS BIGINT)
               / (sqrt(CAST(CAST(list_dot_product(e.vq, e.vq) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(list_dot_product(q.vq, q.vq) AS BIGINT) AS DOUBLE)))
               AS qcos,
           a.cid
    FROM e JOIN a{i} a ON e.vec_id = a.vec_id
    CROSS JOIN qv q
    WHERE e.vec_id <> 0
),
ivf AS (
    SELECT vec_id FROM scored
    WHERE cid IN (SELECT cid FROM probes)
    ORDER BY qcos DESC, vec_id LIMIT {IVF_TOPK}
),
exact AS (
    SELECT vec_id FROM scored ORDER BY qcos DESC, vec_id LIMIT {IVF_TOPK}
)
SELECT CAST({IVF_TOPK} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) AS BIGINT)
           AS n_hits,
       CAST((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) AS DOUBLE)
           / {IVF_TOPK} AS recall_at_k
"""
    return _kmeans_cte_body(KM_K, SEMDEDUP_ITERATIONS) + tail


SQL_EMB_IVF_RECALL_AT_K = _sql_ivf_recall()


# --------------------------------------------------------------------------
# PQ asymmetric-distance search + exact rerank, oracle-checkable
# --------------------------------------------------------------------------

PQ_M = 4
PQ_RERANK = 50
# IVF-PQ subspace codebooks train with ONE Lloyd round: with a 50-deep
# exact rerank the codebook only has to rank candidates coarsely, and each
# extra round costs a full chain on BOTH engines (the oracle unrolls it)
IVFPQ_PQ_ITERS = 1
# ...and compensates with a deeper exact rerank: the ADC estimate only has
# to land true neighbors in the top IVFPQ_RERANK of the probed cells, and
# 100 rows of exact cosine per query is noise at any scale
IVFPQ_RERANK = 100


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search with a DuckDB oracle — the
    billion-vector recipe, driver-verified: split vectors into PQ_M
    subspaces, k-means each independently (quantized/deterministic, same
    contract as emb_ivf_topk), encode every vector as its m centroid codes,
    score candidates with a per-subspace negative-squared-L2 lookup table
    (a pure projection over the codes: map lookups + adds, no vector math
    per row), exact-rerank the top PQ_RERANK by cosine on the original
    vectors, and return the top 10. All arithmetic integer until the final
    cosine, so both engines agree bit-for-bit. The float production API is
    similarity.build_pq_index/pq_search; this is its checkable twin."""
    from .similarity import _qdot

    sub_d = _DIM // PQ_M
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes = emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq"))
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(F.expr(_VQ_EXPR).alias("vq"))
        .first()["vq"]
    ]
    est = None
    for j in range(PQ_M):
        sub = emb.select(
            "vec_id", F.slice("embedding", j * sub_d + 1, sub_d).alias("embedding")
        )
        assign_j, cent_j = kmeans_quantized(sub, iterations=SEMDEDUP_ITERATIONS)
        codes = codes.join(
            assign_j.withColumnRenamed("cid", f"code_{j}"), "vec_id"
        )
        qsub = qv[j * sub_d : (j + 1) * sub_d]
        lut = {
            int(r["cid"]): -sum(
                (int(a) - b) * (int(a) - b) for a, b in zip(r["c"], qsub)
            )
            for r in cent_j.collect()
        }
        pairs = []
        for cid, val in sorted(lut.items()):
            pairs += [F.lit(cid).cast("long"), F.lit(val).cast("long")]
        term = F.element_at(F.create_map(*pairs), F.col(f"code_{j}"))
        est = term if est is None else est + term
    qq = float(sum(x * x for x in qv))
    qlit = F.array(*[F.lit(x).cast("long") for x in qv])
    cands = (
        codes.filter(F.col("vec_id") != 0)
        .withColumn("est", est)
        .orderBy(F.col("est").desc(), "vec_id")
        .limit(PQ_RERANK)
    )
    qcos = _qdot(F.col("vq"), qlit) / (
        F.sqrt(_qdot(F.col("vq"), F.col("vq")).cast("double"))
        * F.sqrt(F.lit(qq))
    )
    return (
        cands.select("vec_id", qcos.alias("qcos"))
        .orderBy(F.col("qcos").desc(), "vec_id")
        .limit(IVF_TOPK)
    )


def _sql_pq_topk() -> str:
    i = SEMDEDUP_ITERATIONS
    sub_d = _DIM // PQ_M
    parts = []
    for j in range(PQ_M):
        vq_sql = (
            f"list_transform(embedding[{j * sub_d + 1}:{(j + 1) * sub_d}],"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
        )
        parts.append(
            _kmeans_cte_body(
                KM_K, i, suffix=f"p{j}_", vq_sql=vq_sql, dim=sub_d,
                first=(j == 0),
            )
        )
    luts = []
    for j in range(PQ_M):
        luts.append(f""",
qv{j} AS (SELECT vq FROM ep{j}_ WHERE vec_id = 0),
lut{j} AS (
    SELECT c.cid,
           -CAST(list_sum(list_transform(range(1, {sub_d + 1}),
                jj -> (c.c[jj] - q.vq[jj]) * (c.c[jj] - q.vq[jj]))) AS BIGINT)
               AS nd
    FROM centp{j}_{i} c CROSS JOIN qv{j} q
)""")
    full_vq = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
    )
    joins = "\n    ".join(
        f"JOIN ap{j}_{i} a{j} ON a0.vec_id = a{j}.vec_id" for j in range(1, PQ_M)
    )
    lut_joins = "\n    ".join(
        f"JOIN lut{j} l{j} ON a{j}.cid = l{j}.cid" for j in range(PQ_M)
    )
    nd_sum = " + ".join(f"l{j}.nd" for j in range(PQ_M))
    tail = f""",
est AS (
    SELECT a0.vec_id, {nd_sum} AS est
    FROM ap0_{i} a0
    {joins}
    {lut_joins}
),
cands AS (
    SELECT vec_id FROM est WHERE vec_id <> 0
    ORDER BY est DESC, vec_id LIMIT {PQ_RERANK}
),
ef AS (SELECT vec_id, {full_vq} AS vq FROM embeddings),
qf AS (SELECT vq FROM ef WHERE vec_id = 0)
SELECT ef.vec_id,
       CAST(list_dot_product(ef.vq, q.vq) AS BIGINT)
           / (sqrt(CAST(CAST(list_dot_product(ef.vq, ef.vq) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(list_dot_product(q.vq, q.vq) AS BIGINT) AS DOUBLE)))
           AS qcos
FROM ef JOIN cands USING (vec_id) CROSS JOIN qf q
ORDER BY qcos DESC, ef.vec_id
LIMIT {IVF_TOPK}
"""
    return "".join(parts) + "".join(luts) + tail


SQL_EMB_PQ_TOPK = _sql_pq_topk()


# --------------------------------------------------------------------------
# IVF-PQ composed index: coarse cells + PQ-coded residuals + per-cell ADC
# --------------------------------------------------------------------------


def ivfpq_train(e: DataFrame) -> tuple[dict[int, list[int]], list[dict[int, list[int]]]]:
    """Train the composed index's model (VERDICT r06 item 3 / r07 item 3):
    coarse-quantize into KM_K cells, compute integer RESIDUALS against the
    assigned centroid, then product-quantize the residuals — PQ_M
    independent subspace k-means over the residual slices, codebooks
    shared across cells (the standard IVFADC layout: residual PQ needs
    ~one codebook set because residuals are centered regardless of cell).

    Returns driver-sized model state only:
      crows  {cid: 64 ints} coarse centroids
      books  [m] dicts {code: sub_d ints} subspace codebooks (m*k*sub_d)

    Encoding is a SEPARATE, pure step (``ivfpq_encode``): train once —
    on the corpus here, on a sample at 100 TB — then encode/append any
    number of batches against the frozen model.
    """
    sub_d = _DIM // PQ_M
    assign, cent = kmeans_on_vq(e, KM_K, SEMDEDUP_ITERATIONS)
    res = (
        e.join(assign, "vec_id")
        .join(F.broadcast(cent), "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with("vq", "c", lambda a, b: a - b).alias("rv"),
        )
        # m subspace chains each run IVFPQ_PQ_ITERS rounds over the
        # residuals; without truncation every round would replay the
        # coarse k-means lineage
        .localCheckpoint(eager=True)
    )
    # All PQ_M subspace codebooks train in ONE grouped Lloyd pipeline: tag
    # each residual slice with its subspace index and cluster per tag.
    sub_all = res.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("rv", j * sub_d + 1, sub_d)
                    for j in range(PQ_M)
                ]
            )
        ).alias("grp", "vq"),
    )
    _assign_all, cent_all = kmeans_on_vq_grouped(sub_all, KM_K, IVFPQ_PQ_ITERS)
    crows = {int(r["cid"]): [int(x) for x in r["c"]] for r in cent.collect()}
    books: list[dict[int, list[int]]] = [{} for _ in range(PQ_M)]
    for r in cent_all.collect():
        books[int(r["grp"])][int(r["cid"])] = [int(x) for x in r["c"]]
    return crows, books


def ivfpq_encode(
    e: DataFrame,
    crows: dict[int, list[int]],
    books: list[dict[int, list[int]]],
) -> DataFrame:
    """Encode (vec_id, vq) rows against a FROZEN model: coarse cell =
    argmin squared-L2 to the final centroids, residual against that
    centroid, code_j = argmin to subspace codebook j. One zero-shuffle
    Arrow pass (``_nearest`` GEMMs per batch, model shipped in the closure) —
    the 100-TB append path: new batches encode without touching training
    or existing codes, and ``build ≡ train + encode(any partition of the
    corpus)`` code-for-code because encoding is row-independent and
    deterministic (lowest-id tie break, exact float64 integer
    arithmetic: |component| ≤ 2^21 ⇒ every dot/distance term < 2^53).

    ``ivfpq_add_batch`` is this function — appending IS encoding."""
    sub_d = _DIM // PQ_M
    cids = np.array(sorted(crows), dtype="int64")
    C = np.array([crows[int(c)] for c in cids], dtype="int64").astype("float64")
    book_ids = [
        np.array(sorted(bk), dtype="int64") for bk in books
    ]
    B = [
        np.array([bk[int(c)] for c in ids], dtype="int64").astype("float64")
        for bk, ids in zip(books, book_ids)
    ]

    def enc(it, C=C, cids=cids, B=B, book_ids=book_ids):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            Q = np.stack(pdf["vq"].to_numpy()).astype("float64")
            idx = _nearest(Q, C)
            out = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cid": cids[idx],
            }
            R = Q - C[idx]
            for j in range(PQ_M):
                Rj = R[:, j * sub_d : (j + 1) * sub_d]
                out[f"code_{j}"] = book_ids[j][_nearest(Rj, B[j])]
            yield pd.DataFrame(out)

    schema = "vec_id long, cid long, " + ", ".join(
        f"code_{j} long" for j in range(PQ_M)
    )
    return e.mapInPandas(enc, schema)


# appending to a built index IS encoding against its frozen model
ivfpq_add_batch = ivfpq_encode


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Build = train + encode. Returns (e, crows, codes, books):
      e      checkpointed (vec_id, vq) quantized corpus
      crows  {cid: c} coarse centroids (driver-sized)
      codes  (vec_id, cid, code_0..code_{m-1}) — the 100-TB shape:
             m bytes + a cell id per vector, partitionable by cid
      books  [m] subspace codebooks
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq")).localCheckpoint(
        eager=True
    )
    crows, books = ivfpq_train(e)
    codes = ivfpq_encode(e, crows, books)
    return e, crows, codes, books


def ivfpq_search(
    e: DataFrame,
    crows: dict[int, list[int]],
    codes: DataFrame,
    codebooks: list[dict[int, list[int]]],
    qv: list[int],
) -> DataFrame:
    """ADC search over a built (or persisted-and-reloaded) index: probe
    the IVF_NPROBE nearest cells, score their codes via per-(cell,
    subspace) lookup tables, exact-rerank the top IVFPQ_RERANK by
    quantized cosine against ``e``."""
    from .similarity import _qdot

    sub_d = _DIM // PQ_M
    probed = sorted(
        crows,
        key=lambda cid: (
            sum((a - b) * (a - b) for a, b in zip(crows[cid], qv)),
            cid,
        ),
    )[:IVF_NPROBE]
    # ADC: the query's residual DIFFERS PER PROBED CELL (q - centroid_p),
    # so each (cell, subspace) pair gets its own k-entry negative-sq-L2
    # lookup table — nprobe*m*k driver-side ints, applied as a pure
    # projection over the codes (no per-row vector math).
    est = None
    for j in range(PQ_M):
        cell_term = None
        for p in probed:
            qres = [
                qv[i] - crows[p][i] for i in range(j * sub_d, (j + 1) * sub_d)
            ]
            pairs = []
            for code, cvec in sorted(codebooks[j].items()):
                nd = -sum((a - b) * (a - b) for a, b in zip(qres, cvec))
                pairs += [F.lit(code).cast("long"), F.lit(nd).cast("long")]
            term = F.element_at(F.create_map(*pairs), F.col(f"code_{j}"))
            cond = F.col("cid") == p
            cell_term = (
                F.when(cond, term)
                if cell_term is None
                else cell_term.when(cond, term)
            )
        est = cell_term if est is None else est + cell_term
    cands = (
        codes.filter(
            F.col("cid").isin([int(p) for p in probed])
            & (F.col("vec_id") != 0)
        )
        .withColumn("est", est)
        .orderBy(F.col("est").desc(), "vec_id")
        .limit(IVFPQ_RERANK)
    )
    qq = float(sum(x * x for x in qv))
    qlit = F.array(*[F.lit(x).cast("long") for x in qv])
    qcos = _qdot(F.col("vq"), qlit) / (
        F.sqrt(_qdot(F.col("vq"), F.col("vq")).cast("double"))
        * F.sqrt(F.lit(qq))
    )
    return (
        cands.join(e, "vec_id")
        .select("vec_id", qcos.alias("qcos"))
        .orderBy(F.col("qcos").desc(), "vec_id")
        .limit(IVF_TOPK)
    )


def _ivfpq_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, crows, codes, books = _ivfpq_index(spark, sf_dir)
    qv = [int(x) for x in e.filter(F.col("vec_id") == 0).first()["vq"]]
    return ivfpq_search(e, crows, codes, books, qv)


def ivfpq_write(
    spark: SparkSession,
    path: str,
    crows: dict[int, list[int]],
    books: list[dict[int, list[int]]],
    codes: DataFrame,
) -> None:
    """Persist a built index (VERDICT r07 item 3): codes partitioned by
    coarse cell — a probed search prunes whole directories and scans m
    longs + ids per vector, never the raw floats — plus the two
    driver-sized model tables. Amortizes the build: the sf0.01→0.1 bench
    slope of the in-memory query is flat precisely because the rebuild
    dominates; a persisted index pays it once."""
    codes.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/codes")
    spark.createDataFrame(
        [(int(cid), [int(x) for x in c]) for cid, c in sorted(crows.items())],
        "cid long, c array<long>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (j, int(code), [int(x) for x in vec])
            for j, bk in enumerate(books)
            for code, vec in sorted(bk.items())
        ],
        "grp long, cid long, c array<long>",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_read(
    spark: SparkSession, path: str
) -> tuple[dict[int, list[int]], list[dict[int, list[int]]], DataFrame]:
    """Load a persisted index: model tables collect driver-side (k·dim +
    m·k·sub_d ints), codes stay a distributed DataFrame. The partition
    column comes back as the directory key, so it is re-cast to long and
    the column order re-pinned for hash parity with the in-memory build."""
    crows = {
        int(r["cid"]): [int(x) for x in r["c"]]
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    books: list[dict[int, list[int]]] = [{} for _ in range(PQ_M)]
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        books[int(r["grp"])][int(r["cid"])] = [int(x) for x in r["c"]]
    codes = spark.read.parquet(f"{path}/codes").select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        *[f"code_{j}" for j in range(PQ_M)],
    )
    return crows, books, codes


def q_emb_ivfpq_persist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index persistence proof (VERDICT r07 item 3a): build → write the
    codes partitioned by cid + model tables → read back from disk →
    search the PERSISTED codes. The oracle is the same chain as
    emb_ivfpq_topk, so the round-trip must be hash-identical to the
    in-memory search — a dropped column, a partition-column type change,
    or a codebook row lost in serialization each flips the row red."""
    import shutil
    import tempfile

    e, crows, codes, books = _ivfpq_index(spark, sf_dir)
    qv = [int(x) for x in e.filter(F.col("vec_id") == 0).first()["vq"]]
    tmp = tempfile.mkdtemp(prefix="etl_ivfpq_")
    try:
        ivfpq_write(spark, tmp, crows, books, codes)
        crows2, books2, codes2 = ivfpq_read(spark, tmp)
        # rerank against a FRESH scan of the source table: nothing from
        # the build survives except the on-disk index + the corpus —
        # exactly what a later session searching the store would hold
        e2 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.expr(_VQ_EXPR).alias("vq")
        )
        out = ivfpq_search(e2, crows2, codes2, books2, qv).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_emb_ivfpq_add_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append proof (VERDICT r07 item 3b): train the model on
    part1 (vec_id % 10 != 7), encode part1 via the build path and part2
    via ivfpq_add_batch against the FROZEN model, and return the union of
    codes. The oracle trains on the same part1 filter and encodes the
    whole corpus in one pass — so build(part1) + add_batch(part2) must be
    code-for-code identical to encoding the full corpus, pinning that the
    encoder is deterministic, row-independent, and faithful to the
    frozen-codebook contract (no retraining hidden in the append)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq")).localCheckpoint(
        eager=True
    )
    part1 = e.filter(F.col("vec_id") % 10 != 7)
    part2 = e.filter(F.col("vec_id") % 10 == 7)
    crows, books = ivfpq_train(part1.localCheckpoint(eager=True))
    built = ivfpq_encode(part1, crows, books)
    appended = ivfpq_add_batch(part2, crows, books)
    return built.unionByName(appended)


def _sql_ivfpq_add_batch() -> str:
    code_cols = ",\n       ".join(
        f"cj{j}.cid AS code_{j}" for j in range(PQ_M)
    )
    code_joins = "\n    ".join(
        f"JOIN ac{j} cj{j} ON r.vec_id = cj{j}.vec_id" for j in range(PQ_M)
    )
    return _sql_ivfpq_encode_chain("vec_id % 10 <> 7") + f"""
SELECT r.vec_id, r.cid,
       {code_cols}
FROM resenc r
    {code_joins}
"""


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billion-vector index composed (IVF cells + PQ residual codes +
    per-cell ADC + exact rerank), driver-verified: search touches only
    the IVF_NPROBE probed cells, scores them from m byte-codes via
    lookup tables, exact-reranks the top IVFPQ_RERANK by quantized cosine,
    returns the top 10. Integer arithmetic end-to-end until the final
    cosine, so the DuckDB oracle (the same pipeline as relational CTEs:
    coarse chain → residual CTE → m subspace chains → join-based LUTs)
    agrees bit-for-bit. At 100 TB: store codes partitioned by cid — the
    probe filter prunes whole files and the scanned bytes are m bytes a
    vector, 64x below the raw floats."""
    return _ivfpq_topk_df(spark, sf_dir)


def q_emb_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF-PQ search against exact brute force
    (same metric row shape as emb_ivf_recall_at_k, at the same nprobe
    budget — the comparison the index must win or tie to justify its
    64x compression)."""
    from .similarity import _qdot

    ivfpq = _ivfpq_topk_df(spark, sf_dir).select("vec_id").localCheckpoint(
        eager=True
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(F.expr(_VQ_EXPR).alias("vq"))
        .first()["vq"]
    ]
    qlit = F.array(*[F.lit(x).cast("long") for x in qv])
    qq = float(sum(x * x for x in qv))
    qcos = _qdot(F.col("vq"), qlit) / (
        F.sqrt(_qdot(F.col("vq"), F.col("vq")).cast("double"))
        * F.sqrt(F.lit(qq))
    )
    exact = (
        emb.select("vec_id", F.expr(_VQ_EXPR).alias("vq"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", qcos.alias("qcos"))
        .orderBy(F.col("qcos").desc(), "vec_id")
        .limit(IVF_TOPK)
        .select("vec_id")
    )
    hits = exact.join(ivfpq, "vec_id").agg(F.count("*").alias("n_hits"))
    return hits.select(
        F.lit(IVF_TOPK).cast("long").alias("k"),
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / IVF_TOPK).alias("recall_at_k"),
    )


def _sql_ivfpq_encode_chain(train_pred: str | None = None) -> str:
    """WITH-chain through TRAIN (coarse Lloyd chain + residual grouped
    chains, over ``efull`` optionally filtered by ``train_pred``) and the
    pure ENCODE of the FULL corpus against the frozen model — mirroring
    ivfpq_train + ivfpq_encode: coarse cell = argmin vs the FINAL
    centroids cent{i} (an extra assignment round, NOT the last Lloyd
    assignment a{i}, which was made against cent{i-1}), residual against
    that centroid, code_j = argmin vs codebook centr{j}_{pq_i}. Ends at
    ``resenc`` (vec_id, cid, rv) and ``ac{j}`` (vec_id, cid) per
    subspace."""
    i = SEMDEDUP_ITERATIONS
    pq_i = IVFPQ_PQ_ITERS
    sub_d = _DIM // PQ_M
    vq = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
    )
    train_src = (
        "efull"
        if train_pred is None
        else f"(SELECT * FROM efull WHERE {train_pred})"
    )
    parts = [
        f"WITH efull AS (SELECT vec_id, {vq} AS vq FROM embeddings)",
        _kmeans_cte_body(
            KM_K, i, vq_sql="vq", first=False, source_sql=train_src
        ),
    ]
    parts.append(f""",
res AS (
    SELECT e.vec_id, a.cid,
           list_transform(range(1, {_DIM + 1}), j -> e.vq[j] - c.c[j]) AS rv
    FROM e JOIN a{i} a ON e.vec_id = a.vec_id
    JOIN cent{i} c ON a.cid = c.cid
)""")
    for j in range(PQ_M):
        parts.append(
            _kmeans_cte_body(
                KM_K,
                IVFPQ_PQ_ITERS,
                suffix=f"r{j}_",
                vq_sql=f"rv[{j * sub_d + 1}:{(j + 1) * sub_d}]",
                dim=sub_d,
                first=False,
                source_sql="res",
            )
        )
    # pure encode of the FULL corpus vs the frozen model
    parts.append(f""",
denc AS (
    SELECT e.vec_id, c.cid,
           CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                j -> (e.vq[j] - c.c[j]) * (e.vq[j] - c.c[j]))) AS BIGINT) AS d
    FROM efull e CROSS JOIN cent{i} c
),
menc AS (SELECT vec_id, MIN(d) AS md FROM denc GROUP BY vec_id),
aenc AS (
    SELECT d.vec_id, MIN(d.cid) AS cid
    FROM denc d JOIN menc m ON d.vec_id = m.vec_id AND d.d = m.md
    GROUP BY d.vec_id
),
resenc AS (
    SELECT e.vec_id, a.cid,
           list_transform(range(1, {_DIM + 1}), j -> e.vq[j] - c.c[j]) AS rv
    FROM efull e JOIN aenc a ON e.vec_id = a.vec_id
    JOIN cent{i} c ON a.cid = c.cid
)""")
    for j in range(PQ_M):
        parts.append(f""",
dc{j} AS (
    SELECT r.vec_id, cb.cid,
           CAST(list_sum(list_transform(range(1, {sub_d + 1}),
                jj -> (r.rv[{j * sub_d} + jj] - cb.c[jj])
                      * (r.rv[{j * sub_d} + jj] - cb.c[jj]))) AS BIGINT) AS d
    FROM resenc r CROSS JOIN centr{j}_{pq_i} cb
),
mc{j} AS (SELECT vec_id, MIN(d) AS md FROM dc{j} GROUP BY vec_id),
ac{j} AS (
    SELECT d.vec_id, MIN(d.cid) AS cid
    FROM dc{j} d JOIN mc{j} m ON d.vec_id = m.vec_id AND d.d = m.md
    GROUP BY d.vec_id
)""")
    return "".join(parts)


def _sql_ivfpq_core() -> str:
    """Shared WITH-chain for the IVF-PQ search oracles, ending at
    ``cands`` (the reranked candidate ids) with ``efull``/``qv``
    available for the final cosine."""
    i = SEMDEDUP_ITERATIONS
    pq_i = IVFPQ_PQ_ITERS
    sub_d = _DIM // PQ_M
    parts = [_sql_ivfpq_encode_chain()]
    parts.append(f""",
qv AS (SELECT vq FROM efull WHERE vec_id = 0),
cdist AS (
    SELECT c.cid,
           CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                j -> (c.c[j] - q.vq[j]) * (c.c[j] - q.vq[j]))) AS BIGINT) AS d
    FROM cent{i} c CROSS JOIN qv q
),
probes AS (SELECT cid FROM cdist ORDER BY d, cid LIMIT {IVF_NPROBE}),
qres AS (
    SELECT p.cid,
           list_transform(range(1, {_DIM + 1}), j -> q.vq[j] - c.c[j]) AS qr
    FROM probes p JOIN cent{i} c ON p.cid = c.cid CROSS JOIN qv q
)""")
    for j in range(PQ_M):
        parts.append(f""",
lut{j} AS (
    SELECT qr.cid AS pcid, cb.cid AS code,
           -CAST(list_sum(list_transform(range(1, {sub_d + 1}),
                jj -> (qr.qr[{j * sub_d} + jj] - cb.c[jj])
                      * (qr.qr[{j * sub_d} + jj] - cb.c[jj]))) AS BIGINT)
               AS nd
    FROM qres qr CROSS JOIN centr{j}_{pq_i} cb
)""")
    code_joins = "\n    ".join(
        f"JOIN ac{j} cj{j} ON r.vec_id = cj{j}.vec_id"
        for j in range(PQ_M)
    )
    lut_joins = "\n    ".join(
        f"JOIN lut{j} l{j} ON l{j}.pcid = r.cid AND l{j}.code = cj{j}.cid"
        for j in range(PQ_M)
    )
    nd_sum = " + ".join(f"l{j}.nd" for j in range(PQ_M))
    parts.append(f""",
est AS (
    SELECT r.vec_id, {nd_sum} AS est
    FROM resenc r
    {code_joins}
    {lut_joins}
    WHERE r.vec_id <> 0
),
cands AS (SELECT vec_id FROM est ORDER BY est DESC, vec_id LIMIT {IVFPQ_RERANK})""")
    return "".join(parts)


_SQL_QCOS_E = """CAST(list_dot_product(e.vq, q.vq) AS BIGINT)
           / (sqrt(CAST(CAST(list_dot_product(e.vq, e.vq) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(list_dot_product(q.vq, q.vq) AS BIGINT) AS DOUBLE)))"""


def _sql_ivfpq_topk() -> str:
    return _sql_ivfpq_core() + f"""
SELECT e.vec_id,
       {_SQL_QCOS_E} AS qcos
FROM efull e JOIN cands USING (vec_id) CROSS JOIN qv q
ORDER BY qcos DESC, e.vec_id
LIMIT {IVF_TOPK}
"""


def _sql_ivfpq_recall() -> str:
    return _sql_ivfpq_core() + f""",
ivfpq AS (
    SELECT e.vec_id, {_SQL_QCOS_E} AS qcos
    FROM efull e JOIN cands USING (vec_id) CROSS JOIN qv q
    ORDER BY qcos DESC, e.vec_id LIMIT {IVF_TOPK}
),
exact AS (
    SELECT e.vec_id
    FROM efull e CROSS JOIN qv q
    WHERE e.vec_id <> 0
    ORDER BY {_SQL_QCOS_E} DESC, e.vec_id LIMIT {IVF_TOPK}
)
SELECT CAST({IVF_TOPK} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN ivfpq USING (vec_id)) AS BIGINT)
           AS n_hits,
       CAST((SELECT COUNT(*) FROM exact JOIN ivfpq USING (vec_id)) AS DOUBLE)
           / {IVF_TOPK} AS recall_at_k
"""


SQL_EMB_IVFPQ_TOPK = _sql_ivfpq_topk()
SQL_EMB_IVFPQ_RECALL_AT_K = _sql_ivfpq_recall()
SQL_EMB_IVFPQ_ADD_BATCH = _sql_ivfpq_add_batch()


QUERIES = {
    "emb_kmeans": (q_emb_kmeans, SQL_EMB_KMEANS),
    "emb_kmeans_inertia": (q_emb_kmeans_inertia, _sql_kmeans_inertia()),
    "emb_semantic_dedup": (q_emb_semantic_dedup, SQL_EMB_SEMANTIC_DEDUP),
    "emb_ivf_topk": (q_emb_ivf_topk, SQL_EMB_IVF_TOPK),
    "emb_ivf_recall_at_k": (q_emb_ivf_recall_at_k, SQL_EMB_IVF_RECALL_AT_K),
    "emb_pq_topk": (q_emb_pq_topk, SQL_EMB_PQ_TOPK),
    "emb_ivfpq_topk": (q_emb_ivfpq_topk, SQL_EMB_IVFPQ_TOPK),
    "emb_ivfpq_recall_at_k": (
        q_emb_ivfpq_recall_at_k,
        SQL_EMB_IVFPQ_RECALL_AT_K,
    ),
    "emb_ivfpq_persist_roundtrip": (
        q_emb_ivfpq_persist_roundtrip,
        SQL_EMB_IVFPQ_TOPK,
    ),
    "emb_ivfpq_add_batch": (
        q_emb_ivfpq_add_batch,
        SQL_EMB_IVFPQ_ADD_BATCH,
    ),
}
