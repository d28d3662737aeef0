"""Corpus indexing / statistical-LM operators over the ``documents`` table:
TF-IDF keyword extraction, inverted-index construction, corpus-unigram
surprisal scoring (CCNet-style quality signal), and cross-source overlap
detection.

The reference framework (Julian96/pandas-etl-framework) has no text surface
at all (SURVEY.md §2.6 — aggregations/windows absent; its only hashing is the
row-identity md5, ``MetaColumnHelpers.py:91-97``); these are capability
extensions for the training-data-pipeline north star, built the same way as
the rest of the llmops family: pure JVM-side built-ins, no Python UDFs.

Cross-engine exactness: every score that involves a logarithm is quantized
with ``FLOOR(1e6 * LN(x))`` over doubles derived from identical integers —
libm vs java.lang.Math agree to ~1 ulp, so a floor at the 1e-6 grid collides
with a boundary with probability ~1e-9 per distinct input; all downstream
arithmetic is integer or a single IEEE division of identical integers.

Scale posture (100 TB): term frequencies are a (doc, term) groupBy with
map-side partial aggregation; document frequencies a second groupBy over the
already-reduced tf table; the df→tf join broadcasts (vocabulary ≪ corpus);
posting lists are bounded BEFORE collection via a per-term row_number filter
(never an unbounded collect_set); the per-document top-k is a window over
doc_id which co-partitions with the tf shuffle.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..scale import maybe_broadcast

TOPK_TERMS = 3          # keywords kept per document
POSTINGS_CAP = 8        # doc ids kept per inverted-index posting list
LN_SCALE = 1_000_000    # quantization grid for logarithm-valued scores


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _term_freq_of(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) for an arbitrary docs slice — one shuffle,
    map-side combined; also the posting partials an incremental index
    store holds per ingest batch. The single tokenization definition:
    every consumer (full recompute AND incremental fold) goes through
    here, so the two paths cannot silently diverge."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _term_freq_of(_docs(spark, sf_dir))


_SQL_TF = r"""
tf AS (
    SELECT doc_id, u.t AS term, COUNT(*) AS tf
    FROM docs, UNNEST(string_split_regex(trim(text), '\s+')) AS u(t)
    GROUP BY doc_id, u.t
)
"""


# --------------------------------------------------------------------------
# TF-IDF keyword extraction
# --------------------------------------------------------------------------

def tfidf_topk(
    docs_tf: DataFrame,
    n_docs: "int | DataFrame",
    k: int = TOPK_TERMS,
) -> DataFrame:
    """Top-``k`` terms per document by quantized TF-IDF.

    ``score_q = tf * FLOOR(1e6 * ln(N / df))`` — integer once the idf is
    quantized, so ranking and output are engine-exact.  Ties break on term
    text ascending (deterministic).

    ``n_docs`` is either a known int, or a 1-row DataFrame with column
    ``n_docs`` — the latter folds the corpus count into the plan as a
    broadcast singleton (no eager driver-side ``.count()`` job), the same
    one-lazy-plan idiom as rel_dq_constraints' row-count join. Both paths
    share this single implementation.

    The per-term document-frequency table is VOCABULARY-sized; its
    broadcast hint is config-gated (withheld when the session disables
    broadcasting via ``autoBroadcastJoinThreshold <= 0``), so at corpus
    scale — word vocabularies reach 10^8+ terms — disabling the
    threshold turns the join into an ordinary term-key shuffle with no
    code change.
    """
    df_tbl = docs_tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    base = docs_tf.join(maybe_broadcast(df_tbl), "term")
    if isinstance(n_docs, DataFrame):
        base = base.crossJoin(F.broadcast(n_docs))
        n_col = F.col("n_docs").cast("double")
    else:
        n_col = F.lit(float(n_docs))
    idf_q = F.floor(
        F.log(n_col / F.col("df").cast("double")) * LN_SCALE
    ).cast("bigint")
    scored = base.withColumn("score_q", (F.col("tf") * idf_q).cast("bigint"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "score_q", "rk")
    )


def q_text_tfidf_topk(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n_docs_df = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    # tf feeds the document-frequency aggregation AND the scoring join's
    # probe side — diverging consumers, so the tokenize + (doc_id, term)
    # count ran twice per pass (r16 scan census: 3 scans). One eager
    # checkpoint halves it (the rrf-fusion entry already materializes
    # its shared tf the same way).
    return tfidf_topk(
        _term_freq(spark, sf_dir).localCheckpoint(eager=True), n_docs_df
    )


def _sql_tfidf_topk() -> str:
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF},
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           CAST(tf.tf * CAST(FLOOR(LN(CAST(n.n_docs AS DOUBLE)
                / CAST(dfreq.df AS DOUBLE)) * {LN_SCALE}) AS BIGINT)
                AS BIGINT) AS score_q
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_q DESC, term ASC) AS rk
    FROM scored
)
SELECT doc_id, term, tf, df, score_q, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {TOPK_TERMS}
"""


# --------------------------------------------------------------------------
# Inverted index
# --------------------------------------------------------------------------

def inverted_index(docs_tf: DataFrame, cap: int = POSTINGS_CAP) -> DataFrame:
    """Per-term posting summary: document frequency, total term frequency,
    and the first ``cap`` doc ids (ascending).

    The posting list is bounded BEFORE aggregation (row_number ≤ cap, then
    collect) — per-term state is O(cap), never O(df), which is what makes
    this safe when a stopword's df is a billion documents.
    """
    stats = docs_tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    w = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    heads = (
        docs_tf.select("term", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings"))
    )
    return stats.join(heads, "term").select(
        "term", "df", "total_tf", "postings"
    )


def q_text_inverted_index(spark, sf_dir):
    # The library form keeps postings as array<long>; the driver-facing
    # projection serializes it (the driver's pandas canonicalizer cannot
    # sort/hash list-typed columns).
    out = inverted_index(_term_freq(spark, sf_dir))
    return out.withColumn(
        "postings", F.array_join(F.col("postings").cast("array<string>"), ",")
    )


def _sql_inverted_index() -> str:
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF},
stats AS (
    SELECT term, COUNT(*) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM tf GROUP BY term
),
ranked AS (
    SELECT term, doc_id,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id ASC) AS rk
    FROM tf
),
heads AS (
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM ranked WHERE rk <= {POSTINGS_CAP} GROUP BY term
)
SELECT stats.term, stats.df, stats.total_tf, heads.postings
FROM stats JOIN heads USING (term)
"""


# --------------------------------------------------------------------------
# Corpus-unigram surprisal (statistical-LM quality signal)
# --------------------------------------------------------------------------

def unigram_surprisal(docs_tf: DataFrame) -> DataFrame:
    """Per-document mean unigram surprisal under the corpus LM.

    For each token w: surprisal_q(w) = FLOOR(1e6 * ln(T / c_w)) where c_w is
    the corpus count of w and T the total token count — the quantized
    -ln p(w).  Per document we report the token count, the integer surprisal
    sum, and the mean (one IEEE division of identical integers, so exact
    across engines).  High mean surprisal = rare-token-heavy document: the
    same screening CCNet does with a KenLM, with the corpus itself as the LM.

    The corpus unigram table is vocabulary-sized; its broadcast hint is
    config-gated like ``tfidf_topk``'s — disable the session broadcast
    threshold at corpus scale and the join shuffles on the term key.
    """
    corpus = docs_tf.groupBy("term").agg(F.sum("tf").alias("cw"))
    total = corpus.agg(F.sum("cw").alias("t_total"))
    surp_q = F.floor(
        F.log(F.col("t_total").cast("double") / F.col("cw").cast("double"))
        * LN_SCALE
    ).cast("bigint")
    return (
        docs_tf.join(maybe_broadcast(corpus), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("tok_surp_q", F.col("tf") * surp_q)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("tok_surp_q").alias("surprisal_sum_q"),
        )
        .withColumn(
            "mean_surprisal_micro",
            F.col("surprisal_sum_q").cast("double")
            / F.col("n_tokens").cast("double"),
        )
    )


def q_text_unigram_logprob(spark, sf_dir):
    return unigram_surprisal(_term_freq(spark, sf_dir))


def _sql_unigram_logprob() -> str:
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF},
corpus AS (SELECT term, SUM(tf) AS cw FROM tf GROUP BY term),
tot AS (SELECT SUM(cw) AS t_total FROM corpus),
scored AS (
    SELECT tf.doc_id, tf.tf,
           tf.tf * CAST(FLOOR(LN(CAST(tot.t_total AS DOUBLE)
                / CAST(corpus.cw AS DOUBLE)) * {LN_SCALE}) AS BIGINT)
               AS tok_surp_q
    FROM tf JOIN corpus USING (term) CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tok_surp_q) AS BIGINT) AS surprisal_sum_q,
       CAST(SUM(tok_surp_q) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
           AS mean_surprisal_micro
FROM scored GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Corpus-bigram surprisal (add-one-smoothed bigram LM, CCNet-style filter)
# --------------------------------------------------------------------------

def bigram_freq(docs: DataFrame) -> DataFrame:
    """(doc_id, bigram, tfb): word bigrams built shuffle-free in the scan
    projection (``zip_with`` over two slices — no window, no posexplode
    ordering shuffle), then one map-side-combined count shuffle."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("t"))
    n = F.size(F.col("t"))
    big = F.zip_with(
        F.slice(F.col("t"), 1, n - 1),
        F.slice(F.col("t"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select("doc_id", F.explode(big).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tfb"))
    )


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram surprisal under an add-one-smoothed corpus
    bigram LM — the CCNet screening shape with the corpus itself as the LM.

    For each bigram (w1,w2): surp_q = FLOOR(1e6 * ln((c(w1·)+V)/(c(w1,w2)+1)))
    — the quantized -ln of the Laplace-smoothed P(w2|w1), where c(w1·) is
    w1's left-context count and V the unigram vocabulary size.

    Scale shape: the doc-bigram ⋈ corpus-bigram join shuffles on the bigram
    key — at 100 TB the bigram vocabulary is far past broadcast range, so
    the shuffle join IS the right plan, and the left-context table is
    derived FROM the corpus aggregate, not from a corpus re-scan. V is a
    broadcast singleton. All arithmetic integer-or-single-division;
    engine-exact at the 1e-6 ln grid.

    The doc-bigram relation feeds three consumers (probe side, corpus
    counts, and — via those — left contexts); Catalyst does not reuse an
    exchange whose consumers diverge, so without materialization the
    tokenize+count subtree would run three times. ``localCheckpoint``
    (lazy) cuts that to once — per-executor disk on a cluster, the same
    trade the MinHash/PPJoin paths make (dedup.py).
    """
    db = bigram_freq(docs).localCheckpoint(eager=False)
    corpus_b = db.groupBy("bigram").agg(F.sum("tfb").alias("cb"))
    left_ctx = (
        corpus_b.groupBy(
            F.substring_index(F.col("bigram"), " ", 1).alias("w1")
        ).agg(F.sum("cb").alias("cleft"))
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    vocab = (
        docs.select(F.explode(toks).alias("term"))
        .agg(F.count_distinct("term").cast("long").alias("v"))
    )
    surp_q = F.floor(
        F.log(
            (F.col("cleft") + F.col("v")).cast("double")
            / (F.col("cb") + 1).cast("double")
        )
        * LN_SCALE
    ).cast("long")
    return (
        db.join(corpus_b, "bigram")
        .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
        .join(left_ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("big_surp_q", F.col("tfb") * surp_q)
        .groupBy("doc_id")
        .agg(
            F.sum("tfb").alias("n_bigrams"),
            F.sum("big_surp_q").alias("surprisal_sum_q"),
        )
        .withColumn(
            "mean_surprisal_micro",
            F.col("surprisal_sum_q").cast("double")
            / F.col("n_bigrams").cast("double"),
        )
    )


def q_text_bigram_logprob(spark, sf_dir):
    return bigram_surprisal(_docs(spark, sf_dir))


def kn_surprisal(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram surprisal under an interpolated
    Kneser-Ney corpus bigram LM (Kneser & Ney 1995; the Chen & Goodman
    1999 interpolated form) — the KenLM-shaped perplexity filter CCNet
    runs over Common Crawl, with the corpus itself as the LM and the
    standard fixed discount D = 3/4.

        P_KN(w2|w1) = max(c(w1,w2) - D, 0)/c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    With D = 3/4 the probability is the exact rational

        num = max(4·c - 3, 0)·N1+(··) + 3·N1+(w1·)·N1+(·w2)
        den = 4·c(w1·)·N1+(··)

    and surp_q = FLOOR(ln(den/num)·LN_SCALE) — integer numerator and
    denominator built in decimal(38,0) (counts multiply counts: bigint
    would overflow near ~3e9 corpus bigrams), ONE double division, one
    ln on the same exact integers in both engines, so the quantized
    grid agrees bit-for-bit (the bigram_surprisal precedent). Every
    scored bigram is observed (the corpus contains the document), so
    c >= 1 and num >= N1+(··) > 0 — no log-of-zero branch.

    Scale shape: identical to bigram_surprisal — the doc-bigram ⋈
    corpus-bigram join shuffles on the bigram key (the right plan past
    broadcast range); the left-context stats (c(w1·), N1+(w1·)), the
    continuation stats (N1+(·w2)) and the bigram-type total N1+(··) are
    all derived FROM the corpus aggregate, never a corpus re-scan; the
    type total is a broadcast singleton. localCheckpoint cuts the
    tokenize+count subtree to one execution across its three consumers.
    """
    db = bigram_freq(docs).localCheckpoint(eager=False)
    corpus_b = (
        db.groupBy("bigram")
        .agg(F.sum("tfb").alias("cb"))
        .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
        .withColumn("w2", F.substring_index(F.col("bigram"), " ", -1))
        .localCheckpoint(eager=False)
    )
    left_stats = corpus_b.groupBy("w1").agg(
        F.sum("cb").alias("cleft"), F.count(F.lit(1)).alias("n1p_left")
    )
    right_stats = corpus_b.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_right")
    )
    n1p_all = corpus_b.agg(F.count(F.lit(1)).alias("n1p_all"))
    dec = "decimal(38,0)"
    num = (
        F.greatest(4 * F.col("cb") - 3, F.lit(0)).cast(dec)
        * F.col("n1p_all").cast(dec)
        + F.lit(3).cast(dec)
        * F.col("n1p_left").cast(dec)
        * F.col("n1p_right").cast(dec)
    )
    den = (
        F.lit(4).cast(dec) * F.col("cleft").cast(dec)
        * F.col("n1p_all").cast(dec)
    )
    surp_q = F.floor(
        F.log(den.cast("double") / num.cast("double")) * LN_SCALE
    ).cast("long")
    return (
        db.join(corpus_b.select("bigram", "cb", "w1", "w2"), "bigram")
        .join(left_stats, "w1")
        .join(right_stats, "w2")
        .crossJoin(F.broadcast(n1p_all))
        .withColumn("kn_surp_q", F.col("tfb") * surp_q)
        .groupBy("doc_id")
        .agg(
            F.sum("tfb").alias("n_bigrams"),
            F.sum("kn_surp_q").alias("kn_surprisal_sum_q"),
        )
        .withColumn(
            "mean_kn_surprisal_micro",
            F.col("kn_surprisal_sum_q").cast("double")
            / F.col("n_bigrams").cast("double"),
        )
    )


def q_text_kn_logprob(spark, sf_dir):
    return kn_surprisal(_docs(spark, sf_dir))


def q_text_ccnet_buckets(spark, sf_dir):
    """CCNet's perplexity bucketing (Wenzek et al. 2020): rank every
    document by its LM surprisal — here the interpolated Kneser-Ney
    corpus bigram LM of :func:`kn_surprisal` — and split the corpus into
    head / middle / tail terciles (bucket 1 = most fluent), the standard
    keep-head/sample-middle/drop-tail curation stage. Ordering is
    (mean surprisal, doc_id): the mean is ONE double division of exact
    integers in both engines, so the global order and therefore every
    NTILE edge is engine-identical.

    CONTRACT (ADVICE r12): documents with fewer than 2 tokens have no
    bigrams, are unscoreable under a bigram LM, and are EXCLUDED — the
    terciles partition the scoreable corpus only (kn_surprisal's inner
    joins drop them in both engines, so the gate exercises the same
    shape). CCNet itself buckets the whole corpus; a caller needing
    that contract should left-join the document relation and route
    zero-bigram rows to a sentinel bucket before filtering.

    SCALE NOTE (r13): the exact global NTILE is a single-partition
    window — a GATE-SCALE DIAGNOSTIC in the hyperball-exact-leg class,
    NOT the 100-TB plan. The production form ships as its own oracle
    row, :func:`q_text_ccnet_cutoffs`: tercile cutoffs computed by
    distributed selection (or approxQuantile at corpus scale),
    broadcast, and assigned in the scan — same output, same oracle, no
    single-partition stage. Scale consumers use that row; this one
    exists to pin the NTILE edges bit-for-bit."""
    from pyspark.sql import Window

    kn = kn_surprisal(_docs(spark, sf_dir))
    w = Window.orderBy(
        F.col("mean_kn_surprisal_micro").asc(), F.col("doc_id")
    )
    return kn.select(
        "doc_id",
        "n_bigrams",
        "mean_kn_surprisal_micro",
        F.ntile(3).over(w).alias("ppl_bucket"),
    )


def _sql_ccnet_buckets() -> str:
    kn = _sql_kn_logprob()
    return f"""
WITH kn AS ({kn})
SELECT doc_id, n_bigrams, mean_kn_surprisal_micro,
       CAST(NTILE(3) OVER (
           ORDER BY mean_kn_surprisal_micro, doc_id
       ) AS INTEGER) AS ppl_bucket
FROM kn
"""


def _ntile_boundary_ranks(n: int, buckets: int) -> list[int]:
    """1-based ranks of the LAST row of buckets 1..buckets-1 under SQL
    NTILE semantics: sizes are q = n // buckets with the first n % buckets
    buckets taking one extra row, so boundary i sits at i*q + min(i, r).
    Empty input yields no boundaries; n < buckets collapses boundaries
    onto shared ranks (NTILE then leaves trailing buckets empty)."""
    if n <= 0:
        return []
    q, r = divmod(n, buckets)
    return [i * q + min(i, r) for i in range(1, buckets)]


def exact_rank_select(
    df: DataFrame, order_cols: list[str], ranks_fn
) -> tuple[int, dict[int, tuple]]:
    """Distributed exact order-statistic selection: the rows at the
    1-based ranks ``ranks_fn(n_rows)`` of ``df`` ordered by
    ``order_cols``, WITHOUT a single-partition global sort. ``ranks_fn``
    is a callable because the interesting ranks (quantile edges) depend
    on the total count, which this helper's first pass establishes.
    Returns ``(n_rows, {rank: row_tuple})``.

    Shape: range-repartition on the order key (equal keys co-locate, so
    partition-local ranks + broadcast partition offsets compose to exact
    global ranks), per-partition counts collected (<= #shuffle-partitions
    driver rows), then one Window PARTITIONED BY the partition id — never
    a single-partition window — filters to the requested ranks. The
    repartitioned relation is localCheckpointed once so the count job and
    the rank job observe identical partition ids.
    """
    from pyspark.sql.window import Window as W

    base = (
        df.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in base.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    n = sum(counts.values())
    want = sorted({r for r in ranks_fn(n) if 1 <= r <= n})
    if not want:
        return n, {}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = W.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    hits = (
        base.withColumn(
            "_rn", F.row_number().over(w) + off[F.col("_pid")]
        )
        .filter(F.col("_rn").isin(want))
        .select("_rn", *order_cols)
        .collect()  # <= len(ranks) rows by construction
    )
    by_rank = {r["_rn"]: tuple(r[c] for c in order_cols) for r in hits}
    return n, by_rank


def ccnet_bucket_cutoffs(
    kn: DataFrame, buckets: int = 3, exact: bool = True,
    relative_error: float = 1e-3,
) -> tuple[int, list[tuple]]:
    """The CCNet production form of perplexity bucketing (VERDICT r12
    item 2): compute the ``buckets - 1`` tercile CUTOFFS once, broadcast
    them, and assign buckets in the scan — replacing
    :func:`q_text_ccnet_buckets`' exact global NTILE, which is a
    single-partition window and therefore a gate-scale diagnostic only.

    Returns ``(n_scoreable_docs, cutoffs)`` where each cutoff is the
    ``(mean_kn_surprisal_micro, doc_id)`` pair closing bucket i — a
    bounded driver-side relation (``buckets - 1`` rows) whatever the
    corpus size. The approx path returns ``n = -1``: its one-pass
    contract forbids the extra corpus-sized count.

    ``exact=True`` (the oracle-pinnable form) runs the distributed
    order-statistic selection of :func:`exact_rank_select` — one extra
    range shuffle of the doc-level score relation, no single-partition
    stage, exact NTILE edges. ``exact=False`` is the at-scale variant
    CCNet itself ships (Wenzek et al. 2020 compute cutoffs from a
    sample): ``approxQuantile`` on the mean with ``relative_error``,
    one pass, no shuffle at all; doc_id tiebreaks are meaningless at
    epsilon precision so each cutoff carries ``None`` there, which the
    assigner compiles to a plain mean-only comparison.
    """
    cols = ["mean_kn_surprisal_micro", "doc_id"]
    if exact:
        n, by_rank = exact_rank_select(
            kn, cols, lambda n: _ntile_boundary_ranks(n, buckets)
        )
        return n, [
            by_rank[k] for k in _ntile_boundary_ranks(n, buckets)
        ]
    qs = [i / buckets for i in range(1, buckets)]
    vals = kn.approxQuantile("mean_kn_surprisal_micro", qs, relative_error)
    # an approx cutoff never needs the doc_id tiebreak (epsilon-rank
    # precision dwarfs tie groups): None = "every doc at this mean lands
    # at or below the cutoff", which ccnet_assign_buckets compiles to a
    # plain mean <= cutoff comparison. n = -1: counting would cost a
    # SECOND corpus-sized pass on exactly the path documented as
    # one-pass; callers needing the count already have kn.
    return -1, [(v, None) for v in vals]


def ccnet_assign_buckets(
    kn: DataFrame, cutoffs: list[tuple]
) -> DataFrame:
    """Scan-side bucket assignment from broadcast cutoffs: a CASE over
    ``(mean, doc_id) <= cutoff_i`` struct comparisons on LITERALS — zero
    joins, zero windows, zero shuffles beyond what produced ``kn``. This
    is the plan that survives 100 TB: the cutoff relation is
    ``len(cutoffs)`` driver rows however large the corpus."""
    key = F.struct(F.col("mean_kn_surprisal_micro"), F.col("doc_id"))
    types = {f.name: f.dataType for f in kn.schema.fields}
    bucket = F.lit(len(cutoffs) + 1)
    for i in range(len(cutoffs) - 1, -1, -1):
        m, d = cutoffs[i]
        if d is None:  # approx cutoff: no tiebreak, compare mean alone
            cond = F.col("mean_kn_surprisal_micro") <= F.lit(m).cast(
                types["mean_kn_surprisal_micro"]
            )
        else:
            cond = key <= F.struct(
                F.lit(m).cast(types["mean_kn_surprisal_micro"]),
                F.lit(d).cast(types["doc_id"]),
            )
        bucket = F.when(cond, F.lit(i + 1)).otherwise(bucket)
    return kn.select(
        "doc_id",
        "n_bigrams",
        "mean_kn_surprisal_micro",
        bucket.cast("int").alias("ppl_bucket"),
    )


def q_text_ccnet_cutoffs(spark, sf_dir):
    """CCNet perplexity bucketing, PRODUCTION SHAPE (VERDICT r12 item 2):
    tercile cutoffs computed once by distributed exact order-statistic
    selection (:func:`ccnet_bucket_cutoffs` — range shuffle +
    partition-id-partitioned window, never a single-partition stage),
    broadcast to the driver as 2 literal rows, and buckets assigned in
    the scan (:func:`ccnet_assign_buckets` — a pure CASE projection).
    Output and oracle are byte-identical to q_text_ccnet_buckets' exact
    global NTILE, which this row retires to the documented-diagnostic
    class (the hyperball exact-leg precedent): the gate therefore proves
    broadcast-cutoff assignment == exact NTILE on every edge, including
    tie groups split by the doc_id tiebreak. Same scoreable-docs-only
    contract as q_text_ccnet_buckets (zero-bigram docs excluded).

    At corpus scale swap ``exact=True`` for ``exact=False``
    (approxQuantile cutoffs — CCNet's own sampled form); the assignment
    scan is IDENTICAL, only the 2-row cutoff computation changes."""
    kn = kn_surprisal(_docs(spark, sf_dir)).localCheckpoint(eager=False)
    _n, cuts = ccnet_bucket_cutoffs(kn, buckets=3, exact=True)
    return ccnet_assign_buckets(kn, cuts)


def ccnet_buckets_full(
    docs: DataFrame, buckets: int = 3, exact: bool = True
) -> DataFrame:
    """CCNet bucketing over the WHOLE corpus (the contract CCNet itself
    ships, closing the scoreable-docs-only exclusion documented on
    q_text_ccnet_buckets): terciles are computed over the scoreable docs
    (>= 2 tokens — a bigram LM cannot score anything shorter), then the
    document relation is LEFT-joined back so zero-bigram docs appear
    with ``ppl_bucket = 0`` (the sentinel: "unscoreable", for the caller
    to route — CCNet pipelines typically drop them as degenerate) and
    NULL score columns. Not a registry row: the gate fixtures contain no
    zero-bigram documents, so the sentinel branch would be dead at gate
    scale — it is pinned by pytest on a synthetic corpus instead
    (tests/test_round13_ccnet.py)."""
    kn = kn_surprisal(docs).localCheckpoint(eager=False)
    _n, cuts = ccnet_bucket_cutoffs(kn, buckets=buckets, exact=exact)
    scored = ccnet_assign_buckets(kn, cuts)
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "mean_kn_surprisal_micro",
            F.coalesce("ppl_bucket", F.lit(0)).cast("int").alias(
                "ppl_bucket"
            ),
        )
    )


# The pinned sentinel corpus (VERDICT r13 item 4): the gate fixtures
# contain no zero-bigram documents, so ccnet_buckets_full's bucket-0
# branch was pytest-pinned only. This VALUES corpus (the established
# pinned-corpus idiom: q_text_bpe_train, q_emb_pca_invariants) carries
# three unscoreable docs — empty text, whitespace-only, one-token — plus
# TEN scoreable docs (doc_ids 1-10; NTILE(3) sizes 4/3/3, boundary
# ranks 4 and 7), so the oracle exercises sentinel routing AND the
# doc_id tiebreak end-to-end: the identical-score pair 9/10 ("tie tie
# tie") plus the mirror-text score tie 5/6 ("mice chase cats" / "cats
# chase mice"), which spans the rank-7 boundary — a mean-only cutoff
# would mis-bucket it. Both engines derive from this single literal;
# editing the corpus changes which edges the gate exercises.
_CCNET_SENTINEL_CORPUS: list[tuple[int, str]] = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "a cat and a dog"),
    (4, "the mat and the log"),
    (5, "mice chase cats"),
    (6, "cats chase mice"),
    (7, "the cat chased the mouse into the log"),
    (8, "on on on"),
    (9, "tie tie tie"),
    (10, "tie tie tie"),
    (11, "hello"),
    (12, ""),
    (13, "   "),
]


def q_text_ccnet_sentinel(spark, sf_dir):
    """Whole-corpus CCNet bucketing with the zero-bigram SENTINEL branch
    oracle-gated (VERDICT r13 item 4): :func:`ccnet_buckets_full` over
    the pinned ``_CCNET_SENTINEL_CORPUS`` — unscoreable docs (< 2
    tokens) surface as ``ppl_bucket = 0`` with NULL score, scoreable
    docs carry the exact broadcast-cutoff terciles. GATE-ONLY row in the
    q_text_bpe_train tradition: the passed ``sf_dir`` is ignored because
    the sentinel branch is dead on every driver fixture (no zero-bigram
    docs exist there — documented on ccnet_buckets_full); pinning the
    corpus on BOTH sides is what lets the branch be driver-verified at
    all. Non-gate consumers call ccnet_buckets_full on their own data."""
    docs = spark.createDataFrame(
        _CCNET_SENTINEL_CORPUS, "doc_id long, text string"
    )
    return ccnet_buckets_full(docs, buckets=3, exact=True)


def _sql_ccnet_sentinel() -> str:
    # '' escaping: the corpus is prose — an apostrophe added later must
    # not render malformed (or worse, differently-parsed) DuckDB SQL
    vals = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, t in _CCNET_SENTINEL_CORPUS
    )
    docs_sql = (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, text "
        f"FROM (VALUES {vals}) AS v(doc_id, text)"
    )
    kn = _sql_kn_logprob(docs_sql)
    return f"""
WITH kn AS ({kn}),
scored AS (
    SELECT doc_id, n_bigrams, mean_kn_surprisal_micro,
           CAST(NTILE(3) OVER (
               ORDER BY mean_kn_surprisal_micro, doc_id
           ) AS INTEGER) AS ppl_bucket
    FROM kn
)
SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.mean_kn_surprisal_micro,
       CAST(COALESCE(s.ppl_bucket, 0) AS INTEGER) AS ppl_bucket
FROM (VALUES {vals}) AS v(doc_id, text)
LEFT JOIN scored s ON v.doc_id = s.doc_id
"""


def _sql_kn_logprob(
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    return rf"""
WITH docs AS ({docs_sql}),
tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM docs
),
db AS (
    SELECT doc_id, u.b AS bigram, COUNT(*) AS tfb
    FROM tokd, UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS u(b)
    GROUP BY doc_id, u.b
),
corpus_b AS (
    SELECT bigram, SUM(tfb) AS cb,
           split_part(bigram, ' ', 1) AS w1,
           split_part(bigram, ' ', 2) AS w2
    FROM db GROUP BY bigram
),
left_stats AS (
    SELECT w1, SUM(cb) AS cleft, COUNT(*) AS n1p_left
    FROM corpus_b GROUP BY w1
),
right_stats AS (
    SELECT w2, COUNT(*) AS n1p_right FROM corpus_b GROUP BY w2
),
n1p_all AS (SELECT COUNT(*) AS n1p_all FROM corpus_b),
scored AS (
    SELECT db.doc_id, db.tfb,
           db.tfb * CAST(FLOOR(LN(
               CAST(CAST(4 AS HUGEINT) * ls.cleft * na.n1p_all AS DOUBLE)
               / CAST(GREATEST(CAST(4 AS HUGEINT) * cb.cb - 3, 0)
                          * na.n1p_all
                      + CAST(3 AS HUGEINT) * ls.n1p_left * rs.n1p_right
                      AS DOUBLE)) * {LN_SCALE}) AS BIGINT) AS kn_surp_q
    FROM db
    JOIN corpus_b cb USING (bigram)
    JOIN left_stats ls ON cb.w1 = ls.w1
    JOIN right_stats rs ON cb.w2 = rs.w2
    CROSS JOIN n1p_all na
)
SELECT doc_id,
       CAST(SUM(tfb) AS BIGINT) AS n_bigrams,
       CAST(SUM(kn_surp_q) AS BIGINT) AS kn_surprisal_sum_q,
       CAST(SUM(kn_surp_q) AS DOUBLE) / CAST(SUM(tfb) AS DOUBLE)
           AS mean_kn_surprisal_micro
FROM scored GROUP BY doc_id
"""


def _sql_bigram_logprob() -> str:
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM docs
),
db AS (
    SELECT doc_id, u.b AS bigram, COUNT(*) AS tfb
    FROM tokd, UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS u(b)
    GROUP BY doc_id, u.b
),
corpus_b AS (SELECT bigram, SUM(tfb) AS cb FROM db GROUP BY bigram),
left_ctx AS (
    SELECT split_part(bigram, ' ', 1) AS w1, SUM(cb) AS cleft
    FROM corpus_b GROUP BY 1
),
vocab AS (
    SELECT COUNT(DISTINCT u.term) AS v
    FROM tokd, UNNEST(t) AS u(term)
),
scored AS (
    SELECT db.doc_id, db.tfb,
           db.tfb * CAST(FLOOR(LN(
               CAST(left_ctx.cleft + vocab.v AS DOUBLE)
               / CAST(corpus_b.cb + 1 AS DOUBLE)) * {LN_SCALE}) AS BIGINT)
               AS big_surp_q
    FROM db
    JOIN corpus_b USING (bigram)
    JOIN left_ctx ON split_part(db.bigram, ' ', 1) = left_ctx.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(tfb) AS BIGINT) AS n_bigrams,
       CAST(SUM(big_surp_q) AS BIGINT) AS surprisal_sum_q,
       CAST(SUM(big_surp_q) AS DOUBLE) / CAST(SUM(tfb) AS DOUBLE)
           AS mean_surprisal_micro
FROM scored GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Cross-source exact overlap (inter-dataset contamination / dedup signal)
# --------------------------------------------------------------------------

PREFIX_FP_TOKENS = 8    # tokens hashed into the cross-source fingerprint


def cross_source_overlap(docs: DataFrame) -> DataFrame:
    """Pairs of sources sharing documents with identical opening
    ``PREFIX_FP_TOKENS``-token prefixes (shared-boilerplate / contamination
    signal between corpus slices), with shared-fingerprint counts.

    Identity is the reference's record-hash idea (md5 over a canonical
    serialization, MetaColumnHelpers.py:122-128) applied to a prefix shingle
    rather than the full text, so near-boilerplate sharing is caught even
    when tails differ.  The self-join keys on the hash of the small distinct
    (fingerprint, source) relation, so the shuffle carries one row per
    fingerprint-source pair, not per document.
    """
    fp = F.md5(
        F.concat_ws(
            " ",
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, PREFIX_FP_TOKENS),
        )
    )
    d = docs.select(fp.alias("h"), "source").distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )


def q_dedup_cross_source(spark, sf_dir):
    return cross_source_overlap(_docs(spark, sf_dir))


SQL_CROSS_SOURCE = rf"""
WITH d AS (
    SELECT DISTINCT
        md5(array_to_string(
            string_split_regex(trim(text), '\s+')[1:{PREFIX_FP_TOKENS}], ' '))
            AS h,
        source
    FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_texts
FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
"""


# --------------------------------------------------------------------------
# Hashed bag-of-words featurizer (HashingTF-style)
# --------------------------------------------------------------------------

BOW_DIM = 64            # feature-space dimensionality (power of two)


def hashed_bow(docs_tf: DataFrame, dim: int = BOW_DIM) -> DataFrame:
    """Fixed-dimension hashed term-count features per document, in sparse
    (doc_id, bucket, cnt) form — the HashingTF trick: bucket = md5(term)
    mod dim, so no vocabulary pass, no dictionary broadcast, and the output
    width is independent of corpus size.  Sparse triples instead of
    assembled arrays keep the result join-able and engine-comparable; an
    array form is one ``collect_list`` away when a dense vector is needed.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("bigint")
        % dim
    )
    return (
        docs_tf.groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.sum("tf").alias("cnt"))
    )


def q_text_hashed_bow(spark, sf_dir):
    return hashed_bow(_term_freq(spark, sf_dir))


def _sql_hashed_bow() -> str:
    from .dedup import _sql_hex_base

    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF}
SELECT doc_id, {_sql_hex_base("md5(term)")} % {BOW_DIM} AS bucket,
       CAST(SUM(tf) AS BIGINT) AS cnt
FROM tf GROUP BY doc_id, bucket
"""


# --------------------------------------------------------------------------
# Sub-document chunk dedup ratio (repeated-span detection)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 50       # fixed token-window size for span hashing


def chunk_dedup_ratio(docs: DataFrame, chunk: int = CHUNK_TOKENS) -> DataFrame:
    """Per-document ratio of fixed-size token spans that also occur in some
    OTHER document — the sub-document granularity of exact dedup (the
    C4-style 'remove repeated spans' signal; whole-doc hashing misses a
    copied paragraph inside an otherwise unique page).

    Spans are non-overlapping ``chunk``-token windows, hashed with md5 of
    the space-joined window (the reference's record-hash construction,
    MetaColumnHelpers.py:122-128, at span granularity).  Cross-document
    occurrence is one hash-keyed aggregate; 'other document' is decided
    with per-hash distinct-doc counts plus per-(hash,doc) multiplicity so
    self-repeats inside a single doc do not count as cross-doc duplication.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.floor(F.size(toks) / chunk).cast("int")
    idx = F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = docs.select(
        "doc_id",
        F.explode(idx).alias("i"),
        toks.alias("t"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice("t", F.col("i") * chunk + 1, chunk))
        ).alias("h"),
    )
    per_doc_hash = spans.groupBy("doc_id", "h").agg(
        F.count(F.lit(1)).alias("n_local")
    )
    cross = per_doc_hash.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    return (
        per_doc_hash.join(cross, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("n_local").alias("n_chunks"),
            F.sum(
                F.when(F.col("n_docs_with") > 1, F.col("n_local")).otherwise(0)
            ).alias("n_shared_chunks"),
        )
        .withColumn(
            "shared_ratio",
            F.col("n_shared_chunks").cast("double") / F.col("n_chunks"),
        )
    )


def q_text_chunk_dedup(spark, sf_dir):
    return chunk_dedup_ratio(_docs(spark, sf_dir))


def _sql_chunk_dedup() -> str:
    c = CHUNK_TOKENS
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
spans AS (
    SELECT doc_id,
           md5(array_to_string(t[(i * {c} + 1):((i + 1) * {c})], ' ')) AS h
    FROM toks,
         UNNEST(generate_series(0, CAST(FLOOR(LEN(t) / {c}) AS INTEGER) - 1))
             AS u(i)
    WHERE LEN(t) >= {c}
),
per_doc_hash AS (
    SELECT doc_id, h, COUNT(*) AS n_local FROM spans GROUP BY doc_id, h
),
cross_docs AS (
    SELECT h, COUNT(*) AS n_docs_with FROM per_doc_hash GROUP BY h
)
SELECT doc_id,
       CAST(SUM(n_local) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN n_docs_with > 1 THEN n_local ELSE 0 END) AS BIGINT)
           AS n_shared_chunks,
       CAST(SUM(CASE WHEN n_docs_with > 1 THEN n_local ELSE 0 END) AS DOUBLE)
           / SUM(n_local) AS shared_ratio
FROM per_doc_hash JOIN cross_docs USING (h)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Duplicated-span extraction (ExactSubstr-style)
# --------------------------------------------------------------------------

DUP_SPAN_WINDOW = 8  # tokens per rolling window (stride 1)


def duplicated_spans(docs: DataFrame, window: int = DUP_SPAN_WINDOW) -> DataFrame:
    """Exact duplicated token SPANS per document (Lee et al. 2022
    "Deduplicating Training Data" ExactSubstr signal, at token
    granularity): every stride-1 ``window``-token rolling window is
    hashed; windows whose hash occurs ≥2 times in the corpus (any
    document, self-repeats included) are duplicated; overlapping or
    adjacent duplicated windows then merge into maximal spans with a
    gaps-and-islands pass (new island when the start position jumps by
    more than ``window``). Output: (doc_id, span_start, span_end,
    n_windows) with 1-based inclusive token positions.

    Shape at scale: one corpus-tokens-sized shuffle for the global window
    counts, the hash join back, then the island window co-partitioned on
    doc_id — no all-pairs anything; the fixed-chunk variant
    (chunk_dedup_ratio) trades recall for a window/stride of
    ``chunk``/``chunk``, this one is the full-recall stride-1 form.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(toks) >= window,
        F.sequence(F.lit(1), F.size(toks) - (window - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = docs.select(
        "doc_id", F.explode(idx).alias("p"), toks.alias("t")
    ).select(
        "doc_id",
        "p",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("p"), window))).alias("h"),
    )
    counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n_glob"))
    dup = wins.join(counts.filter(F.col("n_glob") >= 2), "h").select(
        "doc_id", "p"
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = dup.withColumn(
        "new_island",
        F.when(
            F.col("p") > F.lag("p").over(w) + window, F.lit(1)
        ).otherwise(
            F.when(F.lag("p").over(w).isNull(), F.lit(1)).otherwise(F.lit(0))
        ),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("p").cast("long").alias("span_start"),
        (F.max("p") + window - 1).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


def q_text_dup_spans(spark, sf_dir):
    return duplicated_spans(_docs(spark, sf_dir))


def _sql_dup_spans() -> str:
    wdw = DUP_SPAN_WINDOW
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
pos AS (
    -- lateral generate_series can't reference t; scalar range() + unnest
    -- (the same idiom as the video oracle) expands per row
    SELECT doc_id, t, unnest(range(1, LEN(t) - {wdw - 2})) AS p
    FROM toks WHERE LEN(t) >= {wdw}
),
wins AS (
    SELECT doc_id, p,
           md5(array_to_string(t[p:(p + {wdw - 1})], ' ')) AS h
    FROM pos
),
counts AS (SELECT h, COUNT(*) AS n_glob FROM wins GROUP BY h),
dup AS (
    SELECT wins.doc_id, wins.p
    FROM wins JOIN counts ON wins.h = counts.h
    WHERE counts.n_glob >= 2
),
flagged AS (
    SELECT doc_id, p,
           CASE WHEN LAG(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                  OR p > LAG(p) OVER (PARTITION BY doc_id ORDER BY p) + {wdw}
                THEN 1 ELSE 0 END AS new_island
    FROM dup
),
islands AS (
    SELECT doc_id, p,
           SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS island
    FROM flagged
)
SELECT doc_id,
       CAST(MIN(p) AS BIGINT) AS span_start,
       CAST(MAX(p) + {wdw - 1} AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM islands
GROUP BY doc_id, island
"""


# --------------------------------------------------------------------------
# BM25 ranked retrieval (Okapi BM25, Lucene idf variant)
# --------------------------------------------------------------------------

BM25_QUERY_TERMS = ("dup", "vector", "merge")   # fixed probe query
BM25_TOPK = 10

# k1 = 1.2, b = 0.75 — the textbook defaults. Both enter the score only
# through the exact rational rewrite below, never as float literals.


class BM25Totals(NamedTuple):
    """Per-pipeline BM25 corpus statistics: the per-doc length frame (the
    eagerly materialized ``(doc_id, dl)`` DataFrame every scorer joins
    against) plus the driver-collected scalar totals injected as
    literals. Compute ONCE per pipeline with :func:`bm25_totals` and pass
    to every :func:`bm25_topk` / :func:`bm25_topk_batch` call — at 100-TB
    scale the tokenize/explode/aggregate behind ``dl`` is the dominant
    cost, and re-deriving it per scorer invocation doubles the corpus
    passes for nothing."""

    dl: DataFrame
    n_docs: int
    total_tokens: int


def _bm25_worst_den(dl_with_mtf: DataFrame, n_docs: int, total_tokens: int) -> int:
    """Exact per-posting maximum of the BM25 denominator
    ``10*T*tf + 3*T + 9*N*dl`` over a ``(doc_id, dl, __mtf)`` frame:
    within one document the max-den posting is its max-tf posting, so the
    per-doc joint ``(mtf, dl)`` maximum is exact — never a cross-document
    combination of independent maxima. Computed in ``decimal(38,0)`` so
    checking for int64 overflow can't itself int64-overflow; a decimal
    overflow to NULL is proof the corpus is past the bound."""
    d38 = "decimal(38,0)"
    den_dec = (
        F.lit(str(10 * total_tokens)).cast(d38) * F.col("__mtf").cast(d38)
        + F.lit(str(3 * total_tokens)).cast(d38)
        + F.lit(str(9 * n_docs)).cast(d38) * F.col("dl").cast(d38)
    )
    row = dl_with_mtf.agg(
        F.max(den_dec).alias("mx"),
        F.sum(F.when(den_dec.isNull(), 1).otherwise(0)).alias("overflowed"),
    ).collect()[0]
    if int(row["overflowed"] or 0):
        return 2**63  # decimal(38,0) wrapped -> certainly past int64
    return int(row["mx"])


def bm25_totals(docs_tf: DataFrame, *, checkpoint: bool = True) -> BM25Totals:
    """Doc lengths + the driver-collected corpus totals the BM25 scorers
    inject as literals, with the int64 overflow guard enforced BEFORE any
    scoring plan runs.

    ``checkpoint=True`` eagerly ``localCheckpoint``s the doc-sized ``dl``
    frame, so the totals collect and every downstream scorer share ONE
    tokenize/explode/aggregate pass over the corpus instead of replaying
    it per consumer (``dl`` is one short row per document — executor-local
    blocks, never corpus-tokens-sized).

    Overflow guard (exact, not conservative): ``num = 22*T*tf`` is bounded
    by the real max posting tf; ``den = 10*T*tf + 3*T + 9*N*dl`` is
    bounded by the true per-document joint max of ``(mtf, dl)`` — within
    one doc the max-den posting is its max-tf posting, so
    ``max_docs(10*T*mtf + 3*T + 9*N*dl)`` is the exact per-posting
    maximum, NOT a cross-document combination of independent maxima that
    would falsely reject corpora which cannot actually overflow. The
    bound itself is computed in ``decimal(38,0)`` (a decimal overflow to
    NULL is itself proof the corpus is past int64) so checking for int64
    overflow can't int64-overflow. Raises OverflowError past 2^63."""
    dl = docs_tf.groupBy("doc_id").agg(
        F.sum("tf").alias("dl"), F.max("tf").alias("__mtf")
    )
    if checkpoint:
        dl = dl.localCheckpoint(eager=True)
    tot = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        F.max("__mtf").alias("max_tf"),
    ).collect()[0]
    n_docs = tot["n_docs"] or 0
    total_tokens = int(tot["total_tokens"] or 0)
    max_tf = int(tot["max_tf"] or 0)
    worst = 22 * total_tokens * max_tf
    if n_docs and worst < 2**63:
        worst = max(worst, _bm25_worst_den(dl, n_docs, total_tokens))
    if worst >= 2**63:
        raise OverflowError(
            "bm25 int64 rational-score overflow: corpus tokens "
            f"T={total_tokens}, N={n_docs}, max posting tf {max_tf} give "
            f"a worst-case intermediate of {worst} >= 2^63; pre-divide "
            "num/den by their gcd or reduce the LN-grid precision"
        )
    return BM25Totals(dl.drop("__mtf"), n_docs, total_tokens)


def _bm25_contrib():
    """Per-posting BM25 contribution FLOOR(idf_q * num/den) over the
    (df, tf, dl, n_docs, total_tokens) columns — the engine-exact
    rational (Lucene idf on the LN grid, the 22/10/3/9 integer length
    norm) shared by the single-query and batch scorers, so a change to
    the rewrite (e.g. the gcd pre-division past the 2^63 bound) cannot
    diverge them."""
    idf_q = F.floor(
        F.log(
            (F.lit(2) * F.col("n_docs") + F.lit(2)).cast("double")
            / (F.lit(2) * F.col("df") + F.lit(1)).cast("double")
        )
        * LN_SCALE
    )
    num = (F.lit(22) * F.col("total_tokens") * F.col("tf")).cast("bigint")
    den = (
        F.lit(10) * F.col("total_tokens") * F.col("tf")
        + F.lit(3) * F.col("total_tokens")
        + F.lit(9) * F.col("n_docs") * F.col("dl")
    ).cast("bigint")
    return F.floor(
        idf_q.cast("double") * (num.cast("double") / den.cast("double"))
    ).cast("bigint")


def bm25_topk(
    docs_tf: DataFrame,
    query_terms: tuple = BM25_QUERY_TERMS,
    k: int = BM25_TOPK,
    totals: BM25Totals | None = None,
) -> DataFrame:
    """Top-``k`` documents for a fixed term query under Okapi BM25.

    Engine-exact scoring. The Lucene idf variant
    ``ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((2N + 2)/(2df + 1))``
    (always positive, unlike raw Robertson idf for stopword-frequent
    terms) is quantized on the LN_SCALE grid over a ratio of identical
    integers. The length normalization with k1=1.2, b=0.75 is rewritten
    as an exact integer rational — multiply numerator and denominator of
    ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` by ``10*T`` (T = corpus
    tokens, avgdl = T/N):

        num = 22*T*tf        den = 10*T*tf + 3*T + 9*N*dl

    so the per-term contribution ``FLOOR(idf_q * num/den)`` is one IEEE
    division of identical integers plus one multiply — deterministic
    across Spark and DuckDB — and the per-document score is an integer
    SUM of those contributions (order-free). Overflow bound:
    22*T*tf < 2^63 needs T*tf < 4.2e17 (and den's 10*T*tf + 3*T +
    9*N*dl likewise) — ENFORCED below: the corpus totals are collected
    driver-side (one row) and the worst-case term is checked in
    arbitrary-precision Python before the scoring plan ever runs;
    past the bound the function raises instead of letting scores
    silently wrap. Remedies at that scale: pre-divide num/den by their
    gcd, or compute dl/avgdl at reduced LN-grid precision.

    Scale posture: ``hits`` is posting-list-sized (query terms only), so
    every join here is small-vs-small except hits⋈dl, which co-partitions
    on doc_id with the tf shuffle; (N, T) are a driver-collected one-row
    aggregate injected as literals (this is also what the overflow guard
    reads) and the final top-k is a distributed TakeOrdered (never a
    global sort).
    """
    dl, n_docs, total_tokens = totals if totals is not None else bm25_totals(docs_tf)
    hits = docs_tf.filter(F.col("term").isin(*query_terms))
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        hits.join(maybe_broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .withColumn("n_docs", F.lit(n_docs).cast("bigint"))
        .withColumn("total_tokens", F.lit(total_tokens).cast("bigint"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(_bm25_contrib()).alias("score_q"),
        F.count(F.lit(1)).alias("n_terms"),
        F.min("dl").alias("dl"),
    )
    top = per_doc.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "score_q", "n_terms", "dl", "rk"
    )


def q_text_bm25_topk(spark, sf_dir):
    return bm25_topk(_term_freq(spark, sf_dir))


def _sql_bm25_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF},
dl AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
),
hits AS (SELECT * FROM tf WHERE term IN ({terms})),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term
),
scored AS (
    SELECT h.doc_id,
           CAST(FLOOR(LN(CAST(2 * t.n_docs + 2 AS DOUBLE)
                         / CAST(2 * d.df + 1 AS DOUBLE)) * {LN_SCALE})
                AS BIGINT) AS idf_q,
           CAST(22 * t.total_tokens * h.tf AS BIGINT) AS num,
           CAST(10 * t.total_tokens * h.tf + 3 * t.total_tokens
                + 9 * t.n_docs * dl.dl AS BIGINT) AS den,
           dl.dl
    FROM hits h JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN tot t
),
per_doc AS (
    SELECT doc_id,
           CAST(SUM(CAST(FLOOR(CAST(idf_q AS DOUBLE)
               * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)))
               AS BIGINT)) AS BIGINT) AS score_q,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MIN(dl) AS BIGINT) AS dl
    FROM scored GROUP BY doc_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id ASC) AS rk
    FROM per_doc
)
SELECT doc_id, score_q, n_terms, dl, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {BM25_TOPK}
"""


# --------------------------------------------------------------------------
# Incremental BM25 index maintenance (posting-partial store + batch fold)
# --------------------------------------------------------------------------

BM25_BATCH_SOURCE = "src0"   # the fixture slice that arrives as a new batch


BM25_BATCH_QUERIES = {
    "q_dup": ("dup", "vector", "merge"),
    "q_scan": ("scan", "hash", "table"),
    "q_sort": ("sort", "window", "line"),
}
BM25_BATCH_TOPK = 5


def bm25_topk_batch(
    docs_tf: DataFrame,
    queries: dict = BM25_BATCH_QUERIES,
    k: int = BM25_BATCH_TOPK,
    totals: BM25Totals | None = None,
) -> DataFrame:
    """Multi-query BM25 — the production retrieval shape: a BATCH of
    queries scored against the corpus in ONE plan, grouped top-``k``
    per query. Scoring is the same engine-exact rational as
    :func:`bm25_topk` (same idf grid, same integer num/den, same
    overflow guard); document frequency is computed ONCE over the union
    of query terms (df is query-independent), then the broadcast query
    table expands each hit per owning query, and a per-qid window rank
    cuts top-k.

    Scale posture: hits are posting-list-sized (union of query terms);
    the query table is a broadcast of Q*terms rows; the rank window
    partitions by qid over per-(qid, doc) aggregates — bounded by hits,
    never corpus-sized. Output: (qid, doc_id, score_q, n_terms, dl, rk).
    """
    spark = docs_tf.sparkSession
    dl, n_docs, total_tokens = totals if totals is not None else bm25_totals(docs_tf)
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in sorted(queries.items()) for t in terms],
        "qid string, term string",
    )
    all_terms = sorted({t for terms in queries.values() for t in terms})
    hits = docs_tf.filter(F.col("term").isin(*all_terms))
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        hits.join(maybe_broadcast(dfreq), "term")
        .join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .withColumn("n_docs", F.lit(n_docs).cast("bigint"))
        .withColumn("total_tokens", F.lit(total_tokens).cast("bigint"))
    )
    per_doc = scored.groupBy("qid", "doc_id").agg(
        F.sum(_bm25_contrib()).alias("score_q"),
        F.count(F.lit(1)).alias("n_terms"),
        F.min("dl").alias("dl"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_q").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "doc_id", "score_q", "n_terms", "dl", "rk")
    )


def q_text_bm25_batch(spark, sf_dir):
    return bm25_topk_batch(_term_freq(spark, sf_dir))


def _sql_bm25_batch() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in sorted(BM25_BATCH_QUERIES.items())
        for t in terms
    )
    all_terms = ", ".join(
        f"'{t}'"
        for t in sorted({t for ts in BM25_BATCH_QUERIES.values() for t in ts})
    )
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF},
dl AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
),
queries(qid, term) AS (VALUES {qvals}),
hits AS (SELECT * FROM tf WHERE term IN ({all_terms})),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term
),
scored AS (
    SELECT q.qid, h.doc_id,
           CAST(FLOOR(LN(CAST(2 * t.n_docs + 2 AS DOUBLE)
                         / CAST(2 * d.df + 1 AS DOUBLE)) * {LN_SCALE})
                AS BIGINT) AS idf_q,
           CAST(22 * t.total_tokens * h.tf AS BIGINT) AS num,
           CAST(10 * t.total_tokens * h.tf + 3 * t.total_tokens
                + 9 * t.n_docs * dl.dl AS BIGINT) AS den,
           dl.dl
    FROM hits h JOIN dfreq d USING (term) JOIN queries q USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN tot t
),
per_doc AS (
    SELECT qid, doc_id,
           CAST(SUM(CAST(FLOOR(CAST(idf_q AS DOUBLE)
               * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)))
               AS BIGINT)) AS BIGINT) AS score_q,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MIN(dl) AS BIGINT) AS dl
    FROM scored GROUP BY qid, doc_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY score_q DESC, doc_id ASC) AS rk
    FROM per_doc
)
SELECT qid, doc_id, score_q, n_terms, dl, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {BM25_BATCH_TOPK}
"""


def q_text_bm25_incremental(spark, sf_dir):
    """Incremental index maintenance, executed end-to-end: the corpus
    history's posting partials (doc_id, term, tf) are WRITTEN to a
    parquet store and READ BACK; the '{src0}' docs arrive as a new batch
    whose partials are unioned in (doc ids are disjoint across batches,
    so tf needs no merge — df, dl and the (N, T) totals are re-derived
    from the combined partials, all associative aggregates); the BM25
    search runs over the folded index.

    The oracle is the FULL-RECOMPUTE BM25 SQL verbatim: the incremental
    path must reproduce the from-scratch ranking hash-for-hash, which
    gates the store round-trip (count widening, dtype drift), the union
    fold, and the doc-disjointness assumption in one row. This is the
    100-TB shape: history is only ever touched at (doc, term)
    granularity — the tokenize/explode/aggregate of old batches is never
    redone — and per-term/per-corpus statistics fold at probe time.
    """
    from ..io import scratch_dir

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    hist_tf = _term_freq_of(docs.filter(F.col("source") != BM25_BATCH_SOURCE))
    batch_tf = _term_freq_of(docs.filter(F.col("source") == BM25_BATCH_SOURCE))
    with scratch_dir("etl_bm25_store_") as tmp:
        hist_tf.write.mode("overwrite").parquet(tmp)
        combined = spark.read.parquet(tmp).unionByName(batch_tf)
        return bm25_topk(combined).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid retrieval: BM25 x corpus-LM quality)
# --------------------------------------------------------------------------

RRF_K = 60                    # the standard RRF damping constant
RRF_SCALE = 1_000_000_000     # contribution = RRF_SCALE div (K + rank)
RRF_DEPTH = 50                # per-system ranked-list depth
RRF_TOPK = 15                 # fused results kept


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = RRF_K,
    topk: int = RRF_TOPK,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (Cormack et al. 2009).

    Inputs are (doc_id, rk) DataFrames with 1-based ranks. The classic
    score ``sum_i 1/(K + rank_i)`` is computed entirely in integers:
    each system contributes ``RRF_SCALE div (K + rank)`` (exact integral
    division in both engines), absent systems contribute 0, and the
    fused score is an integer sum — no floating point anywhere, so the
    fusion is engine- and order-exact. ``rk_a``/``rk_b`` are emitted with
    0 as the "not ranked by this system" sentinel (keeps the columns
    non-null bigint for the driver's dtype-strict comparator).

    Scale posture: both inputs are top-``depth`` lists (driver-bounded,
    thousands of rows at most even at corpus scale), so the full-outer
    join and the final top-k are trivially small; fusion adds no
    corpus-sized shuffle of its own.
    """
    a = ranked_a.select("doc_id", F.col("rk").cast("bigint").alias("rk_a"))
    b = ranked_b.select("doc_id", F.col("rk").cast("bigint").alias("rk_b"))
    fused = (
        a.join(b, "doc_id", "full_outer")
        .withColumn("rk_a", F.coalesce(F.col("rk_a"), F.lit(0)))
        .withColumn("rk_b", F.coalesce(F.col("rk_b"), F.lit(0)))
        .withColumn(
            "rrf_q",
            F.when(
                F.col("rk_a") > 0,
                F.expr(f"{RRF_SCALE} div ({k} + rk_a)"),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("rk_b") > 0,
                F.expr(f"{RRF_SCALE} div ({k} + rk_b)"),
            ).otherwise(F.lit(0)),
        )
    )
    top = fused.orderBy(F.col("rrf_q").desc(), F.col("doc_id").asc()).limit(topk)
    w = Window.orderBy(F.col("rrf_q").desc(), F.col("doc_id").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "rk_a", "rk_b", "rrf_q", "rk"
    )


def quality_rank(docs_tf: DataFrame, depth: int = RRF_DEPTH) -> DataFrame:
    """Top-``depth`` documents by ascending mean unigram surprisal — the
    'most corpus-typical' quality list fused against BM25 relevance. The
    ordering key is the exact IEEE division already computed by
    :func:`unigram_surprisal`; ties break on doc_id."""
    scored = unigram_surprisal(docs_tf)
    top = scored.orderBy(
        F.col("mean_surprisal_micro").asc(), F.col("doc_id").asc()
    ).limit(depth)
    w = Window.orderBy(
        F.col("mean_surprisal_micro").asc(), F.col("doc_id").asc()
    )
    return top.withColumn("rk", F.row_number().over(w))


def q_text_rrf_fusion(spark, sf_dir):
    # Hybrid retrieval amortization: the tokenize/explode behind tf is the
    # dominant cost and BOTH fusion legs (BM25 relevance, unigram-LM
    # quality) consume it, so materialize tf once (localCheckpoint here;
    # at corpus scale the parquet posting store of
    # q_text_bm25_incremental is the durable equivalent) and compute
    # bm25_totals once per pipeline — the guard's totals collect and the
    # scoring plan then share one pass instead of re-tokenizing per
    # consumer (the r10 regression: +20% from per-call totals).
    tf = _term_freq(spark, sf_dir).localCheckpoint(eager=True)
    totals = bm25_totals(tf)
    return rrf_fuse(bm25_topk(tf, k=RRF_DEPTH, totals=totals), quality_rank(tf))


def _sql_rrf_fusion() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return rf"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_SQL_TF},
dl AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
),
hits AS (SELECT * FROM tf WHERE term IN ({terms})),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term
),
bm25_scored AS (
    SELECT h.doc_id,
           CAST(FLOOR(CAST(FLOOR(LN(CAST(2 * t.n_docs + 2 AS DOUBLE)
                         / CAST(2 * d.df + 1 AS DOUBLE)) * {LN_SCALE})
                AS DOUBLE)
               * (CAST(22 * t.total_tokens * h.tf AS DOUBLE)
                  / CAST(10 * t.total_tokens * h.tf + 3 * t.total_tokens
                         + 9 * t.n_docs * dl.dl AS DOUBLE)))
               AS BIGINT) AS contrib_q
    FROM hits h JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN tot t
),
bm25_rank AS (
    SELECT doc_id, ROW_NUMBER() OVER (
        ORDER BY SUM(contrib_q) DESC, doc_id ASC) AS rk_a
    FROM bm25_scored GROUP BY doc_id
),
corpus AS (SELECT term, SUM(tf) AS cw FROM tf GROUP BY term),
lt AS (SELECT SUM(cw) AS t_total FROM corpus),
surp AS (
    SELECT tf.doc_id, tf.tf,
           tf.tf * CAST(FLOOR(LN(CAST(lt.t_total AS DOUBLE)
                / CAST(corpus.cw AS DOUBLE)) * {LN_SCALE}) AS BIGINT)
               AS tok_surp_q
    FROM tf JOIN corpus USING (term) CROSS JOIN lt
),
qual_rank AS (
    SELECT doc_id, ROW_NUMBER() OVER (
        ORDER BY CAST(SUM(tok_surp_q) AS DOUBLE)
                 / CAST(SUM(tf) AS DOUBLE) ASC, doc_id ASC) AS rk_b
    FROM surp GROUP BY doc_id
),
a AS (SELECT doc_id, CAST(rk_a AS BIGINT) AS rk_a
      FROM bm25_rank WHERE rk_a <= {RRF_DEPTH}),
b AS (SELECT doc_id, CAST(rk_b AS BIGINT) AS rk_b
      FROM qual_rank WHERE rk_b <= {RRF_DEPTH}),
fused AS (
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           COALESCE(a.rk_a, 0) AS rk_a,
           COALESCE(b.rk_b, 0) AS rk_b,
           (CASE WHEN a.rk_a IS NULL THEN 0
                 ELSE {RRF_SCALE} // ({RRF_K} + a.rk_a) END
            + CASE WHEN b.rk_b IS NULL THEN 0
                   ELSE {RRF_SCALE} // ({RRF_K} + b.rk_b) END) AS rrf_q
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id ASC) AS rk
    FROM fused
)
SELECT doc_id, rk_a, rk_b, CAST(rrf_q AS BIGINT) AS rrf_q,
       CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {RRF_TOPK}
"""


QUERIES = {
    "text_tfidf_topk": (q_text_tfidf_topk, _sql_tfidf_topk()),
    "text_bm25_topk": (q_text_bm25_topk, _sql_bm25_topk()),
    "text_bm25_batch": (q_text_bm25_batch, _sql_bm25_batch()),
    # incremental fold must equal the full recompute — same oracle
    "text_bm25_incremental": (q_text_bm25_incremental, _sql_bm25_topk()),
    "text_rrf_fusion": (q_text_rrf_fusion, _sql_rrf_fusion()),
    "text_dup_spans": (q_text_dup_spans, _sql_dup_spans()),
    "text_hashed_bow": (q_text_hashed_bow, _sql_hashed_bow()),
    "text_chunk_dedup": (q_text_chunk_dedup, _sql_chunk_dedup()),
    "text_inverted_index": (q_text_inverted_index, _sql_inverted_index()),
    "text_unigram_logprob": (q_text_unigram_logprob, _sql_unigram_logprob()),
    "text_bigram_logprob": (q_text_bigram_logprob, _sql_bigram_logprob()),
    # r12: interpolated Kneser-Ney bigram LM (KenLM/CCNet-style filter)
    "text_kn_logprob": (q_text_kn_logprob, _sql_kn_logprob()),
    # r12: CCNet head/middle/tail perplexity terciles over the KN LM
    "text_ccnet_buckets": (q_text_ccnet_buckets, _sql_ccnet_buckets()),
    # r13: the production shape — broadcast tercile cutoffs + scan-side
    # CASE assignment; same oracle (must equal the exact NTILE edge-
    # for-edge), no single-partition window anywhere in its plan
    "text_ccnet_cutoffs": (q_text_ccnet_cutoffs, _sql_ccnet_buckets()),
    # r14: ccnet_buckets_full's zero-bigram sentinel branch, oracle-
    # gated on the pinned VALUES corpus (the gate fixtures have no
    # zero-bigram docs, so the branch was pytest-only before)
    "text_ccnet_sentinel": (q_text_ccnet_sentinel, _sql_ccnet_sentinel()),
    "dedup_cross_source": (q_dedup_cross_source, SQL_CROSS_SOURCE),
}
