"""Deduplication operators over the ``documents`` table.

Four families, each with a DuckDB oracle twin:

- exact: group on md5(text) (direct extension of the record-hash machinery).
- n-gram Jaccard: word-3-gram shingles, distinct-shingle self-join —
  exact pairwise similarity, the O(n²)-worst-case baseline.
- MinHash + LSH: k=16 permutation min-hashes over one md5 base hash per
  shingle, banded into 4 buckets, candidate pairs via bucket join — the
  scale path: O(n·k) work + an equi-join on band keys instead of an
  all-pairs comparison. At 100 TB the band join shuffles only (doc_id,
  band_key) pairs and AQE handles the skew of hot buckets.
- SimHash: 32-bit signature from per-shingle md5 bits, near-dup = small
  Hamming distance; signature computation is one aggregation pass.

All hashing is md5-on-strings so both engines agree bit-for-bit; every
similarity is a single division of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scale import broadcast_threshold_bytes, maybe_broadcast

NUM_MINHASHES = 16
LSH_BANDS = 4
ROWS_PER_BAND = NUM_MINHASHES // LSH_BANDS
SIMHASH_BITS = 32


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def deduplicate(
    df: DataFrame,
    content_cols: list[str],
    order_col: str,
    keep: str = "first",
) -> DataFrame:
    """Deterministic exact dedup: keep exactly one full row per distinct
    ``content_cols`` value, chosen by ``order_col`` (``dropDuplicates``
    keeps an *arbitrary* row, which changes run-to-run under shuffles —
    unusable when results must be reproducible). One shuffle on the content
    hash."""
    from pyspark.sql import Window

    order = F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()
    w = Window.partitionBy(
        F.md5(F.concat_ws("\x01", *[F.col(c).cast("string") for c in content_cols]))
    ).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def q_dedup_exact(spark, sf_dir):
    """Keep the lowest doc_id per exact content hash."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# Shingling (shared by jaccard / minhash / simhash)
# --------------------------------------------------------------------------

def shingles_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per document: (doc_id, shingle).

    Spark ``sequence(1, 0)`` counts *down*, so the index range is guarded
    for texts shorter than n tokens.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda t, i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + off) for off in range(n)]
    )
    # spread docs across all cores BEFORE the ~100x shingle explosion —
    # a single-file parquet table otherwise pins the whole blow-up (and the
    # downstream per-shingle hashing) to one task
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(parallelism)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.transform(idx, lambda i: gram(toks, i)))
            ).alias("shingle"),
        )
    )


SQL_SHINGLES = r"""
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
    FROM toks
),
shingles AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)
"""


# --------------------------------------------------------------------------
# n-gram Jaccard pairs
# --------------------------------------------------------------------------

def q_dedup_jaccard_pairs(spark, sf_dir):
    """Exact pairwise Jaccard over 3-gram shingle sets for every pair
    sharing at least one shingle. Output is (a, b, intersection, jaccard)."""
    # localCheckpoint, not .cache(): referenced three times below (sizes +
    # both join sides); cache is advisory and recomputes the explode when
    # cleared/evicted
    sh = shingles_df(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "intersection",
            (
                F.col("intersection").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection"))
            ).alias("jaccard"),
        )
    )


SQL_DEDUP_JACCARD = f"""
WITH {SQL_SHINGLES},
sizes AS (
    SELECT doc_id, COUNT(*) AS set_size FROM shingles GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, intersection,
       CAST(intersection AS DOUBLE)
           / (sa.set_size + sb.set_size - intersection) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)

# Fixed permutation constants (a*x + b) mod P, a < 2^30 so a*base < 2^62 —
# no int64 overflow in either engine (DuckDB errors on overflow, Spark wraps;
# staying under 2^63 keeps them agreeing).
import random as _random_mod

_rng = _random_mod.Random(20240813)
_MINHASH_AB = [
    (_rng.randrange(1, 1 << 30), _rng.randrange(0, _MINHASH_P))
    for _ in range(NUM_MINHASHES)
]
del _rng


def _shingle_base() -> F.Column:
    """32-bit integer base hash of a shingle: first 8 hex digits of its md5.
    ONE md5 per shingle; the k permutations are pure arithmetic on top."""
    return F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")


def _sql_hex_base(col: str = "md5(shingle)", digits: int = 8) -> str:
    """DuckDB twin of _shingle_base: fold hex digits via instr arithmetic
    (DuckDB has no conv())."""
    expr = "0"
    for i in range(digits):
        d = f"(instr('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        expr = f"({expr} * 16 + {d})"
    return expr


def minhash_signatures_perm(
    sh: DataFrame, num_hashes: int = NUM_MINHASHES
) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) via the classic permutation family
    min((a_s * h(x) + b_s) mod P) over ONE md5-derived base hash per
    shingle. Replaces the md5-per-seed family (k md5 calls per shingle)
    with 1 md5 + k multiply-add-mods — the arithmetic is codegen'd JVM-side
    and portable, so the DuckDB oracle stays bit-identical. The seed
    dimension lives in columns, so the k minima fold by map-side partial
    aggregation and the shuffle carries one row per document."""
    base = _shingle_base()
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * base + F.lit(b)) % _MINHASH_P).alias(f"mh{s}")
            for s, (a, b) in enumerate(_MINHASH_AB[:num_hashes])
        ]
    )


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH banding relation for a documents
    DataFrame — the library entry the band queries and the capped pair
    join share, built on the permutation signature (ONE md5 per shingle,
    one aggregation, one doc-sized shuffle)."""
    return _signature_bands(minhash_signatures_perm(shingles_df(docs)))


def _signature_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a ``minhash_signatures_perm``
    signature: band_key = '|'-joined minhashes of the band's
    ROWS_PER_BAND permutations. All band keys come from one projection +
    explode, so the signature is computed once; the key is a plain
    concat — hashing it again would only burn CPU."""
    band_structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.concat_ws(
                "|",
                *[
                    F.col(f"mh{b * ROWS_PER_BAND + i}").cast("string")
                    for i in range(ROWS_PER_BAND)
                ],
            ).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def q_dedup_minhash_bands(spark, sf_dir):
    return minhash_bands(_docs(spark, sf_dir))


_SQL_PERM_MINS = ",\n           ".join(
    f"MIN(({a} * base + {b}) % {_MINHASH_P}) AS mh{s}"
    for s, (a, b) in enumerate(_MINHASH_AB)
)

_SQL_BAND_SELECTS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, CAST({b} AS BIGINT) AS band, "
    + " || '|' || ".join(
        f"CAST(mh{b * ROWS_PER_BAND + i} AS VARCHAR)"
        for i in range(ROWS_PER_BAND)
    )
    + " AS band_key FROM sig"
    for b in range(LSH_BANDS)
)

SQL_MINHASH_BANDS_BODY = f"""
sigbase AS (
    SELECT doc_id, {_sql_hex_base()} AS base FROM shingles
),
sig AS (
    SELECT doc_id,
           {_SQL_PERM_MINS}
    FROM sigbase
    GROUP BY doc_id
),
bands AS (
{_SQL_BAND_SELECTS}
)
"""

SQL_DEDUP_MINHASH_BANDS = (
    f"WITH {SQL_SHINGLES},{SQL_MINHASH_BANDS_BODY}"
    "SELECT doc_id, band, band_key FROM bands"
)


def minhash_band_pairs(
    bands: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """Candidate near-dup pairs: documents sharing any LSH band bucket.

    The band table is materialized (localCheckpoint) before the self-join —
    otherwise Spark recomputes the full shingle→signature pipeline for both
    join sides. Checkpoint, not .cache(): cache is advisory (anything that
    clears or evicts it silently re-runs the pipeline twice), while the
    checkpoint truncates lineage so both sides are block reads.

    ``bucket_cap`` drops band buckets holding more than that many
    documents BEFORE the self-join: one ultra-common band key —
    boilerplate pages, an empty-text cluster — otherwise produces a
    single quadratic bucket at corpus scale. The drop is never silent:
    ``minhash_bucket_report`` over the same bands relation is the
    required accounting twin (dropped buckets ARE skipped candidate
    clusters; publish them), and the cap drops exactly the buckets that
    report lists."""
    bands = bands.localCheckpoint(eager=True)
    bands = _drop_saturated_buckets(bands, bucket_cap)
    return _band_self_join(bands).distinct()


def _band_self_join(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, once per (band, band_key) bucket
    the two documents share — the one band self-join; callers dedupe."""
    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


def minhash_bucket_report(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """(band, band_key, n_docs) for the buckets a ``bucket_cap`` run
    drops — the explicit accounting that makes the cap auditable."""
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > bucket_cap)
    )


def _drop_saturated_buckets(
    bands: DataFrame, bucket_cap: int | None
) -> DataFrame:
    """``bands`` without the buckets ``minhash_bucket_report`` lists
    (unchanged when ``bucket_cap`` is None) — the one cap rule of every
    capped band join. Few saturated buckets by construction (≤
    corpus/cap); AQE broadcast-plans the aggregate-sized anti-join side
    at runtime."""
    if bucket_cap is None:
        return bands
    hot = minhash_bucket_report(bands, bucket_cap).select("band", "band_key")
    return bands.join(hot, ["band", "band_key"], "left_anti")


def q_dedup_minhash_pairs(spark, sf_dir):
    return minhash_band_pairs(minhash_bands(_docs(spark, sf_dir)))


SQL_DEDUP_MINHASH_PAIRS = (
    f"WITH {SQL_SHINGLES},{SQL_MINHASH_BANDS_BODY}"
    """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""
)


_BOILERPLATE_TEXT = (
    "the quarterly report header boilerplate text block repeated verbatim"
    " on every crawled page"
)
MINHASH_CAP_DENOM = 10  # bucket_cap = n_docs // 10


def _boilerplate_docs_and_cap(spark, sf_dir):
    """Shared saturated fixture for the capped join AND its accounting
    twin — ONE definition, so the report can never describe buckets a
    differently-built run dropped: every doc_id % 4 == 0 document's text
    becomes one constant boilerplate string (~25% of the corpus in one
    band bucket per band), cap = n_docs // MINHASH_CAP_DENOM."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.lit(_BOILERPLATE_TEXT))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return docs, docs.count() // MINHASH_CAP_DENOM


def q_dedup_minhash_pairs_capped(spark, sf_dir):
    """The banded pair join under a saturated bucket: the boilerplate
    fixture's four ~25% buckets are dropped at bucket_cap = n_docs // 10
    and the join cost stays bounded; the oracle
    recomputes the SAME capped semantics (buckets ≤ cap only), so both
    the cap decision and the surviving pair set are hash-pinned. The
    dropped buckets are published by dedup_minhash_bucket_report — the
    no-silent-caps twin."""
    docs, cap = _boilerplate_docs_and_cap(spark, sf_dir)
    return minhash_band_pairs(minhash_bands(docs), bucket_cap=cap)


def q_dedup_minhash_bucket_report(spark, sf_dir):
    """Dropped-bucket accounting for the capped run: the (band, band_key,
    n_docs) rows whose occupancy exceeds the cap — exactly the candidate
    clusters q_dedup_minhash_pairs_capped skipped."""
    docs, cap = _boilerplate_docs_and_cap(spark, sf_dir)
    return minhash_bucket_report(minhash_bands(docs), bucket_cap=cap)


_SQL_DOCS_MOD = f"""docs_mod AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN '{_BOILERPLATE_TEXT}' ELSE text END
               AS text
    FROM documents
)"""

_SQL_BANDS_MOD = (
    _SQL_DOCS_MOD
    + ","
    + SQL_SHINGLES.replace("FROM documents", "FROM docs_mod")
    + ","
    + SQL_MINHASH_BANDS_BODY.lstrip("\n").lstrip()
)

SQL_DEDUP_MINHASH_PAIRS_CAPPED = (
    f"WITH {_SQL_BANDS_MOD}"
    f"""
, keep AS (
    SELECT band, band_key FROM bands
    GROUP BY band, band_key
    HAVING COUNT(*) <= (SELECT COUNT(*) // {MINHASH_CAP_DENOM} FROM documents)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN keep k ON a.band = k.band AND a.band_key = k.band_key
JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""
)

SQL_DEDUP_MINHASH_BUCKET_REPORT = (
    f"WITH {_SQL_BANDS_MOD}"
    f"""
SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM bands
GROUP BY band, band_key
HAVING COUNT(*) > (SELECT COUNT(*) // {MINHASH_CAP_DENOM} FROM documents)
"""
)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _hex_digit_value(col: F.Column) -> F.Column:
    """Value 0-15 of one lowercase hex character (portable: instr-based)."""
    return F.instr(F.lit("0123456789abcdef"), col) - 1


def q_dedup_simhash(spark, sf_dir):
    """32-bit SimHash per document from shingle md5 prefixes.

    bit j of a shingle hash = bit (3 - j%4) of hex digit (j div 4); the
    signature bit is 1 when the sum of (+1/-1) votes over the document's
    shingles is positive. One aggregation pass, no joins.
    """
    sh = shingles_df(_docs(spark, sf_dir))
    h = F.md5(F.col("shingle"))
    bit_votes = []
    for j in range(SIMHASH_BITS):
        digit = _hex_digit_value(F.substring(h, 1 + j // 4, 1))
        bit = F.floor(digit / (2 ** (3 - j % 4))) % 2
        bit_votes.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{j}")
        )
    votes = sh.groupBy("doc_id").agg(*bit_votes)
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash"))


def _sql_simhash_votes() -> str:
    parts = []
    for j in range(SIMHASH_BITS):
        digit = f"(instr('0123456789abcdef', substr(md5(shingle), {1 + j // 4}, 1)) - 1)"
        bit = f"(({digit} // {2 ** (3 - j % 4)}) % 2)"
        parts.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{j}")
    return ",\n           ".join(parts)


_SQL_SIMHASH_COMBINE = " + ".join(
    f"CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
    for j in range(SIMHASH_BITS)
)

SQL_DEDUP_SIMHASH = f"""
WITH {SQL_SHINGLES},
votes AS (
    SELECT doc_id,
           {_sql_simhash_votes()}
    FROM shingles
    GROUP BY doc_id
)
SELECT doc_id, {_SQL_SIMHASH_COMBINE} AS simhash
FROM votes
"""


def simhash_neardup_pairs(
    sig: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
) -> DataFrame:
    """All (id_a < id_b) pairs whose SimHash signatures differ in at most
    ``max_hamming`` bits — the dhash-style DISTINCT-signature formulation
    (VERDICT r11 item 5): the quadratic stage runs over distinct
    signatures, never over ids.

    A SimHash corpus is multiplicity-heavy by construction — near-
    identical documents vote the same way on most bits, and exact
    duplicates collapse to ONE signature — so an id-level self-join pays
    every signature group's multiplicity SQUARED in the comparison stage
    (the same blowup the sf10 rehearsal caught in the id-level dhash
    banding: at sf10pb, 500k ids collapse to ~distinct-corpus-sized
    signatures). Here the id relation is checkpointed once (16 bytes/row),
    the Hamming filter compares DISTINCT signature pairs, and verified
    signature pairs expand back to id pairs through two hash-keyed joins;
    equal-signature groups (Hamming 0) emit their pairs from a per-group
    self-join. Both expansion legs are output-sized — the irreducible
    cost of reporting the pairs at all.

    Why no band pre-bucketing (the dhash move): for a
    ``SIMHASH_BITS``-bit signature at Hamming <= k, the pigeonhole needs
    k+1 identical-band candidates, i.e. >= 7 bands of 32/7 ~ 4 bits; the
    per-band bucket join then costs sum over 8 bands of D^2/2^4 = D^2/2 —
    exactly the distinct cross join, with three extra shuffles. Banding
    only turns selective when the band width reaches ~8+ bits, i.e. a
    64-bit signature; at that width reuse
    ``multimodal.dhash_neardup_pairs`` (its banded join is
    hash-generic). The distinct collapse is the whole gain at 32 bits —
    it is also the dominant one, because signature multiplicity, not
    signature count, is what grows on a duplicate-heavy corpus.
    """
    ids = sig.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")
    ).localCheckpoint(eager=True)
    hs = ids.select("__h").distinct()
    a, b = hs.alias("a"), hs.alias("b")
    hamming = F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h")))
    hpairs = (
        a.join(b, F.col("a.__h") < F.col("b.__h"))
        .select(
            F.col("a.__h").alias("h_a"),
            F.col("b.__h").alias("h_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        hpairs.join(ids.select(F.col("__h").alias("h_a"), "__id"), "h_a")
        .withColumnRenamed("__id", "id_x")
        .join(ids.select(F.col("__h").alias("h_b"), "__id"), "h_b")
        .withColumnRenamed("__id", "id_y")
        .select(
            F.least("id_x", "id_y").alias("doc_a"),
            F.greatest("id_x", "id_y").alias("doc_b"),
            "hamming",
        )
    )
    x, y = ids.alias("x"), ids.alias("y")
    equal = (
        x.join(y, "__h")
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("doc_a"),
            F.col("y.__id").alias("doc_b"),
            F.bit_count(F.lit(0).cast("long")).alias("hamming"),
        )
    )
    return cross.unionByName(equal)


def q_dedup_simhash_pairs(spark, sf_dir):
    """Near-dup pairs by SimHash Hamming distance <= 6 — the r12
    distinct-signature rewrite of the former id-level self-join; output
    and oracle unchanged (the collapse is lossless: Hamming is a
    function of the signatures alone)."""
    return simhash_neardup_pairs(q_dedup_simhash(spark, sf_dir))


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH {SQL_SHINGLES},
votes AS (
    SELECT doc_id,
           {_sql_simhash_votes()}
    FROM shingles
    GROUP BY doc_id
),
sig AS (
    SELECT doc_id, {_SQL_SIMHASH_COMBINE} AS simhash FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


# --------------------------------------------------------------------------
# Near-dup clustering: candidate pairs → connected components → keepers
# --------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 10,
) -> DataFrame:
    """Connected components by min-label propagation with POINTER
    JUMPING: every node starts labeled with its own id; each round,
    nodes adopt the minimum label among themselves and their neighbors
    (one edge-join + min-aggregate), then shortcut through the previous
    round's table (``component <- min(component,
    prev_label[component])``). Both steps are monotone non-increasing
    and keep every label the id of a same-component node, so the
    fixpoint is unchanged — but the shortcut roughly doubles the
    propagation distance per round, so convergence takes O(log
    diameter) rounds instead of O(diameter) (the r15 optimization:
    rel_fuzzy_clusters' edit-distance chains needed ~20 linear rounds —
    a measured ~260 s per-iteration-overhead floor at sf1; see
    OPTIMIZATION_r15.md).

    Three more per-round costs removed (r15): the edge relation is
    checkpointed ONCE up front (previously the full upstream
    candidate-generation pipeline — MinHash banding, fuzzy prefix
    joins — re-executed inside EVERY iteration's join, twice via the
    two union branches); the convergence check reads the carried
    previous label off the checkpointed result (previously a separate
    join + count job per round); and the initial labels are
    materialized so the node-distinct runs once, not once per
    downstream reference.

    Convergence test: a round that changes nothing in the combined
    propagate+jump step changed nothing in the propagate step alone
    (both monotone), and propagate-stability forces labels constant on
    each component (label(x) <= label(y) across every edge, both
    directions) — i.e. the exact fixpoint, every label the component
    minimum.

    Returns (node, component) where component = min node id in the cluster.
    """
    if max_iterations < 1:
        # changed starts at 0, so a non-positive cap would skip the loop
        # AND the convergence guard, silently returning every node as its
        # own component — exactly the split-component hazard the guard
        # exists to prevent
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    sel = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    undirected = sel.unionByName(
        sel.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = undirected.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node")).localCheckpoint(
        eager=True
    )
    id_type = labels.schema["component"].dataType

    changed = 0
    for _ in range(max_iterations):
        neighbor_labels = (
            undirected.join(labels, undirected.v == labels.node)
            .select(
                F.col("u").alias("node"),
                "component",
                F.lit(None).cast(id_type).alias("old"),
            )
        )
        merged = (
            labels.select(
                "node", "component", F.col("component").alias("old")
            )
            .unionByName(neighbor_labels)
            .groupBy("node")
            # exactly one labels row per node carries a non-null old, so
            # max() recovers the previous label without a join
            .agg(F.min("component").alias("component"), F.max("old").alias("old"))
        )
        # pointer jump through the PREVIOUS table (already materialized
        # blocks — no recompute): every component value is a node id, so
        # the left join always matches; coalesce guards the empty-edge
        # degenerate case only
        ptr = labels.select(
            F.col("node").alias("cnode"), F.col("component").alias("ccomp")
        )
        new_labels = (
            merged.join(ptr, merged.component == ptr.cnode, "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("ccomp", "component")
                ).alias("component"),
                "old",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("component") != F.col("old")
        ).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    if changed != 0:
        # silently returning split components would emit multiple keepers
        # for one true cluster (and diverge from the exact-closure oracle)
        raise ValueError(
            "connected_components did not converge within "
            f"{max_iterations} iterations (label-propagation distance "
            "exceeds the cap); raise max_iterations"
        )
    return labels


def dedup_clusters(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 10,
) -> DataFrame:
    """Full near-dup pipeline tail: cluster the candidate pairs and pick the
    minimum id per cluster as the keeper. Docs in no pair keep themselves.
    Output: (doc_id, keeper_doc_id, is_keeper).

    ``max_iterations`` forwards to :func:`connected_components`, which
    converges in O(log diameter) rounds since the r15 pointer-jumping
    rewrite — bucket-STAR edges converge INSIDE the clique-era bound
    (pinned by the r14 star-edge test), so no 2x padding is needed; the
    parameter remains the non-convergence guard for adversarial
    graphs."""
    comp = connected_components(candidate_pairs, max_iterations=max_iterations)
    joined = docs.select(F.col(id_col).alias("node")).join(comp, "node", "left")
    resolved = joined.select(
        F.col("node").alias(id_col),
        F.coalesce("component", F.col("node")).alias("keeper_doc_id"),
    )
    return resolved.withColumn(
        "is_keeper", F.col(id_col) == F.col("keeper_doc_id")
    )


def q_dedup_clusters(spark, sf_dir):
    """Driver row for the iterate-to-fixpoint surface: connected components
    over the MinHash-LSH candidates, keeper = min doc_id per component.
    The min-label-propagation loop is exactly the shape that silently
    drifts without an oracle, so the DuckDB twin recomputes components
    independently (recursive transitive closure) FROM THE FULL PAIR
    RELATION — which this function deliberately does NOT build (r13):
    the candidate edges are the bucket-STAR relation
    (:func:`minhash_band_star_edges`, hub -> member per band bucket),
    LINEAR in band rows where the pair join is quadratic in bucket
    sizes. Star components equal clique components (every member
    touches its bucket hub — pinned by test AND by this oracle, which
    still closes over the cliques), so the output is identical while
    the candidate stage stops paying duplicate-multiplicity². The r13
    rehearsal that motivated it: on sf10pb the true pair count grows
    ~mult^2 (110x on 10x data) while this row must stay output-sized
    (one keeper row per doc)."""
    docs = _docs(spark, sf_dir)
    edges = minhash_band_star_edges(minhash_bands(docs))
    # star edges can double propagation distance (hub hops) — 2x the
    # clique-era bound; the loop still exits at the true fixpoint
    return dedup_clusters(docs, edges, max_iterations=20)


# Oracle: same LSH candidate pairs, then components via recursive
# transitive closure (UNION-distinct recursion terminates; near-dup
# clusters are tiny so the closure stays bounded) — shared between the
# min-id keeper (dedup_clusters) and the priority keeper below.
_SQL_COMPONENTS_BODY = """
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
    SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)
"""

# keeper = min reachable node id; singleton docs keep themselves via the
# LEFT JOIN + COALESCE.
SQL_DEDUP_CLUSTERS = (
    f"WITH RECURSIVE {SQL_SHINGLES},{SQL_MINHASH_BANDS_BODY},"
    f"{_SQL_COMPONENTS_BODY}"
    """
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS keeper_doc_id,
       COALESCE(c.component, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""
)


def dedup_keeper_by_priority(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    priority: F.Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster the candidate pairs and keep, per near-dup cluster, the
    document with the BEST provenance instead of the smallest id —
    curation policy keepers (prefer the cleaner source when near-dups
    straddle sources; ties on id). Docs in no pair keep themselves.
    Output: (doc_id, keeper_doc_id, is_keeper).

    Same distributed shape as ``dedup_clusters`` (component fixpoint,
    then one keeper reduction over clusters — cluster-sized groups,
    never corpus-wide), plus one broadcast-sized keeper join. The
    keeper pick is ``min(struct(prio, id))`` — the r15 LPA precedent:
    identical to the old per-component row_number window's rank-1 under
    (prio ASC, id ASC) including NULLS FIRST (struct ordering places a
    null field first, exactly the window default — pinned by test), but
    the per-component SORT drops out and partial map-side aggregation
    applies where a window could not.

    NULL-priority hazard: ascending NULLS FIRST means a NULL priority
    would crown an unknown-priority doc as keeper. ``priority`` must
    therefore be a TOTAL expression — coalesce unknowns to a
    worst-sorting sentinel (e.g.
    ``coalesce(try_cast(...), lit(2**31 - 1))``, as
    ``q_dedup_keeper_priority`` does).
    """
    comp = connected_components(candidate_pairs)
    labeled = (
        docs.select(F.col(id_col).alias("node"), priority.alias("prio"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("component"),
            "prio",
        )
        # feeds the keeper reduction AND the output join — materialize
        # once so the docs scan + component join run once per pass
        .localCheckpoint(eager=True)
    )
    keepers = (
        labeled.groupBy("component")
        .agg(F.min(F.struct("prio", id_col)).alias("w"))
        .select("component", F.col(f"w.{id_col}").alias("keeper_doc_id"))
    )
    return labeled.join(keepers, "component").select(
        id_col,
        "keeper_doc_id",
        (F.col(id_col) == F.col("keeper_doc_id")).alias("is_keeper"),
    )


def q_dedup_keeper_priority(spark, sf_dir):
    """Driver row for policy-keepered near-dup clusters: priority = the
    numeric suffix of the fixture's source tag (src0 best), keeper =
    argmin (priority, doc_id) per MinHash-LSH component."""
    docs = _docs(spark, sf_dir)
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    # TOTAL priority function, aligned with the oracle for any source
    # value: try_cast (never errors) + coalesce to INT_MAX so unknown /
    # unparsable sources sort LAST — a bare cast would yield NULL, which
    # Spark's ascending window puts FIRST (crowning the unknown source
    # keeper) while DuckDB's strict CAST would abort instead
    prio = F.coalesce(
        F.expr("try_cast(substring(source, 4) as int)"),
        F.lit(2147483647),
    )
    return dedup_keeper_by_priority(docs, pairs, prio)


SQL_DEDUP_KEEPER_PRIORITY = (
    f"WITH RECURSIVE {SQL_SHINGLES},{SQL_MINHASH_BANDS_BODY},"
    f"{_SQL_COMPONENTS_BODY}"
    """,
allc AS (
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           COALESCE(TRY_CAST(SUBSTR(d.source, 4) AS INT), 2147483647)
               AS prio
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
keep AS (
    SELECT component, doc_id AS keeper_doc_id
    FROM (
        SELECT component, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY component ORDER BY prio, doc_id
               ) AS rk
        FROM allc
    ) WHERE rk = 1
)
SELECT a.doc_id, k.keeper_doc_id, a.doc_id = k.keeper_doc_id AS is_keeper
FROM allc a JOIN keep k ON a.component = k.component
"""
)


# --------------------------------------------------------------------------
# Prefix-filtered Jaccard join (PPJoin-style similarity self-join)
# --------------------------------------------------------------------------

# Jaccard threshold as an exact rational T_NUM/T_DEN so the final filter is
# integer arithmetic (no float threshold compare): keep pairs with
# T_DEN * |A∩B| >= T_NUM * |A∪B|.
JACCARD_T_NUM, JACCARD_T_DEN = 3, 5       # t = 0.6


def token_sets_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, toks, set_size) with ``toks`` the sorted-distinct xxhash64
    token-id array of the document's word-``n``-gram shingles — built as a
    PURE PROJECTION (split → shingle lambda → hash lambda → distinct →
    sort, all inside the scan stage).  One row per document.

    This replaces the explode → groupBy → collect_list → sort_array
    round-trip (a corpus-tokens-sized shuffle plus a per-doc sort) that
    previously rebuilt the same arrays for PPJoin verification: the array
    never leaves the row, so the set representation costs zero exchanges.
    ``array_distinct`` on the hashed ids keeps set_size and the
    intersection measure consistent under (improbable) within-doc 64-bit
    collisions.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda t, i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + off) for off in range(n)]
    )
    tok_ids = F.sort_array(
        F.array_distinct(
            F.transform(
                F.array_distinct(F.transform(idx, lambda i: gram(toks, i))),
                lambda s: F.xxhash64(s),
            )
        )
    )
    # Parallelize the tokenize stage ONLY when the source under-splits
    # (the fixture is one parquet row group → one task for the whole
    # corpus) — see _split_docs for why it must stay conditional.
    return (
        _split_docs(docs).select("doc_id", tok_ids.alias("toks"))
        .withColumn("set_size", F.size("toks"))
    )


def token_sets_from_shingles(sh: DataFrame) -> DataFrame:
    """Adapter for callers holding an exploded (doc_id, shingle) relation
    (tests, synthetic fixtures): collapse it to the (doc_id, toks,
    set_size) shape ``jaccard_prefix_pairs`` consumes. Costs the groupBy
    that ``token_sets_df`` avoids — use that one when you have the docs."""
    return (
        sh.select("doc_id", F.xxhash64("shingle").alias("tok"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.array_distinct(F.collect_list("tok"))).alias("toks"))
        .withColumn("set_size", F.size("toks"))
    )


def _gate_dfreq(ts: DataFrame, dfreq: DataFrame) -> DataFrame:
    """Shared vocabulary-sized-broadcast gate for the prefix-filter
    joins (jaccard_prefix_pairs / containment_pairs), decided against
    the session broadcast threshold using ``approx_count_distinct`` over
    the CHECKPOINTED token sets ``ts`` — i.e. an HLL estimate of the
    actual distinct-shingle vocabulary (= the dfreq row count), padded
    for sketch error. One eager map-side-combined agg over checkpointed
    longs, skipped when the threshold disables broadcasting; unlike a
    sum(set_size) bound it does NOT overestimate on highly duplicated
    corpora, where total token count exceeds the vocabulary by orders of
    magnitude and would withhold a beneficial broadcast."""
    if broadcast_threshold_bytes(ts.sparkSession) <= 0:
        return dfreq
    # explicit rsd + a 3-sigma pad: the default HLL rsd is 5%, so a
    # flat 10% pad could greenlight a broadcast on a ~2-sigma-tail
    # underestimate
    rsd = 0.05
    vocab_est = (
        ts.select(F.explode("toks").alias("tok"))
        .agg(F.approx_count_distinct("tok", rsd).alias("v"))
        .first()[0]
        or 0
    )
    vocab_bound = int(vocab_est * (1.0 + 3.0 * rsd)) + 1
    return maybe_broadcast(dfreq, est_rows=vocab_bound, bytes_per_row=24)


def jaccard_prefix_pairs(
    token_sets: DataFrame,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    prefix_cap: int | None = None,
    shared: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """All pairs with Jaccard(shingles) >= t, found via prefix filtering
    (PPJoin's candidate-generation idea, SIGMOD'08 / WWW'08 public
    literature) over DISTINCT token sets, instead of the all-sharing-pairs
    join over documents.

    Distinct-set collapse: the prefix join and
    the verification run over one representative per DISTINCT token set;
    verified set pairs expand back to doc pairs through two set-keyed
    joins, and equal-set groups (Jaccard exactly 1) emit their pairs from
    a per-group self-join — both output-sized. An id-level prefix join
    pays every exact-duplicate group's multiplicity SQUARED in candidates
    AND ships the verification arrays once per doc pair: measured on
    byte-identical replica corpora, id-level went 9.95 s (10 replicas) →
    50.5 s (30) → disk-full crash past ~45 GB of candidate spill (100),
    while set-level tracks the output (6.1 → 13.3 → 46.2 s for 0.25M →
    2.4M → 27.3M pairs) and costs nothing on a duplicate-light control
    (9.18 s vs 10.02 s id-level — the dfreq/prefix/window stages shrink
    by exactly what the collapse adds). Lossless: Jaccard is a function
    of the two sets alone, and prefix filtering holds under any global
    total order, including dfreq counted over distinct sets.

    ``prefix_cap`` (default None = exact) bounds the candidate join on
    corpora with GIANT near-duplicate families of *distinct* sets (the
    one shape the collapse cannot bound — e.g. mirrored boilerplate with
    per-site one-token edits, where candidates grow families × mult²):
    prefix tokens whose doc-weighted posting count exceeds the cap stop
    generating candidates. A pair is then found iff it shares at least
    one un-hot prefix token (the pigeonhole argument restricted to
    surviving tokens — same contract as MinHash's ``bucket_cap`` and
    dhash's band cap). NEVER silent: ``jaccard_prefix_hot_tokens``
    publishes exactly the dropped tokens with their posting weights.

    For Jaccard >= t, two sets of sizes |A|,|B| must share an element among
    the first ``|S| - ceil(t*|S|) + 1`` elements of each set under ANY
    global total order (rarest-first order makes those prefixes maximally
    selective).  So: order each set's shingles by corpus frequency
    (ties on token id), keep only that prefix, and self-join ON THE
    PREFIXES — at web scale this turns the quadratic candidate space into
    joins on rare tokens only.  Candidate pairs whose set sizes are
    incompatible with the threshold (J <= min/max) are dropped inside the
    join, then survivors are verified with an exact intersection count;
    the filter ``t_den*i >= t_num*(|A|+|B|-i)`` is pure integers. The
    threshold needs ``t_num >= 1`` and ``t_den >= 1``; anything else
    raises ``ValueError`` before any job runs.

    Input: a (doc_id, toks, set_size) relation with ``toks`` the
    sorted-distinct 64-bit token-id array per document — from
    ``token_sets_df`` (zero-shuffle projection over docs) or
    ``token_sets_from_shingles`` (adapter for exploded fixtures).

    Token identity: shingle strings are mapped once to 64-bit xxhash64
    ids, so every downstream shuffle/sort/join moves 8-byte longs instead
    of multi-word strings (measured ~30% of the query's wall time at
    sf0.1). Prefix filtering stays LOSSLESS under hashing — the theorem
    holds for any global total order, and colliding tokens only widen the
    candidate set. Verification counts intersections on token ids, exact
    up to 64-bit collisions (P ~ 1e-9 at millions of distinct shingles;
    for corpora approaching 2^32 distinct shingles switch the id to
    ``concat(xxhash64, crc32)`` or verify survivors on strings); the
    set key is the same 64-bit id hashed over the whole array, with the
    same collision budget.

    ``shared``: an already-built ``(keyed, groups, prefix)`` triple from
    :func:`jaccard_prefix_build`, so a caller composing several
    prefix-family stages (the cluster-routing recipe runs this join AND
    the hot-family doc extraction) tokenizes and ranks the corpus ONCE
    instead of once per stage. Must have been built with the same
    ``t_num/t_den``; default None builds it here.
    """
    keyed, groups, prefix = shared or jaccard_prefix_build(
        token_sets, t_num, t_den
    )
    spairs = _jaccard_set_pairs(groups, prefix, t_num, t_den, prefix_cap)
    cross = _expand_set_pairs(
        spairs, keyed, "doc_a", "doc_b", ["intersection", "jaccard"],
        ordered=False,
    )
    # an empty set has no Jaccard: equal empty sets are not pairs
    return _with_equal_set_pairs(
        cross, keyed.filter(F.col("set_size") > 0), t_num, t_den,
        "doc_a", "doc_b", "jaccard", ordered=False,
    )


def jaccard_prefix_build(
    token_sets: DataFrame,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared tokenize/rank pipeline every Jaccard prefix-family
    entry point derives from: ``(keyed, groups, prefix)`` — the
    checkpointed per-doc token sets, their distinct-set reduction, and
    the rarest-first prefix slice (see :func:`_prefix_build`). Build it
    ONCE and pass it as ``shared=`` to :func:`jaccard_prefix_pairs` /
    :func:`jaccard_hot_family_docs` when composing stages, so one
    logical corpus scan costs one corpus materialization. ``prefix`` is
    lazy: each consumer re-executes it from the CHECKPOINTED ``groups``,
    so the duplicate cost is window CPU, never a re-scan."""
    return _prefix_build(token_sets, t_num, t_den)


def _prefix_build(
    token_sets: DataFrame,
    num: int,
    den: int,
    min_size: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(keyed, groups, prefix)`` for the threshold num/den — the one
    prefix construction behind both PPJoin measures (Jaccard and
    containment), their capped joins and their hot-token reports, so a
    report and its join can never disagree.

    ``prefix`` is the rarest-first slice (doc_id=skey, tok, set_size, rk,
    mult) over DISTINCT token sets: a set of size n keeps its first
    n − ceil(num·n/den) + 1 tokens in (dfreq, tok) order, dfreq counted
    over distinct sets. A set meeting either threshold against another
    shares a token with it inside that prefix (pigeonhole), under any
    global total order. ``min_size`` (containment only) floors both
    ``keyed`` and ``groups`` AFTER the checkpoint — checkpoint-then-filter
    keeps the tokenize projection from being re-evaluated per row by a
    pushed predicate (measured 7-10 s vs 0.6 s at sf0.1) — so near-empty
    sets join neither side nor any equal-set group.

    Raises ``ValueError`` unless num >= 1 and den >= 1, before any job
    runs: a zero denominator divides by zero inside an executor, and a
    non-positive numerator admits pairs that share no token, which no
    token join can find."""
    if num < 1 or den < 1:
        raise ValueError(
            f"threshold {num}/{den}: numerator and denominator must be >= 1"
        )
    keyed, groups = _distinct_token_sets(token_sets)
    if min_size is not None:
        keyed = keyed.filter(F.col("set_size") >= min_size)
        groups = groups.filter(F.col("set_size") >= min_size)
    ts = groups.select(F.col("skey").alias("doc_id"), "toks", "set_size", "mult")
    sh = ts.select("doc_id", "set_size", "mult", F.explode("toks").alias("tok"))
    dfreq = sh.groupBy("tok").agg(F.count("*").alias("dfreq"))
    # prefix length: n - ceil(t*n) + 1, with ceil in exact integers
    plen = F.col("set_size") - F.floor(
        (num * F.col("set_size") + den - 1) / den
    ).cast("long") + 1
    w = Window.partitionBy("doc_id").orderBy("dfreq", "tok")
    # dfreq is one row per distinct shingle — broadcast is right while the
    # vocabulary fits an executor (shingled fixture text: 27k tokens at
    # sf0.1), WRONG at corpus scale where distinct shingles ~ corpus size.
    # _gate_dfreq gates the hint on the vocabulary size. When withheld,
    # the join and the doc_id window below run as two ordinary shuffles
    # and nothing else changes.
    # Both sides of the Jaccard candidate self-join consume `prefix`, so
    # the dfreq join + ranking window run twice (plan shows Window×2) —
    # but both start from the checkpointed token sets, so the duplicate
    # is window CPU only, no re-scan. Measured at sf0.1, checkpointing
    # `prefix` costs more (materialization write) than the duplicate
    # window saves; on a cluster where the prefix slice is large relative
    # to executor CPU, add .localCheckpoint(eager=False) here and
    # re-measure.
    prefix = (
        sh.join(_gate_dfreq(ts, dfreq), "tok")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= plen)
        .select("doc_id", "tok", "set_size", "rk", "mult")
    )
    return keyed, groups, prefix


def _distinct_token_sets(
    token_sets: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(keyed, groups): the checkpointed (doc_id, toks, set_size, skey)
    relation and its one-representative-per-distinct-set reduction with
    per-set multiplicity ``mult`` (doc count — the weight hot-posting
    caps and expansions need). The checkpoint materializes the tokenize
    projection ONCE (one row per doc, arrays never exploded here); every
    later stage — dfreq, prefixes, verification, expansion — derives
    from it, so the corpus is scanned exactly once per call."""
    keyed = token_sets.withColumn("skey", F.xxhash64("toks")).localCheckpoint(
        eager=True
    )
    groups = (
        keyed.groupBy("skey")
        .agg(
            F.first("toks").alias("toks"),
            F.first("set_size").alias("set_size"),
            F.count(F.lit(1)).alias("mult"),
        )
        # one representative per distinct set, referenced by dfreq, the
        # prefix build and both verification sides below — materialized
        # so the groupBy shuffle runs once (bounded by DISTINCT sets)
        .localCheckpoint(eager=True)
    )
    return keyed, groups


def _expand_set_pairs(
    spairs: DataFrame,
    keyed: DataFrame,
    col_a: str,
    col_b: str,
    carry: list[str],
    ordered: bool,
) -> DataFrame:
    """Expand verified (skey_a, skey_b, *carry) set pairs back to doc
    pairs — output-sized, the irreducible cost of reporting pairs at all.
    ``ordered=False`` canonicalizes unordered pairs (least/greatest);
    ``ordered=True`` keeps the (inner, outer) direction."""
    ids = keyed.select("skey", "doc_id")
    expanded = (
        spairs.join(ids.select(F.col("skey").alias("skey_a"), "doc_id"), "skey_a")
        .withColumnRenamed("doc_id", "id_x")
        .join(
            ids.select(F.col("skey").alias("skey_b"), F.col("doc_id").alias("id_y")),
            "skey_b",
        )
    )
    if ordered:
        pair = [F.col("id_x").alias(col_a), F.col("id_y").alias(col_b)]
    else:
        pair = [
            F.least("id_x", "id_y").alias(col_a),
            F.greatest("id_x", "id_y").alias(col_b),
        ]
    return expanded.select(*pair, *carry)


def _with_equal_set_pairs(
    cross: DataFrame,
    keyed: DataFrame,
    num: int,
    den: int,
    col_a: str,
    col_b: str,
    measure: str,
    ordered: bool,
) -> DataFrame:
    """``cross`` plus the doc pairs with EQUAL token sets (measure exactly
    1, intersection = set size), which the distinct-set collapse never
    verifies; nothing is added when num > den (1 is below the threshold).
    ``ordered=False`` emits each unordered pair once (col_a < col_b);
    ``ordered=True`` emits both directions, like :func:`_expand_set_pairs`."""
    if num > den:
        return cross
    x, y = keyed.alias("x"), keyed.alias("y")
    distinct_docs = (
        F.col("x.doc_id") != F.col("y.doc_id")
        if ordered
        else F.col("x.doc_id") < F.col("y.doc_id")
    )
    equal = (
        x.join(y, "skey")
        .filter(distinct_docs)
        .select(
            F.col("x.doc_id").alias(col_a),
            F.col("y.doc_id").alias(col_b),
            F.col("x.set_size").cast("long").alias("intersection"),
            F.lit(1.0).alias(measure),
        )
    )
    return cross.unionByName(equal)


def _hot_prefix_tokens(prefix: DataFrame, prefix_cap: int) -> DataFrame:
    """(tok, n_docs) for prefix tokens whose doc-weighted posting count
    exceeds the cap — ``mult`` rides on the set-level prefix relation, so
    the weight counts DOCUMENTS, matching the id-level formulation (and
    MinHash/dhash cap semantics) exactly."""
    return (
        prefix.groupBy("tok")
        .agg(F.sum("mult").alias("n_docs"))
        .filter(F.col("n_docs") > prefix_cap)
    )


def _drop_hot_prefix_tokens(
    prefix: DataFrame, prefix_cap: int | None
) -> DataFrame:
    """``prefix`` without the tokens ``_hot_prefix_tokens`` reports
    (unchanged when ``prefix_cap`` is None): a pair survives the capped
    join iff it shares a quiet prefix token. The anti-join's right side is
    aggregate-sized; AQE broadcast-plans it at runtime."""
    if prefix_cap is None:
        return prefix
    hot = _hot_prefix_tokens(prefix, prefix_cap).select("tok")
    return prefix.join(hot, "tok", "left_anti")


def _jaccard_set_pairs(
    groups: DataFrame,
    prefix: DataFrame,
    t_num: int,
    t_den: int,
    prefix_cap: int | None,
) -> DataFrame:
    """(skey_a, skey_b, intersection, jaccard) over DISTINCT non-equal
    token sets — the PPJoin core over ``_prefix_build``'s groups and
    prefix. A capped token generates no candidate on EITHER side."""
    ts = groups.select(F.col("skey").alias("doc_id"), "toks", "set_size")
    prefix = _drop_hot_prefix_tokens(prefix, prefix_cap)
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # PPJoin's positional filter: Jaccard >= t needs overlap
    # o >= ceil(t/(1+t) * (|A|+|B|)); a match at ranks (rka, rkb) in the
    # dfreq order can contribute at most 1 + min(|A|-rka, |B|-rkb) more
    # overlap, so pairs whose every shared prefix token is too late can
    # never verify. Integer form: a >= ceil(p/q) <=> a*q >= p. Lossless —
    # a qualifying pair's FIRST shared token always passes (WWW'08 thm),
    # and the pair survives if ANY of its generating tokens passes.
    possible = F.lit(1) + F.least(
        F.col("pa.set_size") - F.col("pa.rk"),
        F.col("pb.set_size") - F.col("pb.rk"),
    )
    needed = t_num * (F.col("pa.set_size") + F.col("pb.set_size"))
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # length filter: J <= min(|A|,|B|)/max(|A|,|B|), so size-
            # incompatible pairs can never verify — prune before distinct
            & (
                t_num * F.greatest("pa.set_size", "pb.set_size")
                <= t_den * F.least("pa.set_size", "pb.set_size")
            )
            & (possible * (t_num + t_den) >= needed),
        )
        .select(
            F.col("pa.doc_id").alias("skey_a"),
            F.col("pb.doc_id").alias("skey_b"),
        )
        .distinct()
    )
    # Verification: the checkpointed token-set arrays ARE the verification
    # representation — |A∩B| per candidate SET pair via array_intersect on
    # the sorted id arrays. Each distinct set crosses the wire once per
    # side as a packed array, there is no pair-keyed aggregation, and at
    # this SF both set-keyed joins broadcast. set_size and the
    # intersection are both measured on the same array_distinct'ed ids,
    # so an (improbable) within-doc 64-bit collision cannot skew the
    # Jaccard ratio.
    ta = ts.select(
        F.col("doc_id").alias("skey_a"),
        F.col("toks").alias("toks_a"),
        F.col("set_size").alias("size_a"),
    )
    tb = ts.select(
        F.col("doc_id").alias("skey_b"),
        F.col("toks").alias("toks_b"),
        F.col("set_size").alias("size_b"),
    )
    inter = (
        cand.join(ta, "skey_a")
        .join(tb, "skey_b")
        .withColumn(
            "intersection",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long"),
        )
    )
    union_size = F.col("size_a") + F.col("size_b") - F.col("intersection")
    return inter.filter(
        t_den * F.col("intersection") >= t_num * union_size
    ).select(
        "skey_a",
        "skey_b",
        "intersection",
        (F.col("intersection").cast("double") / union_size).alias("jaccard"),
    )


def jaccard_prefix_hot_tokens(
    token_sets: DataFrame,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    prefix_cap: int = 0,
) -> DataFrame:
    """The accounting twin of a ``prefix_cap``-bounded run: (tok, n_docs)
    for every prefix token the capped join refuses to generate candidates
    from — exactly the drop a capped run makes, built from the same
    prefix construction so report and join can never disagree."""
    _keyed, _groups, prefix = _prefix_build(token_sets, t_num, t_den)
    return _hot_prefix_tokens(prefix, prefix_cap)


def jaccard_hot_family_docs(
    token_sets: DataFrame,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    prefix_cap: int = 0,
    shared: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(doc_id) for every document whose rarest-first prefix contains at
    least one hot token — the ROUTING SIGNAL a ``prefix_cap``-bounded run
    publishes: these are exactly the members of the
    giant distinct-near-dup families the capped join refuses to
    enumerate, and the set the MinHash/clustering path should take over.

    Coverage guarantee (what makes the capped+routed composition sound):
    a qualifying pair MISSED by the capped join shares only hot prefix
    tokens, so BOTH its endpoints appear here — capped pairs plus any
    exact-or-probabilistic recovery over this doc set jointly cover
    every qualifying pair. Built from the SAME prefix construction as
    the join and the hot-token report, so the three can never disagree.
    The relation is family-member-sized (drop-side only), never
    corpus-sized on a duplicate-light corpus.

    ``shared``: a prebuilt ``(keyed, groups, prefix)`` triple from
    :func:`jaccard_prefix_build` — same contract as on
    :func:`jaccard_prefix_pairs`.
    """
    keyed, _groups, prefix = shared or jaccard_prefix_build(
        token_sets, t_num, t_den
    )
    hot = _hot_prefix_tokens(prefix, prefix_cap)
    hot_skeys = (
        prefix.join(hot.select("tok"), "tok", "semi")
        .select(F.col("doc_id").alias("skey"))  # prefix keys are skeys
        .distinct()
    )
    return keyed.join(hot_skeys, "skey", "semi").select("doc_id")


def minhash_band_star_edges(bands: DataFrame) -> DataFrame:
    """Bucket-STAR candidate edges: per (band, band_key) bucket, one edge
    from the bucket's minimum doc_id to every other member — LINEAR in
    band rows where ``minhash_band_pairs``' bucket self-join is quadratic
    in bucket size. Connected components over the stars equal components
    over the full bucket cliques (every member touches the hub), which is
    all the clustering path consumes; use this, never the pair join, for
    the giant families ``jaccard_hot_family_docs`` routes here — their
    pair enumeration is the exact cost the routing exists to avoid.

    Diameter note: replacing cliques with stars can up to
    DOUBLE the min-label-propagation distance — two members of one
    bucket that were 1 hop apart under the clique are now 2 hops apart
    through the hub, so a chain of k overlapping buckets that converged
    in k rounds needs up to 2k. Feed ``connected_components`` a doubled
    ``max_iterations`` when the edges are stars (the loop still exits
    early at the true fixpoint, so the headroom costs nothing when the
    graph is shallow; the non-convergence guard stays loud either way).
    """
    bands = bands.localCheckpoint(eager=True)
    hubs = bands.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("doc_a")
    )
    return (
        bands.join(hubs, ["band", "band_key"])
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_prefix_with_cluster_routing(
    docs: DataFrame,
    prefix_cap: int,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
) -> tuple[DataFrame, DataFrame]:
    """The documented recipe for corpora with giant families of DISTINCT
    near-identical sets (SCALING.md Hazard 2's remaining exposure):
    returns ``(pairs, routed_clusters)`` where

    - ``pairs`` is the ``prefix_cap``-bounded PPJoin — exact on every
      pair sharing a quiet prefix token, i.e. everything outside the
      giant families;
    - ``routed_clusters`` is (doc_id, keeper_doc_id, is_keeper) over the
      hot-family docs only, via MinHash banding + bucket-star edges +
      connected components — keeper assignments at banding cost
      (O(routed docs × bands)), NOT the families × mult² pair
      enumeration the exact join dies on.

    The split is the honest contract at 100 TB: quiet pairs exactly,
    giant families as clusters (their all-pairs report is output-sized
    quadratic and belongs to no production pipeline). The hot-token
    report (``jaccard_prefix_hot_tokens``) remains the audit trail for
    what was routed. A/B measured on the sf10pb suffix fixture — see
    SCALING.md "Routing the capped families to the clustering path".
    """
    ts = token_sets_df(docs)
    # build the tokenize/rank pipeline ONCE and thread it into both arms
    # (the capped join and the hot-family extraction): one eager corpus
    # materialization and one prefix ranking, not two of each
    shared = jaccard_prefix_build(ts, t_num, t_den)
    pairs = jaccard_prefix_pairs(
        ts, t_num, t_den, prefix_cap=prefix_cap, shared=shared
    )
    routed = jaccard_hot_family_docs(
        ts, t_num, t_den, prefix_cap=prefix_cap, shared=shared
    )
    hot_docs = docs.join(routed, "doc_id", "semi").localCheckpoint(
        eager=True
    )
    edges = minhash_band_star_edges(minhash_bands(hot_docs))
    # star edges: 2x the clique-era propagation bound (diameter note on
    # minhash_band_star_edges)
    clusters = dedup_clusters(hot_docs, edges, max_iterations=20)
    return pairs, clusters


def q_dedup_jaccard_prefix(spark, sf_dir):
    # no .cache() — jaccard_prefix_pairs localCheckpoints the token sets
    return jaccard_prefix_pairs(token_sets_df(_docs(spark, sf_dir)))


# Oracle: BRUTE FORCE at the same threshold — prefix filtering must be
# lossless, so the smart plan and the naive plan agree row-for-row.
SQL_DEDUP_JACCARD_PREFIX = f"""
WITH {SQL_SHINGLES},
sizes AS (
    SELECT doc_id, COUNT(*) AS set_size FROM shingles GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, intersection,
       CAST(intersection AS DOUBLE)
           / (sa.set_size + sb.set_size - intersection) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {JACCARD_T_DEN} * intersection
      >= {JACCARD_T_NUM} * (sa.set_size + sb.set_size - intersection)
"""


# --------------------------------------------------------------------------
# Incremental dedup: new ingest batch vs the historical corpus
# --------------------------------------------------------------------------

def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Dedup one new ingest batch against an already-deduped historical
    corpus AND within itself — the steady-state shape of a crawl pipeline:
    each new snapshot is deduped incrementally, never corpus-vs-corpus
    again.

    Per new document: its content fingerprint, whether an earlier document
    in the same batch already carries it (keep-lowest-doc_id rule), whether
    the historical corpus already contains it, and the resulting keep flag.

    Scale shape: the corpus side is pruned to its single fingerprint
    column at the scan (at 100 TB you persist the fingerprint column — or
    a bucketed fingerprint store — and never re-read text); both joins
    shuffle on the fingerprint, batch-sized not corpus-sized on the probe
    side. When the batch is small relative to the corpus, prepend a
    broadcast Bloom prune (sketches.bloom_filter) on the corpus scan so
    only fingerprint partitions that can match are shuffled.
    """
    fp = F.md5(F.col(text_col))
    corpus_fps = (
        corpus.select(fp.alias("fp")).distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    batch = new_batch.select("doc_id", fp.alias("fp"))
    first = batch.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    return (
        batch.join(first, "fp")
        .join(corpus_fps, "fp", "left")
        .select(
            "doc_id",
            "fp",
            (F.col("doc_id") != F.col("first_doc")).alias("dup_in_batch"),
            F.coalesce(F.col("in_corpus"), F.lit(False)).alias("dup_in_corpus"),
            (
                (F.col("doc_id") == F.col("first_doc"))
                & F.coalesce(~F.col("in_corpus"), F.lit(True))
            ).alias("keep"),
        )
    )


def incremental_minhash_candidates(
    batch_bands: DataFrame,
    corpus_bands: DataFrame,
    bucket_cap: int | None = None,
) -> DataFrame:
    """NEAR-dup twin of ``incremental_dedup``: candidate pairs for one new
    ingest batch against an already-banded historical corpus AND within
    itself — never corpus-vs-corpus again. Inputs are (doc_id, band,
    band_key) relations (``minhash_bands``); at 100 TB the corpus side is
    a PERSISTED band store re-read per batch (band keys are ~16 bytes a
    row — you never re-shingle history), and both joins shuffle
    batch-sized on the probe side.

    Returns (doc_new, doc_other, leg): leg='corpus' pairs a new document
    with a historical one, leg='batch' with an earlier document of the
    same batch — ``doc_other`` is always the EARLIER side (lower doc_id
    within the batch), so the keep-earliest policy of the
    ``incremental_dedup`` twin reads as "doc_new duplicates doc_other".
    ``bucket_cap`` drops saturated CORPUS buckets before the join (same
    hazard and same accounting contract as ``minhash_band_pairs``:
    publish ``minhash_bucket_report`` over the corpus bands alongside).

    The batch side is checkpointed here (it feeds BOTH sides of the
    batch self-join plus the corpus probe — raw lineage would re-run the
    shingle→signature pipeline three times); the corpus side is NOT (in
    production it is a persisted store scan, and at corpus scale an
    eager materialization would be the bug)."""
    batch_bands = batch_bands.localCheckpoint(eager=True)
    corpus_bands = _drop_saturated_buckets(corpus_bands, bucket_cap)
    n, o = batch_bands.alias("n"), corpus_bands.alias("o")
    corpus_leg = (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("o.doc_id").alias("doc_other"),
            F.lit("corpus").alias("leg"),
        )
    )
    # the LATER document is the candidate duplicate; the earlier one is
    # what it duplicates (keep-lowest-doc_id rule)
    batch_leg = _band_self_join(batch_bands).select(
        F.col("doc_b").alias("doc_new"),
        F.col("doc_a").alias("doc_other"),
        F.lit("batch").alias("leg"),
    )
    return corpus_leg.unionByName(batch_leg).distinct()


def resolve_incremental_pair_labels(
    pairs: DataFrame, batch_ids: DataFrame
) -> DataFrame:
    """Merge-on-read labeling for streamed candidate pairs: given
    CANONICAL unordered pairs (``doc_lo < doc_hi``, however the engine's
    micro-batch chopping discovered them) and the new-batch membership
    relation (one ``doc_id`` column), reconstruct the
    ``(doc_new, doc_other, leg)`` contract of
    :func:`incremental_minhash_candidates`: both sides in the batch →
    leg='batch' with the LATER doc as ``doc_new``; exactly one side in
    the batch → leg='corpus' with the batch doc as ``doc_new``; neither
    side in the batch (corpus-bootstrap self pairs) → dropped. The
    canonical pair SET is chop-invariant (a cross-micro-batch batch
    pair is found exactly once, when the later chunk probes the store
    holding the earlier chunk's bands), but which LEG a per-batch probe
    sees it on is not — membership, not discovery order, is the truth,
    so the label is resolved here at read time."""
    lo_in = batch_ids.select(F.col("doc_id").alias("doc_lo")).withColumn(
        "lo_new", F.lit(True)
    )
    hi_in = batch_ids.select(F.col("doc_id").alias("doc_hi")).withColumn(
        "hi_new", F.lit(True)
    )
    return (
        pairs.join(lo_in, "doc_lo", "left")
        .join(hi_in, "doc_hi", "left")
        .select(
            "doc_lo",
            "doc_hi",
            F.coalesce("lo_new", F.lit(False)).alias("lo_new"),
            F.coalesce("hi_new", F.lit(False)).alias("hi_new"),
        )
        .filter(F.col("lo_new") | F.col("hi_new"))
        .select(
            F.when(F.col("lo_new") & F.col("hi_new"), F.col("doc_hi"))
            .when(F.col("lo_new"), F.col("doc_lo"))
            .otherwise(F.col("doc_hi"))
            .alias("doc_new"),
            F.when(F.col("lo_new") & F.col("hi_new"), F.col("doc_lo"))
            .when(F.col("lo_new"), F.col("doc_hi"))
            .otherwise(F.col("doc_lo"))
            .alias("doc_other"),
            F.when(F.col("lo_new") & F.col("hi_new"), F.lit("batch"))
            .otherwise(F.lit("corpus"))
            .alias("leg"),
        )
        .distinct()
    )


INCR_BATCH_SOURCE = "src0"   # harness split: src0 is the "new" ingest


def _idempotent_batch_write(
    df: DataFrame, path: str, batch_id: int, partition_by: str | None = None
) -> None:
    """foreachBatch artifact write keyed by the micro-batch id (ADVICE
    r10): Structured Streaming's foreachBatch is at-least-once — a
    failed-then-retried micro-batch re-runs with the SAME batch_id — so
    each batch OVERWRITES its own ``batch_id=N`` partition instead of
    blind-appending. A replayed batch then lands byte-identical where the
    old append doubled n_occ store partials and duplicated staged rows
    (silent over-dropping in the steady-state crawl-ingest shape).
    Readers see ``batch_id`` as an inferred partition column and must
    drop/project it away."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(f"{path}/batch_id={batch_id}")


def _run_incremental_stream(
    spark,
    corpus: DataFrame,
    batch: DataFrame,
    process_batch,
    resolve,
    *,
    prefix: str,
    max_files_per_trigger=None,
    src_files=None,
    replay_each_batch=False,
):
    """Shared micro-batch ingest harness for the streaming dedup twins
    (minhash / lines / substrings): two availableNow runs over a file
    source — the corpus bootstraps the persisted state, then the batch
    streams in — with every micro-batch handled by
    ``process_batch(batch_df, store_path, sink_path)``, which must
    append ONLY chop-invariant artifacts (associative store partials,
    canonical rows); the result is ``resolve(store_path, sink_path)``
    at read time, so the output is invariant to how the engine chops
    ingestion. One definition of the chopping knobs, checkpoint wiring
    and shuffle-partition save/restore, so the three twins cannot
    silently diverge.

    ``max_files_per_trigger``/``src_files`` exist for the chopping
    tests only (N source files, one per micro-batch); driver paths
    leave them unset. ``replay_each_batch`` (redelivery tests only)
    re-invokes ``process_batch`` with the same (data, batch_id) —
    simulating the engine's at-least-once retry — and the result must
    be unchanged: every artifact write is keyed by batch_id via
    :func:`_idempotent_batch_write`. Batch ids are unique ACROSS the
    two runs because both share one checkpoint dir (the engine
    continues numbering on restart), so run 2 can never overwrite a
    run-1 partition."""
    from ..io import scratch_dir, state_store_partitions

    def handle(df, bid):
        process_batch(df, store, sink, bid)
        if replay_each_batch:
            process_batch(df, store, sink, bid)

    def run_once(schema):
        reader = spark.readStream.schema(schema)
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

    def write_src(df, first=False):
        w = df.repartition(src_files) if src_files else df
        w.write.mode("overwrite" if first else "append").parquet(src)

    with scratch_dir(prefix) as tmp, state_store_partitions(spark):
        src, store = f"{tmp}/src", f"{tmp}/store"
        sink, ckpt = f"{tmp}/sink", f"{tmp}/ckpt"
        write_src(corpus, first=True)
        run_once(corpus.schema)        # run 1: corpus bootstraps the store
        write_src(batch)
        run_once(corpus.schema)        # run 2: the new batch streams in
        return resolve(store, sink).localCheckpoint(eager=True)


def q_dedup_incremental(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return incremental_dedup(
        docs.filter(F.col("source") == INCR_BATCH_SOURCE),
        docs.filter(F.col("source") != INCR_BATCH_SOURCE),
    )


def _incremental_bands(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """(batch bands, corpus bands) for the incremental MinHash rows:
    bands computed ONCE over the whole corpus and checkpointed, then split
    on source (batch = INCR_BATCH_SOURCE, corpus = the rest)."""
    docs = _docs(spark, sf_dir)
    bands = (
        minhash_bands(docs)
        .join(
            docs.select(
                "doc_id",
                (F.col("source") == INCR_BATCH_SOURCE).alias("is_new"),
            ),
            "doc_id",
        )
        .localCheckpoint(eager=True)
    )
    return (
        bands.filter(F.col("is_new")).drop("is_new"),
        bands.filter(~F.col("is_new")).drop("is_new"),
    )


def q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental near-dup candidates: bands are computed ONCE over the
    union (batch = source 'src0', corpus = the rest — in production the
    corpus bands come from a persisted store, not a recompute), then the
    batch probes the corpus buckets and its own — the steady-state crawl
    shape where per-snapshot cost is batch-sized, never corpus². The
    oracle recomputes both legs from the same banding chain, so a pair
    lost to the split (or a corpus-corpus pair leaking in) flips the row
    red."""
    return incremental_minhash_candidates(*_incremental_bands(spark, sf_dir))


SQL_DEDUP_MINHASH_INCREMENTAL = (
    f"WITH {SQL_SHINGLES},{SQL_MINHASH_BANDS_BODY}"
    f"""
, lab AS (
    SELECT b.doc_id, b.band, b.band_key, d.source = '{INCR_BATCH_SOURCE}' AS is_new
    FROM bands b JOIN documents d USING (doc_id)
)
SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_other,
       'corpus' AS leg
FROM lab n JOIN lab o
  ON n.band = o.band AND n.band_key = o.band_key
WHERE n.is_new AND NOT o.is_new
UNION
SELECT DISTINCT b.doc_id AS doc_new, a.doc_id AS doc_other,
       'batch' AS leg
FROM lab a JOIN lab b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE a.is_new AND b.is_new
"""
)


def q_dedup_minhash_band_store(spark, sf_dir):
    """The persisted-band-store leg of the incremental story, executed:
    the corpus bands are WRITTEN to a parquet store (partitioned by
    band — a probe that touches one band prunes the rest) and READ BACK,
    and the new batch probes the STORED bands. The oracle is the same
    recompute-everything chain as dedup_minhash_incremental, so a band
    key mangled by the round-trip (type widening, partition-column
    drift, truncation) is a hash mismatch — this is what makes
    'you never re-shingle history' an executed claim instead of a
    docstring."""
    from ..io import scratch_dir

    batch_bands, corpus_bands = _incremental_bands(spark, sf_dir)
    with scratch_dir("etl_band_store_") as tmp:
        corpus_bands.write.mode("overwrite").partitionBy("band").parquet(tmp)
        stored = spark.read.parquet(tmp).select(
            "doc_id", F.col("band").cast("long").alias("band"), "band_key"
        )
        return incremental_minhash_candidates(
            batch_bands, stored
        ).localCheckpoint(eager=True)


def q_streaming_minhash_incremental(
    spark, sf_dir, *, max_files_per_trigger=None, src_files=None,
    replay_each_batch=False,
):
    """The incremental near-dup pipeline THROUGH the real micro-batch
    engine, merge-on-read: documents stream in (availableNow, file
    source), and each micro-batch's foreachBatch (a) bands the batch,
    (b) probes the persisted band STORE plus itself for candidates,
    (c) appends the candidates to the sink as CANONICAL unordered pairs
    (doc_lo < doc_hi), (d) appends the batch's bands to the store — the
    steady-state crawl-ingest loop where history is only ever touched
    through its band store. The canonical pair set is chop-invariant
    (see :func:`resolve_incremental_pair_labels`); the leg label and
    doc_new/doc_other direction are NOT per-batch decidable under
    chopping (a same-run pair straddling two micro-batches surfaces on
    the corpus leg of the later one), so they are resolved at read time
    from batch MEMBERSHIP — the earlier design kept per-batch labels
    and silently assumed one micro-batch per run; the chopped-run
    pytest (maxFilesPerTrigger=1) now pins the invariance. Two runs:
    the corpus bootstraps the store, then 'src0' streams in; the
    returned rows must hash-match the BATCH oracle
    (SQL_DEDUP_MINHASH_INCREMENTAL).

    ``max_files_per_trigger``/``src_files`` exist for the chopping test
    only; the driver path leaves them unset."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("source") != INCR_BATCH_SOURCE)
    batch2 = docs.filter(F.col("source") == INCR_BATCH_SOURCE)
    empty_bands = "doc_id long, band long, band_key string"

    def process_batch(batch_df, store, sink, bid):
        s = batch_df.sparkSession
        bands_new = minhash_bands(batch_df)
        try:
            # a replayed batch must not probe its OWN first-attempt
            # bands as corpus: exclude this bid's store partition
            stored = (
                s.read.parquet(store)
                .filter(F.col("batch_id") != bid)
                .select(
                    "doc_id",
                    F.col("band").cast("long").alias("band"),
                    "band_key",
                )
            )
        except Exception:
            stored = s.createDataFrame([], empty_bands)
        cands = incremental_minhash_candidates(bands_new, stored)
        # canonicalize: the pair IDENTITY is chop-invariant, the
        # per-batch leg/direction is not — labels are re-derived from
        # batch membership at read time
        _idempotent_batch_write(
            cands.select(
                F.least("doc_new", "doc_other").alias("doc_lo"),
                F.greatest("doc_new", "doc_other").alias("doc_hi"),
            ).distinct(),
            sink,
            bid,
        )
        # write AFTER probing: a batch must not see its own bands as
        # corpus (bands_new was checkpointed inside the probe, so this
        # write cannot double-run the banding pipeline either)
        _idempotent_batch_write(bands_new, store, bid, partition_by="band")

    def resolve(store, sink):
        return resolve_incremental_pair_labels(
            # run 1 also emitted the corpus's own within-batch pairs;
            # membership labeling drops them (neither side is new);
            # batch_id is the idempotency partition key, not pair identity
            spark.read.parquet(sink).select("doc_lo", "doc_hi").distinct(),
            batch2.select("doc_id"),
        )

    return _run_incremental_stream(
        spark,
        corpus,
        batch2,
        process_batch,
        resolve,
        prefix="etl_stream_minhash_",
        max_files_per_trigger=max_files_per_trigger,
        src_files=src_files,
        replay_each_batch=replay_each_batch,
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH batch AS (
    SELECT doc_id, md5(text) AS fp FROM documents
    WHERE source = '{INCR_BATCH_SOURCE}'
),
corpus_fps AS (
    SELECT DISTINCT md5(text) AS fp FROM documents
    WHERE source <> '{INCR_BATCH_SOURCE}'
),
first AS (SELECT fp, MIN(doc_id) AS first_doc FROM batch GROUP BY fp)
SELECT b.doc_id, b.fp,
       b.doc_id <> f.first_doc AS dup_in_batch,
       c.fp IS NOT NULL AS dup_in_corpus,
       b.doc_id = f.first_doc AND c.fp IS NULL AS keep
FROM batch b
JOIN first f USING (fp)
LEFT JOIN corpus_fps c USING (fp)
"""


# --------------------------------------------------------------------------
# Asymmetric containment join (subset/truncation duplicates)
# --------------------------------------------------------------------------

# containment threshold c = C_NUM/C_DEN: emit (inner, outer) when
# |A∩B| / |A| >= c — the asymmetric measure that catches a document
# contained in a longer one (truncation, quote-expansion, boilerplate
# wrapping), which symmetric Jaccard structurally misses (small A inside
# huge B has low Jaccard at any threshold).
CONT_C_NUM, CONT_C_DEN = 9, 10
CONT_MIN_SIZE = 8  # ignore near-empty shingle sets (trivially contained)


def containment_pairs(
    token_sets: DataFrame,
    c_num: int = CONT_C_NUM,
    c_den: int = CONT_C_DEN,
    min_size: int = CONT_MIN_SIZE,
    prefix_cap: int | None = None,
) -> DataFrame:
    """Ordered pairs (doc_inner, doc_outer, intersection, containment)
    with shingle containment |inner ∩ outer| / |inner| >= c — the
    standard asymmetric near-dup test for subset duplicates in web-corpus
    curation (alongside Jaccard; cf. Broder's containment coefficient).

    Distinct-set collapse (same redesign as ``jaccard_prefix_pairs``,
    measurements there): the one-sided prefix join and the verification
    run over one representative per DISTINCT token set; verified set
    pairs expand back to ORDERED doc pairs (every inner-copy × outer-copy
    combination), and equal-set groups of size >= 2 emit both directions
    of each pair with containment exactly 1 — lossless, since containment
    is a function of the two sets alone.

    ONE-SIDED PREFIX FILTER: |A∩B| >= ceil(c·|A|) forces A to share a
    token among its first |A| − ceil(c·|A|) + 1 tokens under any global
    total order (pigeonhole) — so only the INNER side is cut to a prefix,
    joined against the full exploded token index of all distinct sets.
    Rarest-first (set-frequency) ordering makes those prefix tokens the
    ones with the SHORTEST posting lists, which is what bounds the
    candidate join at corpus scale; ``prefix_cap`` (doc-weighted, with
    ``containment_hot_tokens`` as the accounting twin) bounds it on
    corpora with giant near-duplicate families of distinct sets.
    Verification is exact: array_intersect on the checkpointed sorted
    token-id arrays, integer threshold compare, no float in the filter.
    The threshold needs ``c_num >= 1`` and ``c_den >= 1``; anything else
    raises ``ValueError`` before any job runs.

    Shares ``token_sets_df``'s representation (and its within-doc 64-bit
    hash-collision caveat) and the prefix construction
    (:func:`_prefix_build`) with ``jaccard_prefix_pairs``.
    """
    keyed, groups, prefix = _prefix_build(token_sets, c_num, c_den, min_size)
    spairs = _containment_set_pairs(groups, prefix, c_num, c_den, prefix_cap)
    cross = _expand_set_pairs(
        spairs, keyed, "doc_inner", "doc_outer",
        ["intersection", "containment"], ordered=True,
    )
    return _with_equal_set_pairs(
        cross, keyed, c_num, c_den, "doc_inner", "doc_outer", "containment",
        ordered=True,
    )


def containment_hot_tokens(
    token_sets: DataFrame,
    c_num: int = CONT_C_NUM,
    c_den: int = CONT_C_DEN,
    min_size: int = CONT_MIN_SIZE,
    prefix_cap: int = 0,
) -> DataFrame:
    """Accounting twin of a ``prefix_cap``-bounded containment run:
    (tok, n_docs) for every INNER-prefix token the capped join refuses to
    generate candidates from (same construction as the join — see
    ``jaccard_prefix_hot_tokens``)."""
    _keyed, _groups, prefix = _prefix_build(token_sets, c_num, c_den, min_size)
    return _hot_prefix_tokens(prefix, prefix_cap)


def _containment_set_pairs(
    groups: DataFrame,
    prefix: DataFrame,
    c_num: int,
    c_den: int,
    prefix_cap: int | None,
) -> DataFrame:
    """(skey_a=inner, skey_b=outer, intersection, containment) over
    DISTINCT non-equal token sets — the one-sided-prefix core. The cap
    applies to the inner side only: candidates come from inner prefixes."""
    ts = groups.select(F.col("skey").alias("doc_id"), "toks", "set_size")
    sh = ts.select("doc_id", F.explode("toks").alias("tok"))
    prefix = _drop_hot_prefix_tokens(
        prefix.select(F.col("doc_id").alias("skey_a"), "tok", "mult"),
        prefix_cap,
    )
    cand = (
        prefix.join(sh.select(F.col("doc_id").alias("skey_b"), "tok"), "tok")
        .filter(F.col("skey_a") != F.col("skey_b"))
        .select("skey_a", "skey_b")
        .distinct()
    )
    ta = ts.select(
        F.col("doc_id").alias("skey_a"),
        F.col("toks").alias("toks_i"),
        F.col("set_size").alias("size_i"),
    )
    tb = ts.select(
        F.col("doc_id").alias("skey_b"), F.col("toks").alias("toks_o")
    )
    inter = (
        cand.join(ta, "skey_a")
        .join(tb, "skey_b")
        .withColumn(
            "intersection",
            F.size(F.array_intersect("toks_i", "toks_o")).cast("long"),
        )
    )
    return inter.filter(
        c_den * F.col("intersection") >= c_num * F.col("size_i")
    ).select(
        "skey_a",
        "skey_b",
        "intersection",
        (F.col("intersection").cast("double") / F.col("size_i")).alias(
            "containment"
        ),
    )


def q_dedup_containment(spark, sf_dir):
    return containment_pairs(token_sets_df(_docs(spark, sf_dir)))


# Oracle: brute-force containment at the same threshold — the one-sided
# prefix filter must be lossless, so smart and naive agree row-for-row.
SQL_DEDUP_CONTAINMENT = f"""
WITH {SQL_SHINGLES},
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size
    FROM shingles GROUP BY doc_id
),
big AS (SELECT * FROM sizes WHERE set_size >= {CONT_MIN_SIZE}),
inter AS (
    SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
           CAST(COUNT(*) AS BIGINT) AS intersection
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    WHERE a.doc_id IN (SELECT doc_id FROM big)
      AND b.doc_id IN (SELECT doc_id FROM big)
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_inner, i.doc_outer, i.intersection,
       CAST(i.intersection AS DOUBLE) / s.set_size AS containment
FROM inter i JOIN big s ON s.doc_id = i.doc_inner
WHERE {CONT_C_DEN} * i.intersection >= {CONT_C_NUM} * s.set_size
"""


# --------------------------------------------------------------------------
# LSH candidate quality: recall/precision vs exact Jaccard ground truth
# --------------------------------------------------------------------------

def minhash_recall_report(
    spark, docs: DataFrame, sample_mod: int = 1
) -> DataFrame:
    """One-row quality report of the MinHash-LSH candidate generator
    against exact ground truth: n_true (pairs with exact shingle Jaccard
    >= t), n_candidates (pairs sharing any LSH band bucket), n_hits
    (their intersection), and the derived recall (hits/true) and
    precision (hits/candidates).

    This is the 'measure, don't guess' knob for the band/row
    configuration (NUM_MINHASHES/LSH_BANDS trade recall against
    candidate volume). The exact-truth branch is intentionally the
    quadratic-flavored baseline — measured slope 9x on 10x data
    (SCALING.md sf1 rehearsal) — so at corpus scale pass
    ``sample_mod`` > 1: both truth and candidates are restricted to the
    deterministic doc sample ``doc_id % sample_mod == 0`` and the
    ratios estimate the corpus ratios at 1/sample_mod² of the pair
    cost. All counts are exact integers computed from the SAME shingle
    definition on both engines; the two ratio divisions are single
    double ops performed identically."""
    if sample_mod > 1:
        docs = docs.filter(F.col("doc_id") % sample_mod == 0)
    # ground truth rebuilt from shingles with the EXACT integer threshold
    # (never from the pair query's float jaccard column — re-deriving the
    # union size from a double ratio can flip a boundary pair)
    sh = shingles_df(docs).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"),
                F.col("set_size").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"),
                F.col("set_size").alias("size_b"),
            ),
            "doc_b",
        )
        .filter(
            F.lit(JACCARD_T_DEN) * F.col("i")
            >= F.lit(JACCARD_T_NUM)
            * (F.col("size_a") + F.col("size_b") - F.col("i"))
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    # candidates from the SAME (possibly sampled) docs so recall is
    # measured like-for-like; `sh` is the checkpointed shingle relation
    # above, so the signature pass re-reads blocks, not the corpus
    bands = _signature_bands(minhash_signatures_perm(sh))
    cand = minhash_band_pairs(bands).localCheckpoint(eager=True)
    hits = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_hits")
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.when(
                F.col("n_true") > 0,
                F.col("n_hits").cast("double") / F.col("n_true"),
            ).otherwise(F.lit(0.0)).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.col("n_hits").cast("double") / F.col("n_candidates"),
            ).otherwise(F.lit(0.0)).alias("precision"),
        )
    )


def q_dedup_minhash_recall(spark, sf_dir):
    """Driver row: full-corpus recall report (sample_mod=1 — the gate
    compares exactly against the full-corpus oracle; production use at
    scale passes sample_mod > 1)."""
    return minhash_recall_report(spark, _docs(spark, sf_dir))


SQL_DEDUP_MINHASH_RECALL = (
    f"WITH {SQL_SHINGLES},{SQL_MINHASH_BANDS_BODY}"
    f""",
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size
    FROM shingles GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS i
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
truth AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {JACCARD_T_DEN} * i
          >= {JACCARD_T_NUM} * (sa.set_size + sb.set_size - i)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
),
counts AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM truth t JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits
)
SELECT n_true, n_candidates, n_hits,
       CASE WHEN n_true > 0
            THEN CAST(n_hits AS DOUBLE) / n_true
            ELSE CAST(0.0 AS DOUBLE) END AS recall,
       CASE WHEN n_candidates > 0
            THEN CAST(n_hits AS DOUBLE) / n_candidates
            ELSE CAST(0.0 AS DOUBLE) END AS "precision"
FROM counts
"""
)


# --------------------------------------------------------------------------
# Corpus line-level dedup (CCNet / Dolma paragraph-dedup shape)
# --------------------------------------------------------------------------

def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_chars: int = 10,
    max_count: int = 1,
) -> DataFrame:
    """Corpus-wide line/paragraph dedup: split each document on ``delim``,
    and for every line string that occurs more than ``max_count`` times
    across the WHOLE corpus, keep only its first occurrence (ordered by
    ``(id_col, line_no)``) and drop every other copy, then reassemble the
    surviving lines in original order. Lines shorter than ``min_chars``
    are exempt (blank lines, headings — dropping those mangles structure
    for no dedup value). This is the CCNet line-dedup / Dolma
    paragraph-dedup pipeline stage: boilerplate (cookie banners,
    nav/footer text, license blocks) repeats across millions of pages
    while full-document dedup misses it entirely.

    ``delim`` must be a literal separator string (it is used both as the
    split pattern and the re-join separator).

    Scale: one explode (map-local), one groupBy on ``md5(line)`` — the
    32-char hash bounds shuffle-key width regardless of line length, with
    map-side combine — restricted to lines occurring > max_count, one
    hash join back on that hash (a corpus-frequent boilerplate line is
    exactly ONE row on the build side however many copies exist, so hot
    lines cannot skew the join), and one groupBy doc for reassembly.
    Shuffle volume is O(lines), never O(lines²); output text is the only
    wide column and it shuffles once, on the doc key it is already
    grouped by.
    """
    # lines feeds the owner-stats build side AND the flag-join probe side
    # — two diverging consumers, so the split + md5 projection ran twice
    # per pass (the substrings wins replay class, r16 scan census). One
    # eager checkpoint halves that; corpus-line-sized, the same
    # executor-local-disk trade the jaccard keyed checkpoint makes.
    lines = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), delim)).alias(
                "line_no", "line"
            ),
        )
        .withColumn("line_hash", F.md5("line"))
        .localCheckpoint(eager=True)
    )
    dup_owners = (
        lines.filter(F.length("line") >= min_chars)
        .groupBy("line_hash")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "line_no")).alias("owner"),
        )
        .filter(F.col("n_occ") > max_count)
        .select("line_hash", "owner")
    )
    flagged = lines.join(dup_owners, "line_hash", "left").select(
        "doc_id",
        "line_no",
        "line",
        (
            F.col("owner").isNull()
            | (
                (F.col("owner.doc_id") == F.col("doc_id"))
                & (F.col("owner.line_no") == F.col("line_no"))
            )
        ).alias("keep"),
    )
    # collect_list skips the NULL structs of dropped lines; array_sort on
    # (line_no, line) structs restores original order
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias(text_col),
        F.count("*").alias("n_lines"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )


def line_dup_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_chars: int = 10,
    max_count: int = 1,
) -> DataFrame:
    """Diagnostic twin of :func:`line_dedup`: one row per corpus-duplicated
    line — ``(line, n_occ, owner_doc_id, owner_line_no)`` — naming the
    occurrence the dedup pass keeps. Same grouping shape as the dedup
    itself (hash-keyed, map-side combined), no join back."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("line_no", "line"),
    )
    return (
        lines.filter(F.length("line") >= min_chars)
        .withColumn("line_hash", F.md5("line"))
        .groupBy("line_hash")
        .agg(
            F.max("line").alias("line"),
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "line_no")).alias("owner"),
        )
        .filter(F.col("n_occ") > max_count)
        .select(
            "line",
            "n_occ",
            F.col("owner.doc_id").alias("owner_doc_id"),
            F.col("owner.line_no").alias("owner_line_no"),
        )
    )


def _exploded_lines(
    docs: DataFrame, text_col: str, id_col: str, delim: str
) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("line_no", "line"),
    ).withColumn("line_hash", F.md5("line"))


def line_count_store(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_chars: int = 10,
) -> DataFrame:
    """Build the persisted side of incremental line dedup: one row per
    distinct ELIGIBLE line — ``(line_hash, n_occ, owner_doc_id,
    owner_line_no)``. Singletons are kept too: a future batch copy turns
    them into duplicates, and the store must know who came first. Rows
    are hash-keyed and constant-width (no line text), so the store is
    O(distinct lines) however wide the documents are."""
    return (
        _exploded_lines(docs, text_col, id_col, delim)
        .filter(F.length("line") >= min_chars)
        .groupBy("line_hash")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "line_no")).alias("__owner"),
        )
        .select(
            "line_hash",
            "n_occ",
            F.col("__owner.doc_id").alias("owner_doc_id"),
            F.col("__owner.line_no").alias("owner_line_no"),
        )
    )


def merge_line_store(store: DataFrame, other: DataFrame) -> DataFrame:
    """Fold one batch's line stats into the store: counts add, the owner
    is the lexicographic-min position. Associative and commutative, so
    build(corpus) == fold of any batch partitioning of it."""
    return (
        store.unionByName(other)
        .groupBy("line_hash")
        .agg(
            F.sum("n_occ").alias("n_occ"),
            F.min(F.struct("owner_doc_id", "owner_line_no")).alias("__owner"),
        )
        .select(
            "line_hash",
            "n_occ",
            F.col("__owner.owner_doc_id").alias("owner_doc_id"),
            F.col("__owner.owner_line_no").alias("owner_line_no"),
        )
    )


def resolve_line_dedup_from_store(
    lines: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    delim: str = "\n",
    max_count: int = 1,
) -> DataFrame:
    """Merge-on-read owner resolution: given exploded lines (``doc_id,
    line_no, line, line_hash`` — :func:`_exploded_lines` shape) and a
    FINAL folded line store whose counts already INCLUDE these lines'
    own occurrences, apply the global keep-first policy and reassemble.

    This is the read-side half of the streaming ingest loop
    (``q_streaming_lines_incremental``): micro-batches only ever append
    associative store partials and raw staged lines, and keep/drop is
    decided here against the fold of everything — so the resolved
    output is invariant to how the engine chopped ingestion into
    micro-batches (the store fold is associative/commutative and the
    staged line set is a plain union). A line absent from the store
    (shorter than ``min_chars`` at stat time) or at-or-under
    ``max_count`` total occurrences is kept; otherwise only the
    globally-first position survives. Output schema matches
    :func:`line_dedup`."""
    dup_owners = store.filter(F.col("n_occ") > max_count).select(
        "line_hash",
        F.struct(
            F.col("owner_doc_id").alias("doc_id"),
            F.col("owner_line_no").alias("line_no"),
        ).alias("owner"),
    )
    flagged = lines.join(dup_owners, "line_hash", "left").select(
        "doc_id",
        "line_no",
        "line",
        (
            F.col("owner").isNull()
            | (
                (F.col("owner.doc_id") == F.col("doc_id"))
                & (F.col("owner.line_no") == F.col("line_no"))
            )
        ).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias(text_col),
        F.count("*").alias("n_lines"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )


def incremental_line_dedup(
    batch_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_chars: int = 10,
    max_count: int = 1,
    store_preaggregated: bool = True,
) -> DataFrame:
    """Dedup ONE new ingest batch against the persisted corpus line store
    plus itself — the steady-state crawl shape: history is only ever
    touched through its constant-width store, never re-split, and
    already-written corpus text is immutable. A batch line is dropped
    when the combined corpus+batch occurrence count exceeds
    ``max_count``, unless this occurrence is the globally-first position
    (corpus owner vs batch first, lexicographic-min — so the result
    equals full-corpus :func:`line_dedup` restricted to the batch docs,
    whatever the id interleaving). Output schema matches ``line_dedup``.

    Scale: the store side is pre-aggregated (one row per distinct line,
    however many copies exist — a million-copy boilerplate line cannot
    skew the probe join), and every shuffle is batch-sized except the
    store-side join read.

    ``store_preaggregated=False`` accepts a store holding APPENDED
    per-batch partial stats (the streaming ingest shape, where each
    micro-batch appends its own :func:`line_count_store` rows instead of
    rewriting a compacted store in place) and folds them at probe time —
    an extra store-side aggregation per batch that a compacted store
    avoids; compact out-of-band in production."""
    if not store_preaggregated:
        # self-merge: same associative fold as merge_line_store
        store = merge_line_store(store, store.limit(0))
    lines = _exploded_lines(batch_docs, text_col, id_col, delim)
    batch_stats = (
        lines.filter(F.length("line") >= min_chars)
        .groupBy("line_hash")
        .agg(
            F.count("*").alias("b_occ"),
            F.min(F.struct("doc_id", "line_no")).alias("b_owner"),
        )
    )
    combined = (
        batch_stats.join(store, "line_hash", "left")
        .select(
            "line_hash",
            (F.col("b_occ") + F.coalesce(F.col("n_occ"), F.lit(0))).alias(
                "total"
            ),
            F.when(
                F.col("n_occ").isNotNull(),
                F.least(
                    F.col("b_owner"),
                    F.struct(
                        F.col("owner_doc_id").alias("doc_id"),
                        F.col("owner_line_no").alias("line_no"),
                    ),
                ),
            )
            .otherwise(F.col("b_owner"))
            .alias("owner"),
        )
        .filter(F.col("total") > max_count)
        .select("line_hash", "owner")
    )
    flagged = lines.join(combined, "line_hash", "left").select(
        "doc_id",
        "line_no",
        "line",
        (
            F.col("owner").isNull()
            | (
                (F.col("owner.doc_id") == F.col("doc_id"))
                & (F.col("owner.line_no") == F.col("line_no"))
            )
        ).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias(text_col),
        F.count("*").alias("n_lines"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )


# The documents fixture is single-line word soup, so the gate builds a
# line-structured corpus deterministically: chunk each doc's tokens into
# 8-word lines, then append a shared boilerplate line to every third doc
# and a second one to every fourth (the corpus-frequent lines the dedup
# must strip). Both sides construct the identical corpus.
_LINE_WORDS = 8
_LINE_BP1 = "please subscribe to our newsletter and share this article with friends"
_LINE_BP2 = "all rights reserved unauthorized reproduction is strictly prohibited worldwide"


def _line_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nl = F.ceil(F.size(toks) / F.lit(float(_LINE_WORDS))).cast("int")
    # sequence() counts DOWN when stop < start (see shingles_df), so guard
    base = F.when(
        nl >= 1,
        F.transform(
            F.sequence(F.lit(1), nl),
            lambda i: F.array_join(
                F.slice(toks, (i - 1) * _LINE_WORDS + 1, _LINE_WORDS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    empty = F.array().cast("array<string>")
    extra = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.array(F.lit(_LINE_BP1))).otherwise(
            empty
        ),
        F.when(F.col("doc_id") % 4 == 0, F.array(F.lit(_LINE_BP2))).otherwise(
            empty
        ),
    )
    return docs.select(
        "doc_id",
        F.array_join(F.concat(base, extra), "\n").alias("text"),
        "source",
    )


def q_dedup_lines(spark, sf_dir):
    """Per-doc result of corpus line-dedup over the constructed
    line-structured corpus: cleaned text + per-doc drop accounting. The
    oracle recomputes the keep-first policy with window functions, so a
    wrong owner pick or a mangled reassembly order is a hash mismatch."""
    return line_dedup(_line_corpus(spark, sf_dir))


def q_dedup_lines_report(spark, sf_dir):
    """Corpus-duplicated-line report over the same constructed corpus:
    pins occurrence counts and the kept-occurrence choice directly."""
    return line_dup_report(_line_corpus(spark, sf_dir))


def q_dedup_lines_incremental(spark, sf_dir):
    """Incremental leg: the 'src0' docs arrive as one new ingest batch
    and are deduped against the line-count STORE of the rest of the
    corpus plus themselves. The oracle is the full-corpus recompute
    restricted to the batch docs — so the lexicographic owner
    resolution (store owner vs batch first, with ids interleaved across
    sources) must agree exactly with global keep-first."""
    corpus = _line_corpus(spark, sf_dir)
    return incremental_line_dedup(
        corpus.filter(F.col("source") == INCR_BATCH_SOURCE),
        line_count_store(corpus.filter(F.col("source") != INCR_BATCH_SOURCE)),
    )


def q_dedup_lines_store(spark, sf_dir):
    """The persisted-store leg, executed: the corpus line stats are
    WRITTEN to parquet, READ BACK, and probed by the batch — same oracle
    as the recompute, so any round-trip mangling (count widening, owner
    column drift) is a hash mismatch. This is what makes 'history is
    only ever touched through its constant-width store' an executed
    claim."""
    from ..io import scratch_dir

    corpus = _line_corpus(spark, sf_dir)
    store = line_count_store(
        corpus.filter(F.col("source") != INCR_BATCH_SOURCE)
    )
    with scratch_dir("etl_line_store_") as tmp:
        store.write.mode("overwrite").parquet(tmp)
        return incremental_line_dedup(
            corpus.filter(F.col("source") == INCR_BATCH_SOURCE),
            spark.read.parquet(tmp),
        ).localCheckpoint(eager=True)


def q_streaming_lines_incremental(
    spark, sf_dir, *, max_files_per_trigger=None, src_files=None,
    replay_each_batch=False,
):
    """The line-dedup ingest loop THROUGH the real micro-batch engine,
    merge-on-read: documents stream in (availableNow, file source) and
    each micro-batch's foreachBatch appends exactly two chop-invariant
    artifacts — (a) the batch's raw-text line-stat partials to the
    store (:func:`line_count_store`; the fold is associative and
    commutative, proven in tests), and (b) the batch's raw exploded
    lines to a staged sink (a plain set union). Keep/drop is NOT
    decided per micro-batch: it is resolved at read time against the
    FINAL folded store (:func:`resolve_line_dedup_from_store`), so the
    result is identical however the engine chops ingestion — the
    earlier design resolved owners per-batch and silently assumed one
    micro-batch per run (a lower-doc_id copy arriving in a later
    micro-batch could not evict an already-emitted duplicate); the
    chopped-run pytest (maxFilesPerTrigger=1) now pins the invariance.
    Two runs: the corpus bootstraps the store, then 'src0' streams in;
    the returned rows are the src0 batch's resolved cleaned docs and
    must hash-match the full-recompute oracle restricted to the batch.

    ``max_files_per_trigger``/``src_files`` exist for the chopping test
    only (N source files, one per micro-batch); the driver path leaves
    them unset."""
    all_docs = _line_corpus(spark, sf_dir)
    corpus = all_docs.filter(F.col("source") != INCR_BATCH_SOURCE)
    batch2 = all_docs.filter(F.col("source") == INCR_BATCH_SOURCE)

    def process_batch(batch_df, store, sink, bid):
        batch_df = batch_df.localCheckpoint(eager=True)
        # stats from RAW batch text; order vs the sink write is
        # irrelevant because nothing is resolved until read time
        _idempotent_batch_write(line_count_store(batch_df), store, bid)
        _idempotent_batch_write(
            _exploded_lines(batch_df, "text", "doc_id", "\n"), sink, bid
        )

    def resolve(store, sink):
        partials = spark.read.parquet(store).drop("batch_id")
        final_store = merge_line_store(partials, partials.limit(0))
        batch_ids = batch2.select("doc_id")
        return resolve_line_dedup_from_store(
            # run 1 also staged the corpus's lines; the batch-restricted
            # oracle deliberately excludes them
            spark.read.parquet(sink)
            .drop("batch_id")
            .join(batch_ids, "doc_id", "left_semi"),
            final_store,
        )

    return _run_incremental_stream(
        spark,
        corpus,
        batch2,
        process_batch,
        resolve,
        prefix="etl_stream_lines_",
        max_files_per_trigger=max_files_per_trigger,
        src_files=src_files,
        replay_each_batch=replay_each_batch,
    )


SQL_LINE_CORPUS = rf"""
ltoks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
lnl AS (
    SELECT doc_id, t, CAST(ceil(len(t) / {_LINE_WORDS}.0) AS BIGINT) AS nl
    FROM ltoks
),
lchunk AS (
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS line_no,
           array_to_string(
               list_slice(t, (i - 1) * {_LINE_WORDS} + 1, i * {_LINE_WORDS}),
               ' ') AS line
    FROM (SELECT doc_id, t, unnest(generate_series(1, nl)) AS i FROM lnl)
),
lextra AS (
    SELECT doc_id, CAST(nl AS INTEGER) AS line_no, '{_LINE_BP1}' AS line
    FROM lnl WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id,
           CAST(nl + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                AS INTEGER) AS line_no,
           '{_LINE_BP2}' AS line
    FROM lnl WHERE doc_id % 4 = 0
),
alllines AS (
    SELECT * FROM lchunk UNION ALL SELECT * FROM lextra
)
"""

_SQL_LINES_FLAGGED = """
firsts AS (
    SELECT line, doc_id AS odoc, line_no AS oline
    FROM alllines
    WHERE length(line) >= 10
    QUALIFY ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) = 1
        AND COUNT(*) OVER (PARTITION BY line) > 1
),
lflagged AS (
    SELECT a.doc_id, a.line_no, a.line,
           CASE WHEN f.line IS NULL
                     OR (a.doc_id = f.odoc AND a.line_no = f.oline)
                THEN 1 ELSE 0 END AS keep
    FROM alllines a LEFT JOIN firsts f ON a.line = f.line
)
"""

_SQL_LINES_SELECT = """
SELECT doc_id,
       coalesce(
           string_agg(line, chr(10) ORDER BY line_no)
               FILTER (WHERE keep = 1),
           '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
FROM lflagged
{where}
GROUP BY doc_id
"""

SQL_DEDUP_LINES = (
    f"WITH {SQL_LINE_CORPUS},{_SQL_LINES_FLAGGED}"
    + _SQL_LINES_SELECT.format(where="")
)

# incremental leg: identical global keep-first policy, restricted to the
# 'src0' batch docs — the incremental path must agree with the full
# recompute exactly, whatever the id interleaving across sources
SQL_DEDUP_LINES_INCR = (
    f"WITH {SQL_LINE_CORPUS},{_SQL_LINES_FLAGGED}"
    + _SQL_LINES_SELECT.format(
        where=(
            "WHERE doc_id IN "
            "(SELECT doc_id FROM documents WHERE source = 'src0')"
        )
    )
)

SQL_DEDUP_LINES_REPORT = f"""
WITH {SQL_LINE_CORPUS}
SELECT line, n_occ, owner_doc_id, owner_line_no FROM (
    SELECT line, doc_id AS owner_doc_id, line_no AS owner_line_no,
           CAST(COUNT(*) OVER (PARTITION BY line) AS BIGINT) AS n_occ,
           ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no)
               AS rn
    FROM alllines WHERE length(line) >= 10
) WHERE rn = 1 AND n_occ > 1
"""


# --------------------------------------------------------------------------
# Bounded exact substring dedup (ExactSubstr removal stage)
# --------------------------------------------------------------------------

SUBSTR_WINDOW = 8  # tokens per stride-1 rolling window


def _split_docs(docs: DataFrame) -> DataFrame:
    """Spread docs across cores ONLY when the source under-splits (the
    fixture is one parquet row group → one task would pin the whole
    tokenize/window explosion + hashing). At corpus scale the scan
    already yields >= cores input splits and this is a no-op — an
    UNCONDITIONAL repartition here would be a full shuffle of the raw
    text, the exact corpus-sized exchange these projections exist to
    avoid. Single source of the heuristic (shingle tokenizer +
    substring family both route through it)."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism // 2:
        return docs.repartition(parallelism)
    return docs


def _token_window_hashes(docs: DataFrame, window: int) -> DataFrame:
    """(doc_id, p, h): md5 of every stride-1 ``window``-token rolling
    window, 1-based start positions. Tokenization is split-on-\\s+ of the
    trimmed text — byte-identical to the DuckDB oracle's
    string_split_regex and to duplicated_spans (indexing.py)."""
    docs = _split_docs(docs)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(toks) >= window,
        F.sequence(F.lit(1), F.size(toks) - (window - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return docs.select(
        "doc_id", F.explode(idx).alias("p"), toks.alias("t")
    ).select(
        "doc_id",
        "p",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("p"), window))).alias("h"),
    )


def _dropped_from_dup(dup: DataFrame, window: int) -> DataFrame:
    """(doc_id, p, is_owner) duplicated-window starts → the dropped
    token-position set: non-owner coverage minus owner protection.

    Both coverage sets come out of ONE windowed pass partitioned by
    (doc_id, is_owner) — gaps-and-islands merges overlapping/adjacent
    windows into disjoint maximal spans (new island when the start
    jumps by more than ``window``, i.e. coverage would break), each
    span explodes to its positions (bounded by covered-token count,
    never n_windows * window), and only the post-aggregation cover
    relation branches into the drop/keep legs — computing the two legs
    as separate per-leg passes would evaluate the corpus-sized
    wins/stats subtree twice (measured ~9% slower end-to-end at
    sf0.1, and 2x the corpus shuffle at scale)."""
    w = Window.partitionBy("doc_id", "is_owner").orderBy("p")
    isl = dup.withColumn(
        "brk",
        F.when(
            F.lag("p").over(w).isNull()
            | (F.col("p") > F.lag("p").over(w) + window),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "is_owner", "island").agg(
        F.min("p").alias("s"), (F.max("p") + window - 1).alias("e")
    )
    cover = spans.select(
        "doc_id", "is_owner", F.explode(F.sequence("s", "e")).alias("q")
    )
    drop_cover = cover.filter(~F.col("is_owner")).select("doc_id", "q")
    keep_cover = cover.filter(F.col("is_owner")).select("doc_id", "q")
    return drop_cover.join(keep_cover, ["doc_id", "q"], "left_anti")


def _substring_dropped_positions(
    docs: DataFrame, window: int
) -> DataFrame:
    """Token positions the ExactSubstr keep-first policy removes:
    positions covered by a NON-OWNER duplicated window and not protected
    by an OWNER window. Every stride-1 window whose hash occurs >= 2
    times in the corpus (any document, self-repeats included) is
    duplicated; the globally-first occurrence (min (doc_id, p)) is the
    owner. Owner protection matters for self-overlapping repeats: in
    'x x x x x x x x x x' (w=8) the non-owner windows at p=2,3 cover
    tokens 2-10, which would gut the owner occurrence at 1-8 too —
    subtracting owner coverage keeps the first occurrence intact, erring
    toward keeping data (Lee et al. 2022's remover keeps one occurrence
    of every duplicated span for the same reason)."""
    # wins feeds the global stats groupBy AND the probe side of the dup
    # join — two diverging consumers, so without materialization the
    # tokenize + window-hash projection runs twice per pass (measured
    # 0.68s each at sf0.1, guide §2.4's replay class). One eager
    # checkpoint halves that; ~235k constant-width rows at sf0.1.
    wins = _token_window_hashes(docs, window).localCheckpoint(eager=True)
    stats = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "p")).alias("owner"),
    )
    dup = wins.join(stats.filter(F.col("n_occ") >= 2), "h").select(
        "doc_id",
        "p",
        (
            (F.col("owner.doc_id") == F.col("doc_id"))
            & (F.col("owner.p") == F.col("p"))
        ).alias("is_owner"),
    )
    return _dropped_from_dup(dup, window)


def substring_dedup(
    docs: DataFrame, window: int = SUBSTR_WINDOW
) -> DataFrame:
    """Bounded exact substring dedup — the Spark-expressible variant of
    Lee et al. 2022's ExactSubstr suffix-array stage (arXiv:2107.06499;
    the one prominent public LLM-dedup method the engine lacked,
    VERDICT r09 item 4): every duplicated ``window``-token substring is
    removed from every occurrence EXCEPT the globally-first one, and
    each document's text is reassembled from its surviving tokens.

    A true suffix array finds duplicated substrings of ANY length; the
    bounded variant detects exactly those of length >= ``window``
    tokens (a duplicated run of L >= w tokens duplicates all L-w+1 of
    its stride-1 windows, so coverage of the run is complete — only
    shorter repeats escape). In exchange the whole pipeline is plain
    DataFrame ops: one corpus-tokens-sized shuffle for the global
    window-hash counts (map-side combined groupBy), the hash join back
    (co-partitioned on h), per-doc islands windows (co-partitioned on
    doc_id), and anti-joins on (doc_id, q) — no suffix sorting, no
    driver-side anything, linear in corpus tokens at any scale.

    Output: (doc_id, text, n_tokens, n_dropped); documents shorter than
    ``window`` tokens pass through untouched, a fully-dropped document
    survives as an empty-text row (the account of WHAT was removed is
    ``substring_dedup_report``)."""
    return _reassemble_tokens(docs, _substring_dropped_positions(docs, window))


def _reassemble_tokens(docs: DataFrame, dropped: DataFrame) -> DataFrame:
    """Rebuild each doc's text from the tokens NOT in the dropped
    (doc_id, q) position set — the shared tail of every substring-dedup
    leg. Output: (doc_id, text, n_tokens, n_dropped)."""
    toks_arr = _split_docs(docs).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    tokens = toks_arr.select(
        "doc_id", F.posexplode("t").alias("q0", "token")
    ).select("doc_id", (F.col("q0") + 1).alias("q"), "token")
    kept = tokens.join(dropped, ["doc_id", "q"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("q", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = toks_arr.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return base.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("kept_text", F.lit("")).alias("text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).cast(
            "long"
        ).alias("n_dropped"),
    )


def substring_dedup_report(
    docs: DataFrame, window: int = SUBSTR_WINDOW
) -> DataFrame:
    """Span accounting for :func:`substring_dedup` — the drop report
    (same design as the banded-join bucket reports): the maximal
    contiguous token ranges the keep-first policy removed, one row per
    removed span: (doc_id, span_start, span_end, n_removed), 1-based
    inclusive positions. ``sum(n_removed)`` per doc equals
    ``n_dropped`` in :func:`substring_dedup` by construction."""
    dropped = _substring_dropped_positions(docs, window)
    w = Window.partitionBy("doc_id").orderBy("q")
    isl = dropped.withColumn(
        "brk",
        F.when(
            F.lag("q").over(w).isNull()
            | (F.col("q") > F.lag("q").over(w) + 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("q").cast("long").alias("span_start"),
        F.max("q").cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_removed"),
    ).select("doc_id", "span_start", "span_end", "n_removed")


def q_dedup_substrings(spark, sf_dir):
    return substring_dedup(_docs(spark, sf_dir))


def q_dedup_substrings_report(spark, sf_dir):
    return substring_dedup_report(_docs(spark, sf_dir))


def substring_window_store(
    docs: DataFrame, window: int = SUBSTR_WINDOW
) -> DataFrame:
    """Persisted side of incremental substring dedup: one row per
    distinct window hash — ``(h, n_occ, owner_doc_id, owner_p)``.
    Singletons are kept (a future batch copy turns them into duplicates
    and the store must know who came first). Constant-width hash-keyed
    rows, O(corpus windows) however wide the documents are — the same
    store contract as :func:`line_count_store`."""
    return (
        _token_window_hashes(docs, window)
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "p")).alias("__owner"),
        )
        .select(
            "h",
            "n_occ",
            F.col("__owner.doc_id").alias("owner_doc_id"),
            F.col("__owner.p").alias("owner_p"),
        )
    )


def merge_substring_store(store: DataFrame, other: DataFrame) -> DataFrame:
    """Fold window-stat partials: counts add, the owner is the
    lexicographic-min position. Associative and commutative, so
    build(corpus) == fold of any batch partitioning of it (pinned by
    pytest, like :func:`merge_line_store`)."""
    return (
        store.unionByName(other)
        .groupBy("h")
        .agg(
            F.sum("n_occ").alias("n_occ"),
            F.min(F.struct("owner_doc_id", "owner_p")).alias("__owner"),
        )
        .select(
            "h",
            "n_occ",
            F.col("__owner.owner_doc_id").alias("owner_doc_id"),
            F.col("__owner.owner_p").alias("owner_p"),
        )
    )


def incremental_substring_dedup(
    batch_docs: DataFrame,
    store: DataFrame,
    window: int = SUBSTR_WINDOW,
    store_preaggregated: bool = True,
) -> DataFrame:
    """Substring-dedup ONE new ingest batch against the persisted corpus
    window store plus itself — the steady-state crawl shape: history is
    only ever touched through its constant-width store, never
    re-tokenized, and already-written corpus text is immutable. A batch
    window is duplicated when corpus+batch occurrences total >= 2; the
    owner is the lexicographic-min position across both (so the result
    equals full-corpus :func:`substring_dedup` restricted to the batch
    docs, whatever the id interleaving — the oracle pins exactly that).

    Scale: the store side is pre-aggregated (one row per distinct
    window, however many copies exist), and every shuffle is batch-sized
    except the store-side probe join read.
    ``store_preaggregated=False`` accepts appended per-batch partials
    (the streaming ingest shape) and folds them at probe time.

    ``window`` MUST match the value the store was built with — the
    store carries opaque hashes, so a mismatch cannot be detected and
    silently under-dedups (nothing joins). Pin the window with the
    store in any persisted deployment."""
    if not store_preaggregated:
        store = merge_substring_store(store, store.limit(0))
    wins = _token_window_hashes(batch_docs, window)
    batch_stats = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("b_occ"),
        F.min(F.struct("doc_id", "p")).alias("b_owner"),
    )
    combined = (
        batch_stats.join(store, "h", "left")
        .select(
            "h",
            (F.col("b_occ") + F.coalesce(F.col("n_occ"), F.lit(0))).alias(
                "total"
            ),
            F.when(
                F.col("n_occ").isNotNull(),
                F.least(
                    F.col("b_owner"),
                    F.struct(
                        F.col("owner_doc_id").alias("doc_id"),
                        F.col("owner_p").alias("p"),
                    ),
                ),
            )
            .otherwise(F.col("b_owner"))
            .alias("owner"),
        )
        .filter(F.col("total") >= 2)
        .select("h", "owner")
    )
    dup = wins.join(combined, "h").select(
        "doc_id",
        "p",
        (
            (F.col("owner.doc_id") == F.col("doc_id"))
            & (F.col("owner.p") == F.col("p"))
        ).alias("is_owner"),
    )
    return _reassemble_tokens(batch_docs, _dropped_from_dup(dup, window))


def resolve_substring_dedup_from_store(
    batch_docs: DataFrame,
    store: DataFrame,
    window: int = SUBSTR_WINDOW,
) -> DataFrame:
    """Merge-on-read resolution for the streaming ingest loop: given
    batch docs and a FINAL folded window store whose counts already
    INCLUDE these docs' own windows, apply the global keep-first policy
    and reassemble. Micro-batches only ever append associative store
    partials and raw staged docs, so the resolved output is invariant
    to how the engine chopped ingestion — the same read-side design as
    :func:`resolve_line_dedup_from_store`."""
    wins = _token_window_hashes(batch_docs, window)
    dup_owners = store.filter(F.col("n_occ") >= 2).select(
        "h",
        F.struct(
            F.col("owner_doc_id").alias("doc_id"),
            F.col("owner_p").alias("p"),
        ).alias("owner"),
    )
    dup = wins.join(dup_owners, "h").select(
        "doc_id",
        "p",
        (
            (F.col("owner.doc_id") == F.col("doc_id"))
            & (F.col("owner.p") == F.col("p"))
        ).alias("is_owner"),
    )
    return _reassemble_tokens(batch_docs, _dropped_from_dup(dup, window))


def decontaminate_substrings(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    window: int = SUBSTR_WINDOW,
) -> DataFrame:
    """Substring-level eval decontamination — the REMOVAL counterpart of
    the detection row (text_contamination): every ``window``-token
    substring of a training document that appears ANYWHERE in the eval
    set is cut from the training text (no keep-first and no owner
    protection — leaked eval text must not survive in train at all),
    and the document is reassembled from what remains. This is the
    standard pre-training scrub (the n-gram-overlap removal used by the
    GPT-3/PaLM-style pipelines and by Lee et al. 2022's decontamination
    application of ExactSubstr).

    Scale: the eval side reduces to DISTINCT window hashes (constant
    width, eval-sized — broadcastable for real eval sets); the train
    side is the same linear window scan as :func:`substring_dedup`; the
    semi join is hash-keyed. Output schema matches
    :func:`substring_dedup` (doc_id, text, n_tokens, n_dropped)."""
    eval_hashes = (
        _token_window_hashes(eval_docs, window).select("h").distinct()
    )
    dup = (
        _token_window_hashes(train_docs, window)
        .join(maybe_broadcast(eval_hashes), "h", "left_semi")
        .select("doc_id", "p", F.lit(False).alias("is_owner"))
    )
    return _reassemble_tokens(train_docs, _dropped_from_dup(dup, window))


DECON_EVAL_SOURCE = "src1"   # harness split: src1 plays the eval set


def q_text_decontaminate(spark, sf_dir):
    """Decontamination leg over the harness split: 'src1' plays the
    held-out eval set, every other source is training data; the oracle
    recomputes the scrub with the same CTE chain."""
    docs = _docs(spark, sf_dir)
    return decontaminate_substrings(
        docs.filter(F.col("source") != DECON_EVAL_SOURCE),
        docs.filter(F.col("source") == DECON_EVAL_SOURCE),
    )


SQL_TEXT_DECONTAMINATE = rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
    FROM documents WHERE source <> '{DECON_EVAL_SOURCE}'
),
etoks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
    FROM documents WHERE source = '{DECON_EVAL_SOURCE}'
),
epos AS (
    SELECT doc_id, t, unnest(range(1, LEN(t) - {SUBSTR_WINDOW - 2})) AS p
    FROM etoks WHERE LEN(t) >= {SUBSTR_WINDOW}
),
eh AS (
    SELECT DISTINCT md5(array_to_string(t[p:(p + {SUBSTR_WINDOW - 1})], ' '))
        AS h
    FROM epos
),
pos AS (
    SELECT doc_id, t, unnest(range(1, LEN(t) - {SUBSTR_WINDOW - 2})) AS p
    FROM toks WHERE LEN(t) >= {SUBSTR_WINDOW}
),
wins AS (
    SELECT doc_id, p,
           md5(array_to_string(t[p:(p + {SUBSTR_WINDOW - 1})], ' ')) AS h
    FROM pos
),
dup AS (SELECT doc_id, p FROM wins SEMI JOIN eh USING (h)),
drop_isl AS (
    SELECT doc_id, p, SUM(brk) OVER (
        PARTITION BY doc_id ORDER BY p
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM (
        SELECT doc_id, p,
               CASE WHEN LAG(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                      OR p > LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                           + {SUBSTR_WINDOW}
                    THEN 1 ELSE 0 END AS brk
        FROM dup)
),
dropped AS (
    SELECT doc_id, unnest(range(s, e + 1)) AS q
    FROM (SELECT doc_id, MIN(p) AS s, MAX(p) + {SUBSTR_WINDOW - 1} AS e
          FROM drop_isl GROUP BY doc_id, island)
),
all_tokens AS (
    SELECT doc_id, t, unnest(range(1, LEN(t) + 1)) AS q FROM toks
),
kept AS (
    SELECT a.doc_id, a.q, a.t[a.q] AS token
    FROM all_tokens a ANTI JOIN dropped d
        ON a.doc_id = d.doc_id AND a.q = d.q
),
kept_agg AS (
    SELECT doc_id, string_agg(token, ' ' ORDER BY q) AS kept_text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(k.kept_text, '') AS text,
       CAST(LEN(b.t) AS BIGINT) AS n_tokens,
       CAST(LEN(b.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
FROM toks b LEFT JOIN kept_agg k USING (doc_id)
"""


def q_dedup_substrings_incremental(spark, sf_dir):
    """Incremental leg: the 'src0' docs arrive as one new ingest batch
    and are substring-deduped against the window STORE of the rest of
    the corpus plus themselves. The oracle is the full-corpus recompute
    restricted to the batch docs — so the lexicographic owner resolution
    (store owner vs batch first, ids interleaved across sources) must
    agree exactly with global keep-first."""
    docs = _docs(spark, sf_dir)
    return incremental_substring_dedup(
        docs.filter(F.col("source") == INCR_BATCH_SOURCE),
        substring_window_store(
            docs.filter(F.col("source") != INCR_BATCH_SOURCE)
        ),
    )


def q_dedup_substrings_store(spark, sf_dir):
    """The persisted-store leg, executed: corpus window stats WRITTEN to
    parquet, READ BACK, probed by the batch — same oracle as the
    recompute, so round-trip mangling (count widening, owner column
    drift) is a hash mismatch."""
    from ..io import scratch_dir

    docs = _docs(spark, sf_dir)
    store = substring_window_store(
        docs.filter(F.col("source") != INCR_BATCH_SOURCE)
    )
    with scratch_dir("etl_substr_store_") as tmp:
        store.write.mode("overwrite").parquet(tmp)
        return incremental_substring_dedup(
            docs.filter(F.col("source") == INCR_BATCH_SOURCE),
            spark.read.parquet(tmp),
        ).localCheckpoint(eager=True)


def q_streaming_substrings_incremental(
    spark, sf_dir, *, max_files_per_trigger=None, src_files=None,
    replay_each_batch=False,
):
    """The substring-dedup ingest loop THROUGH the real micro-batch
    engine, merge-on-read (chop-invariant by the same construction as
    the lines twin): each micro-batch's foreachBatch appends exactly two
    chop-invariant artifacts — (a) the batch's window-stat partials
    (:func:`substring_window_store`; the fold is associative and
    commutative) and (b) the raw batch docs to a staged sink (a plain
    set union). Keep/drop is resolved at read time against the FINAL
    folded store (:func:`resolve_substring_dedup_from_store`). Two runs:
    the corpus bootstraps the store, then 'src0' streams in; the
    returned rows are the batch's resolved cleaned docs and must
    hash-match the full-recompute oracle restricted to the batch.

    ``max_files_per_trigger``/``src_files`` exist for the chopping test
    only; the driver path leaves them unset."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    corpus = docs.filter(F.col("source") != INCR_BATCH_SOURCE)
    batch2 = docs.filter(F.col("source") == INCR_BATCH_SOURCE)

    def process_batch(batch_df, store, sink, bid):
        batch_df = batch_df.localCheckpoint(eager=True)
        _idempotent_batch_write(substring_window_store(batch_df), store, bid)
        _idempotent_batch_write(batch_df.select("doc_id", "text"), sink, bid)

    def resolve(store, sink):
        partials = spark.read.parquet(store).drop("batch_id")
        final_store = merge_substring_store(partials, partials.limit(0))
        batch_ids = batch2.select("doc_id")
        return resolve_substring_dedup_from_store(
            # run 1 also staged the corpus docs; the batch-restricted
            # oracle deliberately excludes them
            spark.read.parquet(sink)
            .drop("batch_id")
            .join(batch_ids, "doc_id", "left_semi"),
            final_store,
        )

    return _run_incremental_stream(
        spark,
        corpus,
        batch2,
        process_batch,
        resolve,
        prefix="etl_stream_substr_",
        max_files_per_trigger=max_files_per_trigger,
        src_files=src_files,
        replay_each_batch=replay_each_batch,
    )


def _substr_dropped_sql(wdw: int) -> str:
    """Shared oracle CTE chain ending in dropped(doc_id, q)."""
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
pos AS (
    SELECT doc_id, t, unnest(range(1, LEN(t) - {wdw - 2})) AS p
    FROM toks WHERE LEN(t) >= {wdw}
),
wins AS (
    SELECT doc_id, p,
           md5(array_to_string(t[p:(p + {wdw - 1})], ' ')) AS h
    FROM pos
),
marked AS (
    SELECT doc_id, p,
           COUNT(*) OVER (PARTITION BY h) AS n_occ,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
    FROM wins
),
dup AS (SELECT doc_id, p, (rn = 1) AS is_owner FROM marked WHERE n_occ >= 2),
drop_isl AS (
    SELECT doc_id, p, SUM(brk) OVER (
        PARTITION BY doc_id ORDER BY p
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM (
        SELECT doc_id, p,
               CASE WHEN LAG(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                      OR p > LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                           + {wdw}
                    THEN 1 ELSE 0 END AS brk
        FROM dup WHERE NOT is_owner)
),
drop_cover AS (
    SELECT doc_id, unnest(range(s, e + 1)) AS q
    FROM (SELECT doc_id, MIN(p) AS s, MAX(p) + {wdw - 1} AS e
          FROM drop_isl GROUP BY doc_id, island)
),
keep_isl AS (
    SELECT doc_id, p, SUM(brk) OVER (
        PARTITION BY doc_id ORDER BY p
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM (
        SELECT doc_id, p,
               CASE WHEN LAG(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                      OR p > LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                           + {wdw}
                    THEN 1 ELSE 0 END AS brk
        FROM dup WHERE is_owner)
),
keep_cover AS (
    SELECT doc_id, unnest(range(s, e + 1)) AS q
    FROM (SELECT doc_id, MIN(p) AS s, MAX(p) + {wdw - 1} AS e
          FROM keep_isl GROUP BY doc_id, island)
),
dropped AS (
    SELECT doc_id, q FROM drop_cover
    EXCEPT
    SELECT doc_id, q FROM keep_cover
)"""


def _sql_substr_dedup(where: str = "") -> str:
    return (
        _substr_dropped_sql(SUBSTR_WINDOW)
        + rf"""
, all_tokens AS (
    SELECT doc_id, t, unnest(range(1, LEN(t) + 1)) AS q FROM toks
),
kept AS (
    SELECT a.doc_id, a.q, a.t[a.q] AS token
    FROM all_tokens a ANTI JOIN dropped d
        ON a.doc_id = d.doc_id AND a.q = d.q
),
kept_agg AS (
    SELECT doc_id, string_agg(token, ' ' ORDER BY q) AS kept_text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(k.kept_text, '') AS text,
       CAST(LEN(b.t) AS BIGINT) AS n_tokens,
       CAST(LEN(b.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
FROM toks b LEFT JOIN kept_agg k USING (doc_id)
{where}
"""
    )


SQL_DEDUP_SUBSTRINGS = _sql_substr_dedup()

# the incremental/store/streaming legs share one oracle: the FULL-corpus
# recompute restricted to the batch docs — global keep-first must agree
# with the store-probe owner resolution exactly
SQL_DEDUP_SUBSTRINGS_INCR = _sql_substr_dedup(
    where=(
        "WHERE b.doc_id IN "
        "(SELECT doc_id FROM documents WHERE source = 'src0')"
    )
)


SQL_DEDUP_SUBSTRINGS_REPORT = (
    _substr_dropped_sql(SUBSTR_WINDOW)
    + rf"""
, final_isl AS (
    SELECT doc_id, q, SUM(brk) OVER (
        PARTITION BY doc_id ORDER BY q
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM (
        SELECT doc_id, q,
               CASE WHEN LAG(q) OVER (PARTITION BY doc_id ORDER BY q) IS NULL
                      OR q > LAG(q) OVER (PARTITION BY doc_id ORDER BY q) + 1
                    THEN 1 ELSE 0 END AS brk
        FROM dropped)
)
SELECT doc_id,
       CAST(MIN(q) AS BIGINT) AS span_start,
       CAST(MAX(q) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_removed
FROM final_isl
GROUP BY doc_id, island
"""
)


QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_lines": (q_dedup_lines, SQL_DEDUP_LINES),
    "dedup_lines_report": (q_dedup_lines_report, SQL_DEDUP_LINES_REPORT),
    "dedup_lines_incremental": (
        q_dedup_lines_incremental,
        SQL_DEDUP_LINES_INCR,
    ),
    "dedup_lines_store": (q_dedup_lines_store, SQL_DEDUP_LINES_INCR),
    "streaming_lines_incremental": (
        q_streaming_lines_incremental,
        SQL_DEDUP_LINES_INCR,
    ),
    "dedup_minhash_recall": (q_dedup_minhash_recall, SQL_DEDUP_MINHASH_RECALL),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_minhash_incremental": (
        q_dedup_minhash_incremental,
        SQL_DEDUP_MINHASH_INCREMENTAL,
    ),
    "dedup_minhash_band_store": (
        q_dedup_minhash_band_store,
        SQL_DEDUP_MINHASH_INCREMENTAL,
    ),
    "streaming_minhash_incremental": (
        q_streaming_minhash_incremental,
        SQL_DEDUP_MINHASH_INCREMENTAL,
    ),
    "dedup_jaccard_prefix": (q_dedup_jaccard_prefix, SQL_DEDUP_JACCARD_PREFIX),
    "dedup_jaccard_pairs": (q_dedup_jaccard_pairs, SQL_DEDUP_JACCARD),
    "dedup_minhash_bands": (q_dedup_minhash_bands, SQL_DEDUP_MINHASH_BANDS),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, SQL_DEDUP_MINHASH_PAIRS),
    "dedup_minhash_pairs_capped": (
        q_dedup_minhash_pairs_capped,
        SQL_DEDUP_MINHASH_PAIRS_CAPPED,
    ),
    "dedup_minhash_bucket_report": (
        q_dedup_minhash_bucket_report,
        SQL_DEDUP_MINHASH_BUCKET_REPORT,
    ),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_keeper_priority": (q_dedup_keeper_priority, SQL_DEDUP_KEEPER_PRIORITY),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "dedup_substrings": (q_dedup_substrings, SQL_DEDUP_SUBSTRINGS),
    "dedup_substrings_report": (
        q_dedup_substrings_report,
        SQL_DEDUP_SUBSTRINGS_REPORT,
    ),
    "dedup_substrings_incremental": (
        q_dedup_substrings_incremental,
        SQL_DEDUP_SUBSTRINGS_INCR,
    ),
    "dedup_substrings_store": (
        q_dedup_substrings_store,
        SQL_DEDUP_SUBSTRINGS_INCR,
    ),
    "streaming_substrings_incremental": (
        q_streaming_substrings_incremental,
        SQL_DEDUP_SUBSTRINGS_INCR,
    ),
    "text_decontaminate": (q_text_decontaminate, SQL_TEXT_DECONTAMINATE),
}
