"""Round-8 property tests: ADVICE r07 fixes (empty-string provenance,
explicit-salted contradiction, dfreq sigma pad) plus the new scale
hardening (banded-join bucket caps, IVF-PQ persistence/add-batch)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandas_etl_framework_spark import add_meta_columns, create_currents
from pandas_etl_framework_spark.constants import SOURCE_FILE_NAME
from tests.conftest import KEY_COLUMNS, RUN1_TS


def test_source_file_empty_string_stamps_empty_literal(grades_run1):
    """source_file='' must stamp the empty provenance string, not silently
    skip the column (ADVICE r07: the old truthiness gate dropped it)."""
    df = add_meta_columns(
        grades_run1, create_currents(RUN1_TS), KEY_COLUMNS, source_file=""
    )
    assert SOURCE_FILE_NAME in df.columns
    vals = {r[0] for r in df.select(SOURCE_FILE_NAME).distinct().collect()}
    assert vals == {""}


def test_source_file_false_skips_and_bad_type_raises(grades_run1):
    df = add_meta_columns(
        grades_run1, create_currents(RUN1_TS), KEY_COLUMNS, source_file=False
    )
    assert SOURCE_FILE_NAME not in df.columns
    with pytest.raises(TypeError, match="source_file"):
        add_meta_columns(
            grades_run1, create_currents(RUN1_TS), KEY_COLUMNS, source_file=42
        )


def test_auto_join_explicit_salted_with_unsaltable_how_raises(spark):
    """An explicit strategy='salted' with a salt-unsafe join type is a
    caller contradiction — it must raise, not silently downgrade to a
    plain join (ADVICE r07)."""
    from pandas_etl_framework_spark.scale import auto_join

    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.range(5).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted"):
            auto_join(left, right, ["k"], how=how, strategy="salted")
    # explicit salted with a saltable how still works and matches plain
    got = auto_join(left, right, ["k"], how="inner", strategy="salted")
    assert sorted(r["k"] for r in got.collect()) == list(range(5))


SF_DIR = "/root/testdata/sf0.001"


def test_dhash_capped_pairs_equal_uncapped_on_pigeonhole_safe_fixture(spark):
    """Dropping the saturated band-0/band-7 buckets must lose NOTHING on
    the synth fixture (every true pair also shares the quiet per-group
    bands 1-6), so capped == uncapped == brute force."""
    from pandas_etl_framework_spark.llmops.multimodal import (
        _DHASH_CAP_MAXD,
        DHASH_CAP_DENOM,
        _dhash_synth_hashes,
        dhash_band_buckets,
        dhash_neardup_pairs,
    )

    hashes = _dhash_synth_hashes(spark, SF_DIR).localCheckpoint(eager=True)
    n = hashes.count()
    cap = n // DHASH_CAP_DENOM
    capped = {
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in dhash_neardup_pairs(
            hashes, max_distance=_DHASH_CAP_MAXD, bands=8, bucket_cap=cap
        ).collect()
    }
    uncapped = {
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in dhash_neardup_pairs(
            hashes, max_distance=_DHASH_CAP_MAXD, bands=8
        ).collect()
    }
    assert capped == uncapped and capped
    # the cap genuinely fired: band 0 holds the whole corpus, band 7 three
    # ~33% variant buckets
    report = (
        dhash_band_buckets(hashes, max_distance=_DHASH_CAP_MAXD, bands=8)
        .filter(F.col("n_ids") > cap)
        .collect()
    )
    assert {int(r["band"]) for r in report} == {0, 7}
    assert sum(1 for r in report if r["band"] == 7) == 3
    assert next(r["n_ids"] for r in report if r["band"] == 0) == n


def test_auto_join_aqe_skew_middle_regime(spark):
    """Moderate skew (share in [0.05, 0.2)) must take the 'aqe_skew'
    branch: strategy decision, sort-merge plan shape (the join AQE's
    OptimizeSkewedJoin rewrites), and value identity with a plain join."""
    from pandas_etl_framework_spark.scale import auto_join, auto_join_strategy

    # 10000 rows, 1000 of them (10%) on key 0, the rest spread over 9000
    # keys — above the r09 min_hot_rows floor and the 1/threshold
    # distinct-key gate, so the default profile still picks 'aqe_skew'
    left = spark.range(10000).select(
        F.when(F.col("id") < 1000, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    right = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert auto_join_strategy(left, ["k"]) == "aqe_skew"

    joined = auto_join(left, right, ["k"], strategy="aqe_skew")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    got = sorted((r["k"], r["v"]) for r in joined.collect())
    want = sorted(
        (r["k"], r["v"]) for r in left.join(right, ["k"]).collect()
    )
    assert got == want


def test_auto_join_aqe_skew_raises_when_aqe_disabled(spark):
    """The aqe_skew branch must refuse to pretend: with the skew split
    disabled the strategy's premise is gone, so it raises instead of
    silently degrading to an unsplit sort-merge join."""
    from pandas_etl_framework_spark.scale import auto_join

    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.range(10).withColumnRenamed("id", "k")
    old = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        with pytest.raises(RuntimeError, match="skewJoin"):
            auto_join(left, right, ["k"], strategy="aqe_skew")
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old)


def test_ivfpq_persisted_codes_probe_filter_prunes_partitions(spark, tmp_path):
    """The 100-TB claim behind ivfpq_write's partitionBy('cid'): a probed
    search must PRUNE unprobed cells at the scan, not read-then-filter.
    Build, persist, reload, filter to two cells, and assert the scan
    carries a cid partition filter and reads only those directories."""
    from pandas_etl_framework_spark.llmops.clustering import (
        _ivfpq_index,
        ivfpq_read,
        ivfpq_write,
    )

    e, crows, codes, books = _ivfpq_index(spark, SF_DIR)
    path = str(tmp_path / "ivfpq")
    ivfpq_write(spark, path, crows, books, codes)
    _crows2, _books2, codes2 = ivfpq_read(spark, path)
    probed = sorted(crows)[:2]
    filtered = codes2.filter(F.col("cid").isin([int(p) for p in probed]))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split(
        "PartitionFilters"
    )[1][:200]
    # pruning is real: the filtered scan returns exactly the probed cells
    cells = {
        int(r["cid"]) for r in filtered.select("cid").distinct().collect()
    }
    assert cells <= set(int(p) for p in probed) and cells


# --------------------------------------------------------------------------
# BM25 differential: Spark vs an independent pure-Python mirror over
# randomized tiny corpora (ties, absent query terms, single-doc corpora,
# stopword-frequent terms all fall out of the strategy)
# --------------------------------------------------------------------------

_bm25_corpus = st.lists(
    st.lists(
        st.sampled_from(["q", "z", "common", "pad"]),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


def _bm25_python_mirror(tf_rows, query_terms, k):
    """Independent replication of the quantized BM25 (floats via the same
    IEEE ops; ints exact)."""
    import collections
    import math

    dl = collections.Counter()
    for d, _t, c in tf_rows:
        dl[d] += c
    n_docs, total = len(dl), sum(dl.values())
    hits = [(d, t, c) for d, t, c in tf_rows if t in query_terms]
    df = collections.Counter(t for _d, t, _c in hits)
    per_doc = collections.defaultdict(lambda: [0, 0])
    for d, t, c in hits:
        idf_q = math.floor(
            math.log((2 * n_docs + 2) / (2 * df[t] + 1)) * 1_000_000
        )
        num = 22 * total * c
        den = 10 * total * c + 3 * total + 9 * n_docs * dl[d]
        per_doc[d][0] += math.floor(idf_q * (num / den))
        per_doc[d][1] += 1
    ranked = sorted(per_doc.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    return {
        d: (score, n, dl[d]) for d, (score, n) in ranked
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_bm25_corpus)
def test_bm25_matches_python_mirror_on_random_corpora(spark, corpus):
    from pandas_etl_framework_spark.llmops.indexing import bm25_topk

    tf_rows = []
    for doc_id, words in enumerate(corpus):
        import collections

        for term, c in collections.Counter(words).items():
            tf_rows.append((doc_id, term, c))
    tf = spark.createDataFrame(tf_rows, "doc_id long, term string, tf long")
    got = {
        r["doc_id"]: (r["score_q"], r["n_terms"], r["dl"])
        for r in bm25_topk(tf, query_terms=("q", "z"), k=10).collect()
    }
    assert got == _bm25_python_mirror(tf_rows, ("q", "z"), 10)
