"""Prefix-filter joins (Jaccard and containment PPJoin): threshold
validation on the driver."""

from __future__ import annotations

import pytest

from pandas_etl_framework_spark.llmops import dedup


@pytest.mark.parametrize(
    "fn, num, den, kwargs",
    [
        ("jaccard_prefix_pairs", 3, 0, {}),
        ("jaccard_prefix_pairs", -1, 5, {}),
        ("jaccard_prefix_hot_tokens", 0, 5, {}),
        ("containment_pairs", 9, 0, {}),
        ("containment_pairs", 0, 10, {"min_size": 1}),
        ("containment_hot_tokens", 9, -10, {}),
    ],
    ids=[
        "jaccard-den0", "jaccard-num_negative", "jaccard_hot-num0",
        "containment-den0", "containment-num0", "containment_hot-den_negative",
    ],
)
def test_prefix_joins_reject_bad_threshold_before_any_job(
    spark, fn, num, den, kwargs
):
    """A zero denominator would divide by zero inside an executor (ANSI)
    after the token-set checkpoints ran, and a non-positive numerator
    admits pairs that share no token, which a token join cannot find:
    both must raise ValueError on the driver before any Spark job starts."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    ts = dedup.token_sets_df(docs)
    sc = spark.sparkContext
    group = f"threshold-{fn}-{num}-{den}"
    sc.setJobGroup(group, "threshold validation")
    try:
        with pytest.raises(ValueError, match="threshold"):
            getattr(dedup, fn)(ts, num, den, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
