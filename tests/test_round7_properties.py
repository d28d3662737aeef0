"""Property tests for the round-7 additions (banded Hamming near-dup,
skew-aware auto_join). Same budget policy as the earlier rounds'
modules: pure-Python properties run at full hypothesis depth,
Spark-dependent properties draw randomized datasets at a conservative
max_examples (each example is a Spark job).
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pandas_etl_framework_spark.llmops.multimodal import dhash_neardup_pairs
from pandas_etl_framework_spark.scale import auto_join, auto_join_strategy

_MASK64 = (1 << 64) - 1


def _popcount64(x: int) -> int:
    return bin(x & _MASK64).count("1")


def _to_signed(u: int) -> int:
    """Map a uint64 bit pattern onto Spark's signed long domain."""
    return u - (1 << 64) if u >= (1 << 63) else u


def _bands(u: int, bands: int = 8) -> list[int]:
    width = 64 // bands
    mask = (1 << width) - 1
    return [(u >> (b * width)) & mask for b in range(bands)]


# --------------------------------------------------------------------------
# pigeonhole premise: distance < bands => at least one identical band.
# Pure arithmetic on the same shift/mask layout the Spark code uses, so a
# band-indexing bug in EITHER place breaks the cross-check below.
# --------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    base=st.integers(min_value=0, max_value=_MASK64),
    flips=st.lists(
        st.integers(min_value=0, max_value=63), min_size=0, max_size=7,
        unique=True,
    ),
)
def test_banding_pigeonhole_property(base, flips):
    other = base
    for bit in flips:
        other ^= 1 << bit
    assert _popcount64(base ^ other) == len(flips) <= 7
    shared = sum(
        1 for a, b in zip(_bands(base), _bands(other)) if a == b
    )
    assert shared >= 1  # <=7 flipped bits cannot touch all 8 bands


# --------------------------------------------------------------------------
# banded join == brute force on random fingerprint sets with planted
# near-pairs (the adversarial-fixture unit tests pin specific distances;
# this sweeps random ones, including top-bit-set hashes that exercise the
# unsigned shift on Spark's signed longs)
# --------------------------------------------------------------------------

@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_base=st.integers(min_value=2, max_value=25),
    n_planted=st.integers(min_value=0, max_value=15),
    max_distance=st.integers(min_value=0, max_value=7),
)
def test_banded_neardup_equals_brute_force(
    spark, seed, n_base, n_planted, max_distance
):
    rng = random.Random(seed)
    hashes = [rng.getrandbits(64) for _ in range(n_base)]
    for _ in range(n_planted):
        src = rng.choice(hashes)
        flipped = src
        for bit in rng.sample(range(64), rng.randint(0, 9)):
            flipped ^= 1 << bit
        hashes.append(flipped)

    rows = [(i, _to_signed(h)) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    got = sorted(
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in dhash_neardup_pairs(
            df, max_distance=max_distance, bands=8
        ).collect()
    )

    want = sorted(
        (i, j, _popcount64(hashes[i] ^ hashes[j]))
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if _popcount64(hashes[i] ^ hashes[j]) <= max_distance
    )
    assert got == want


# --------------------------------------------------------------------------
# auto_join: (a) the decision matches the exact hot-key share computed in
# Python; (b) the OUTPUT is value-identical to the plain join whichever
# branch fires, across salt-safe and salt-unsafe join types
# --------------------------------------------------------------------------

@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_left=st.integers(min_value=1, max_value=150),
    hot_fraction=st.floats(min_value=0.0, max_value=1.0),
    n_keys=st.integers(min_value=1, max_value=12),
    how=st.sampled_from(["inner", "left", "left_anti", "right"]),
)
def test_auto_join_decision_and_value_identity(
    spark, seed, n_left, hot_fraction, n_keys, how
):
    rng = random.Random(seed)
    n_hot = int(n_left * hot_fraction)
    left_keys = [0] * n_hot + [
        rng.randrange(1, n_keys + 1) for _ in range(n_left - n_hot)
    ]
    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left_keys)], "k long, lv long"
    )
    # right misses some left keys and holds some left-absent keys, so
    # every join type has unmatched rows on both sides to get wrong
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(0, n_keys + 1, 2)], "k long, rv long"
    )

    from collections import Counter

    counts = Counter(left_keys)
    mx = max(counts.values())
    share = mx / n_left
    # r08: three regimes — salting at >=0.2, AQE skew split in
    # [0.05, 0.2), plain below. r09 item 6: the AQE override further
    # requires > 1/0.05 distinct keys (mirrored here; with n_keys <= 12
    # the generator can never produce it, so moderate shares fall
    # through to 'plain' — the dedicated round-8 test covers the AQE
    # branch at realistic cardinality). min_hot_rows=1 disables the
    # absolute floor so 150-row fixtures still exercise the branches;
    # the floor itself is covered in test_scale.py.
    expected = (
        "salted"
        if share >= 0.2
        else "aqe_skew"
        if share >= 0.05 and len(counts) > 1.0 / 0.05
        else "plain"
    )
    assert auto_join_strategy(left, ["k"], min_hot_rows=1) == expected

    got = auto_join(
        left, right, ["k"], how=how, salt_buckets=4, min_hot_rows=1
    )
    plain = left.join(right, on=["k"], how=how)
    canon = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select(*sorted(df.columns)).collect()
    )
    assert canon(got) == canon(plain)

