"""The quantized Lloyd trainer (``clustering.kmeans_on_vq_grouped``, with
``kmeans_on_vq`` as its single-group form) against a pure-Python integer
reference: exact integer distances, ties to the lowest cid, centroid
update div(sum, count) truncating toward zero, empty clusters dropped.
Inputs are multi-partition (several per-batch partial sums fold into
every (grp, cid, pos)) with signed components (the IVF-PQ residual
shape, where the truncation direction of div is observable).
"""

from __future__ import annotations

import random

import pytest

from pandas_etl_framework_spark.llmops import clustering

pytestmark = pytest.mark.usefixtures("spark")


def _div(s: int, n: int) -> int:
    """Spark SQL div(): integral division truncating toward zero."""
    q = abs(s) // n
    return q if (s >= 0) == (n >= 0) else -q


def _py_lloyd(vectors, k, iterations):
    """Reference Lloyd chain seeded by vec_id < k. Returns the last
    round's assignment and the centroids it produced, the trainer's
    (and the DuckDB oracle's) contract."""
    cent = {vid: list(vectors[vid]) for vid in range(k)}

    def assign(c):
        out = {}
        for vid, v in vectors.items():
            best = None
            for cid in sorted(c):
                d = sum((a - b) * (a - b) for a, b in zip(v, c[cid]))
                if best is None or d < best[0]:
                    best = (d, cid)
            out[vid] = best[1]
        return out

    for _ in range(iterations):
        a = assign(cent)
        cent = {
            cid: [
                _div(sum(col), len(members))
                for col in zip(*(vectors[v] for v in members))
            ]
            for cid in set(a.values())
            for members in [[v for v, c in a.items() if c == cid]]
        }
    return a, cent


def _check_grouped(spark, rows, k, iterations, partitions):
    """Run the grouped trainer on (vec_id, grp, vq) rows and compare every
    group with ``_py_lloyd`` on that group's vectors alone."""
    e = (
        spark.createDataFrame(rows, "vec_id long, grp long, vq array<long>")
        .repartition(partitions)
        .localCheckpoint(eager=True)
    )
    assign, cent = clustering.kmeans_on_vq_grouped(e, k, iterations)
    got_assign = {(r["grp"], r["vec_id"]): r["cid"] for r in assign.collect()}
    got_cent = {(r["grp"], r["cid"]): list(r["c"]) for r in cent.collect()}
    want_assign, want_cent = {}, {}
    for g in sorted({g for _, g, _ in rows}):
        a, c = _py_lloyd({v: vq for v, gg, vq in rows if gg == g}, k, iterations)
        want_assign.update({(g, v): cid for v, cid in a.items()})
        want_cent.update({(g, cid): vq for cid, vq in c.items()})
    assert got_cent == want_cent
    assert got_assign == want_assign


def test_kmeans_partial_sum_fold_matches_reference_signed_multibatch(spark):
    dim, k, iterations = 6, 3, 2
    rows = []
    for vid in range(60):
        v = [((vid * 31 + j * 17) % 23) - 11 for j in range(dim)]
        rows.append((vid, [int(x) for x in v]))
    e = (
        spark.createDataFrame(rows, "vec_id long, vq array<long>")
        .repartition(7)
        .localCheckpoint(eager=True)
    )
    assign, cent = clustering.kmeans_on_vq(e, k=k, iterations=iterations)
    assert assign.columns == ["vec_id", "cid"]
    assert cent.columns == ["cid", "c"]
    got_assign = {r["vec_id"]: r["cid"] for r in assign.collect()}
    got_cent = {r["cid"]: list(r["c"]) for r in cent.collect()}

    want_assign, want_cent = _py_lloyd(dict(rows), k, iterations)
    assert got_cent == want_cent  # bit-identical centroids incl. signs
    assert got_assign == want_assign


@pytest.mark.parametrize("seed", [0, 1])
def test_kmeans_grouped_matches_reference(spark, seed):
    # the IVF-PQ shape: the same vec_id set in every group with different
    # vectors; small components make distance ties common
    rng = random.Random(seed)
    n, d, m, k, iterations = 40, 4, 3, 4, 2
    rows = [
        (i, g, [rng.randrange(-8, 9) for _ in range(d)])
        for i in range(n)
        for g in range(m)
    ]
    _check_grouped(spark, rows, k, iterations, partitions=3)


def test_kmeans_grouped_partial_sum_matches_reference(spark):
    dim, k, iterations = 4, 2, 2
    rows = [
        (vid, g, [((vid * 13 + g * 7 + j * 5) % 19) - 9 for j in range(dim)])
        for vid in range(40)
        for g in (0, 1)
    ]
    _check_grouped(spark, rows, k, iterations, partitions=5)


@pytest.mark.parametrize(
    "k, iterations, unseeded",
    [(0, 2, False), (2, 0, False), (2, 2, True)],
    ids=["k0", "iterations0", "unseeded_group"],
)
def test_kmeans_rejects_invalid_input_on_driver(spark, k, iterations, unseeded):
    rows = [(vid, 0, [vid, -vid]) for vid in range(6)]
    if unseeded:  # group 1 has no row with vec_id < k
        rows += [(vid, 1, [vid, vid]) for vid in range(10, 14)]
    e = spark.createDataFrame(rows, "vec_id long, grp long, vq array<long>")
    with pytest.raises(ValueError):
        clustering.kmeans_on_vq_grouped(e, k, iterations)
    last_grp = e.filter(e.grp == rows[-1][1]).drop("grp")
    with pytest.raises(ValueError):
        clustering.kmeans_on_vq(last_grp, k, iterations)
