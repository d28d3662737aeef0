"""dedup_keeper_by_priority's min(struct(prio, id)) keeper pick."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def test_keeper_min_struct_matches_window_semantics(spark):
    """dedup_keeper_by_priority's r16 keeper pick — min(struct(prio, id))
    — must equal the old row_number window's rank-1 under
    (prio ASC NULLS FIRST, id ASC), including the documented
    NULL-priority hazard path (a NULL prio crowns its doc in BOTH
    forms: struct ordering places the null field first, like the window
    default)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pandas_etl_framework_spark.llmops.dedup import (
        dedup_keeper_by_priority,
    )

    docs = spark.createDataFrame(
        [
            (1, 5), (2, 3), (3, 3),          # cluster {1,2,3}: tie on 3
            (4, None), (5, 1),               # cluster {4,5}: NULL prio
            (6, 9),                          # singleton
        ],
        "doc_id long, prio int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["keeper_doc_id"], r["is_keeper"])
        for r in dedup_keeper_by_priority(
            docs, pairs, F.col("prio"), id_col="doc_id"
        ).collect()
    }
    # reference: the replaced window form, computed independently
    comp = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    labeled = [(d, comp[d], p) for d, p in
               [(1, 5), (2, 3), (3, 3), (4, None), (5, 1), (6, 9)]]
    want_keeper = {}
    for d, c, p in labeled:
        key = (p is not None, p if p is not None else 0, d)  # NULLS FIRST
        if c not in want_keeper or key < want_keeper[c][0]:
            want_keeper[c] = (key, d)
    want = {
        d: (want_keeper[c][1], d == want_keeper[c][1]) for d, c, _ in labeled
    }
    assert got == want
    assert got[4] == (4, True)  # the NULL-prio doc is crowned (hazard path)
    assert got[2] == (2, True)  # tie on prio 3 -> lowest id

