"""Round-15 pins for the ADVICE r14 items: salted_join's how-guard at the
function boundary (not only auto_join's), auto_join's loud whole-side
fallback when an explicitly requested 'salted' strategy finds no hot key,
the mtime-keyed stream-source probe cache, and the parameterizable
streaming file-sink root."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F


def _sides(spark):
    big = spark.range(0, 2000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w")
    )
    return big, small


def test_salted_join_rejects_unsaltable_how(spark):
    from pandas_etl_framework_spark.scale import salted_join

    big, small = _sides(spark)
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="not semantics-preserving"):
            salted_join(big, small, ["k"], how=how)
        with pytest.raises(ValueError, match="not semantics-preserving"):
            salted_join(big, small, ["k"], how=how, hot_keys=small.select("k"))


def test_auto_join_explicit_salted_empty_hot_falls_back_loudly(spark):
    from pandas_etl_framework_spark.scale import auto_join

    # perfectly uniform keys: no key clears the 20% share bar, so the
    # explicit 'salted' request has an empty hot relation — the fix warns
    # and applies whole-side salting instead of silently joining plain
    big, small = _sides(spark)
    with pytest.warns(UserWarning, match="whole-side salting"):
        out = auto_join(big, small, ["k"], strategy="salted", min_hot_rows=10)
    plain = {tuple(r) for r in big.join(small, "k").collect()}
    assert {tuple(r) for r in out.collect()} == plain


def test_auto_join_auto_salted_still_silent_and_correct(spark):
    from pandas_etl_framework_spark.scale import auto_join

    # one genuinely hot key: the auto profile picks 'salted' itself and
    # must stay warning-free (the fallback is the explicit path only)
    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 4 != 0, F.lit(1)).otherwise(F.col("id") % 10)
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w")
    )
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = auto_join(big, small, ["k"], min_hot_rows=100)
        rows = {tuple(r) for r in out.collect()}
    assert rows == {tuple(r) for r in big.join(small, "k").collect()}


def test_stream_source_probe_invalidates_on_rewrite(spark, tmp_path):
    from pandas_etl_framework_spark.streaming import windows as W

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/events.parquet"
    base = spark.sql(
        "SELECT 1 AS event_id, 7 AS user_id, 'view' AS event_type,"
        " TIMESTAMP '2024-01-01 00:00:00' AS ts, 1.0 AS value"
    )
    base.write.parquet(path)
    W.events_stream_source(spark, sf_dir)
    keys = [k for k in W._STREAM_SOURCE_PROBE if k[0] == path]
    assert keys and keys[0][1] is not None  # local path: mtime-keyed
    schema_v1 = W._STREAM_SOURCE_PROBE[keys[0]][0]
    # rewrite under the SAME path with an evolved schema; ensure mtime moves
    time.sleep(0.05)
    base.withColumn("extra", F.lit(1)).write.mode("overwrite").parquet(path)
    os.utime(path, (time.time() + 5, time.time() + 5))
    src = W.events_stream_source(spark, sf_dir)
    assert "extra" in src.schema.fieldNames()  # not the stale v1 probe
    assert "extra" not in schema_v1.fieldNames()
    W.clear_stream_source_probe()
    assert not W._STREAM_SOURCE_PROBE


def test_gopher_top_count_fold_edge_shapes(spark):
    """Pin the r15 sort+fold rewrite of q_text_gopher_rules' top-element
    mass against the definitional counted-filter form on the shapes the
    driver fixtures never exercise: empty array, single element, all
    elements equal, and a tie between two run lengths (the fold's
    `greatest(s.best, s.run)` finisher must see the LAST run too)."""
    rows = [
        ([],),
        (["a"],),
        (["a", "a", "a"],),
        (["b", "a", "b", "a"],),          # tie 2-2
        (["z", "a", "z", "z", "a"],),     # last-run not the best
        (["a", "b", "b", "c", "c", "c"],),  # best run is the final one
    ]
    df = spark.createDataFrame(rows, "arr array<string>")
    fold = (
        "aggregate(array_sort(arr), "
        "named_struct('prev', CAST(NULL AS string), 'run', 0L, 'best', 0L), "
        "(s, x) -> IF(s.run = 0,"
        " named_struct('prev', x, 'run', 1L, 'best', s.best), "
        "IF(x = s.prev,"
        " named_struct('prev', x, 'run', s.run + 1, 'best', s.best), "
        "named_struct('prev', x, 'run', 1L,"
        " 'best', greatest(s.best, s.run)))), "
        "s -> greatest(s.best, s.run))"
    )
    definitional = (
        "CASE WHEN size(arr) = 0 THEN 0L ELSE array_max(transform("
        "array_distinct(arr), u -> CAST(size(filter(arr, x -> x = u)) AS"
        " long))) END"
    )
    got = df.select(
        F.expr(fold).alias("fold"), F.expr(definitional).alias("def")
    ).collect()
    assert [r.fold for r in got] == [r["def"] for r in got] == [0, 1, 3, 2, 3, 3]


def test_connected_components_pointer_jumping_log_rounds(spark):
    """r15 optimization pin: min-label propagation with pointer jumping
    converges in O(log diameter) rounds. A 60-edge path graph (diameter
    60) needed ~60 linear rounds before the rewrite; with distance
    doubling it must converge within 10 — and to the exact components
    (every node labeled with the path minimum)."""
    from pandas_etl_framework_spark.llmops.dedup import connected_components

    n = 61
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    labels = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iterations=10).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_session_fn_vectorized_matches_reference_loop():
    """r15 optimization pin: the vectorized _session_fn body (numpy gap
    scan + datetime64 views) is value-identical to the original
    per-event Python loop on every state path — fresh state, continued
    open session (head merge), immediate-boundary continuation (empty
    head segment), all-continue (no boundaries), and timeout — driven
    with a fake GroupState, no Spark needed."""
    import numpy as np
    import pandas as pd

    from pandas_etl_framework_spark.streaming.windows import (
        _GAP_MS,
        _GAP_US,
        _session_fn,
        _us_ts,
    )

    class FakeState:
        def __init__(self, tup=None, timed_out=False):
            self._t = tup
            self.hasTimedOut = timed_out
            self.updated = None
            self.removed = False
            self.timeout = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self.updated = t

        def remove(self):
            self.removed = True

        def setTimeoutTimestamp(self, ms):
            self.timeout = ms

        def getCurrentWatermarkMs(self):
            return 0

    def reference(user_id, ts_us_sorted, st):
        # the pre-r15 loop, verbatim semantics
        if st.exists:
            start_us, last_us, n = st.get
        else:
            start_us, last_us, n = None, None, 0
        closed = []
        for t in ts_us_sorted:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > _GAP_US:
                closed.append((user_id, start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        return closed, (start_us, last_us, n), last_us // 1_000 + _GAP_MS

    base = 1_700_000_000_000_000
    g = _GAP_US
    cases = [
        (None, [base, base + 10, base + g + 20, base + 2 * g + 40]),
        # continued open session: first event inside the gap
        ((base - g, base - 5, 3), [base, base + 10, base + 2 * g]),
        # immediate boundary: first event past the gap (empty head seg)
        ((base - 10 * g, base - 9 * g, 7), [base, base + 1]),
        # all-continue: no boundaries at all
        ((base - 100, base - 50, 2), [base, base + 10, base + 20]),
        # single event, fresh state
        (None, [base]),
    ]
    for tup, ts_us in cases:
        st = FakeState(tup)
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(np.array(sorted(ts_us)) * 1_000)}
        )
        got = list(_session_fn((42,), iter([pdf]), st))
        want_closed, want_state, want_timeout = reference(42, sorted(ts_us), st)
        got_closed = []
        for df in got:
            for r in df.itertuples(index=False):
                got_closed.append(
                    (
                        r.user_id,
                        pd.Timestamp(r.session_start).value // 1_000,
                        pd.Timestamp(r.session_end).value // 1_000,
                        int(r.n_events),
                    )
                )
        assert got_closed == [
            (u, s, e, c) for (u, s, e, c) in want_closed
        ], (tup, ts_us)
        assert st.updated == want_state, (tup, ts_us)
        assert st.timeout == max(want_timeout, 1), (tup, ts_us)
    # timeout path: emits the stored session and removes state
    st = FakeState((base, base + 5, 9), timed_out=True)
    got = list(_session_fn((7,), iter([]), st))
    assert st.removed and len(got) == 1
    row = got[0].iloc[0]
    assert (
        row["user_id"] == 7
        and pd.Timestamp(row["session_start"]) == _us_ts(base)
        and pd.Timestamp(row["session_end"]) == _us_ts(base + 5)
        and row["n_events"] == 9
    )


def test_lpa_min_struct_matches_window_semantics(spark):
    """r15 optimization pin: the LPA round's min(struct(-c, label))
    aggregation is the old row_number window's (c DESC, label ASC)
    rank-1 pick, with the count-0 self-row re-electing the current
    label for neighbor-less nodes. Hand graph with a frequency tie
    (node 4 sees labels 1 and 2 once each -> smallest label wins), a
    clear majority, and an isolated node."""
    from pandas_etl_framework_spark.graph import label_propagation

    edges = spark.createDataFrame(
        [
            (1, 4), (2, 4),          # tie at node 4: labels 1,2 -> 1
            (3, 5), (3, 6), (5, 6),  # 5,6 see {3,x} -> adopt 3
            (7, 8),                  # isolated pair adopts min
        ],
        ["u", "v"],
    )
    out = {
        (r["node"], r["label"])
        for r in label_propagation(edges, rounds=1).collect()
    }
    assert out == {
        (1, 4), (2, 4), (4, 1),   # 1,2 adopt their only neighbor 4
        (3, 5), (5, 3), (6, 3),
        (7, 8), (8, 7),
    }
