"""Change-data-capture operators: delta / insert / update / delete detection
and the append-only historization pipeline (the reference's LIVE path).

Joins are expressed directly as left_anti / left_semi — the reference writes
``LEFT JOIN ... WHERE b.KEY_HASH IS NULL`` (main.py:12) and ``NOT IN``
subqueries (SCDHelpers.py:154-156); Catalyst rewrites both to anti-joins,
so we declare the anti-join outright.

Scale posture: the delta join shuffles on KEY_HASH/RECORD_HASH (md5 hex —
uniformly distributed, so no skew by construction). The ``get_delta``
family takes no broadcast hint: AQE converts a join to a broadcast at
runtime when its build side is small, and an anti/semi join can only
broadcast its right (current-store) side. The current-store side should
be read column-pruned (io.read_current_hashes) — the delta check only
needs the two hash columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import KEY_HASH, RECORD_HASH
from .io import read_parquet_df, read_store, write_store
from .meta_columns import add_meta_columns, create_currents


def _require_hashes(*dfs: DataFrame) -> None:
    for df in dfs:
        missing = [c for c in (KEY_HASH, RECORD_HASH) if c not in df.columns]
        if missing:
            raise ValueError(
                f"DataFrame lacks meta columns {missing} — run add_meta_columns "
                f"first (columns present: {df.columns})"
            )


def get_delta(current_data: DataFrame, new_data: DataFrame) -> DataFrame:
    """Rows of ``new_data`` that are new keys OR changed records — i.e. not
    present in current as the exact (KEY_HASH, RECORD_HASH) pair.

    ref: main.py:12 (LIVE sqldf query) and MetaColumnHelpers.py:180-184.
    """
    _require_hashes(current_data, new_data)
    return new_data.join(
        current_data.select(KEY_HASH, RECORD_HASH),
        on=[KEY_HASH, RECORD_HASH],
        how="left_anti",
    )


def get_inserts(current_data: DataFrame, new_data: DataFrame) -> DataFrame:
    """Rows of ``new_data`` whose KEY_HASH is absent from current (new keys).

    ref: MetaColumnHelpers.py:194-196.
    """
    return new_data.join(
        current_data.select(KEY_HASH), on=[KEY_HASH], how="left_anti"
    )


def get_updates(current_data: DataFrame, new_data: DataFrame) -> DataFrame:
    """Rows of ``new_data`` with a matching KEY_HASH in current but a
    different RECORD_HASH (changed versions of known keys).

    ref: MetaColumnHelpers.py:206-209 (theta join). Expressed as an
    equi-semi-join on KEY_HASH with the non-equi residual
    (RECORD_HASH <>) as the join condition — Catalyst plans the equi part
    hash-partitioned and evaluates the residual post-probe, so this stays a
    hash join, not a nested loop.
    """
    cur = current_data.select(
        F.col(KEY_HASH).alias("__cur_kh"), F.col(RECORD_HASH).alias("__cur_rh")
    )
    return new_data.join(
        cur,
        on=(new_data[KEY_HASH] == cur["__cur_kh"])
        & (new_data[RECORD_HASH] != cur["__cur_rh"]),
        how="left_semi",
    )


def merge_cdc(
    current_df: DataFrame,
    new_df: DataFrame,
    key_columns: list[str],
    deleted_df: DataFrame | None = None,
) -> DataFrame:
    """Classic CDC upsert: (current ∖ deleted ∖ new-keys) ∪ new.

    ref: SCDHelpers.py:67-73 (COMMENTED). ``unionByName`` instead of the
    positional unionAll — column order must not matter.
    """
    res = current_df
    if deleted_df is not None:
        res = res.join(
            deleted_df.select(*key_columns), on=key_columns, how="left_anti"
        )
    res = res.join(new_df.select(*key_columns), on=key_columns, how="left_anti")
    return res.select(current_df.columns).unionByName(new_df.select(current_df.columns))


def get_deletes_by_column(
    df: DataFrame, del_col_name: str, del_col_value
) -> DataFrame:
    """Soft-delete detection: KEY_HASHes of rows flagged deleted.

    ref: SCDHelpers.py:233-235 — the reference collects a Python list via
    ``.rdd.flatMap``; at scale the hash set must stay distributed, so a
    one-column DataFrame is returned (collect at the call site if truly
    needed).
    """
    return df.filter(F.col(del_col_name) == F.lit(del_col_value)).select(KEY_HASH)


def get_deleted_by_full_load(current_df: DataFrame, new_df: DataFrame) -> DataFrame:
    """Keys present in current but physically absent from a full load.

    ref: SCDHelpers.py:246-266 — LEFT OUTER + IS NULL collapsed to a
    left_anti; returns a distributed one-column DataFrame instead of a
    collected list (SURVEY.md §2.3 J11).
    """
    return (
        current_df.select(KEY_HASH)
        .distinct()
        .join(new_df.select(KEY_HASH), on=[KEY_HASH], how="left_anti")
    )


def historize_append(
    spark: SparkSession,
    new_df: DataFrame,
    store_path: str,
    key_columns: list[str],
    currents: dict | None = None,
    record_hash_exclude_columns: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """One incremental load of the LIVE pipeline (ref: main.py:14-24):

    stamp meta columns → anti-join against the store's (KEY_HASH,
    RECORD_HASH) pairs → append survivors to the partitioned parquet store.

    Append-only insert∪update capture: the store accumulates every distinct
    (KEY_HASH, RECORD_HASH) version ever seen and never closes old versions
    (SURVEY.md §2.7). Replaying the same batch is a no-op (idempotent).

    Unlike the reference (which re-reads and fully rewrites the store each
    run, main.py:19-24), only the *delta* is appended and only the two hash
    columns of the store are read (column-pruned parquet scan).
    """
    currents = currents or create_currents()
    stamped = add_meta_columns(
        new_df, currents, key_columns, record_hash_exclude_columns
    )
    current = read_store(spark, store_path)
    delta = stamped if current is None else get_delta(current, stamped)
    write_store(delta, store_path, partition_by=partition_by, mode="append")


def simulate_runs(
    spark: SparkSession,
    run_batches: dict[str, DataFrame],
    store_path: str,
    key_columns: list[str],
    load_ts_by_run: dict[str, str] | None = None,
) -> DataFrame:
    """Run a sequence of loads through ``historize_append`` and return the
    final store. ref: main.py:26-34 — without the ``time.sleep(2)`` hack:
    distinct run ids come from explicit ``load_ts_by_run`` timestamps.
    """
    for run_name, batch in run_batches.items():
        load_ts = (load_ts_by_run or {}).get(run_name)
        historize_append(
            spark,
            batch,
            store_path,
            key_columns,
            currents=create_currents(load_ts),
        )
    # io.read_store restores INSERT_RUN_ID's declared string dtype after
    # hive-partition type inference reads the digit directory keys back
    # as BIGINT — shared with every other store consumer (ADVICE r04).
    return read_store(spark, store_path)
