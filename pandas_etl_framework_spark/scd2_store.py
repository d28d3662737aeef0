"""Scd2Store: an SCD2 dataset persisted hive-partitioned by row state
(``state=open`` / ``state=closed``) so incremental merges never rewrite the
accumulated history.

The reference rewrites its entire store every run (main.py:24); a full SCD2
store at 100 TB is overwhelmingly *closed* rows, which a merge can only ever
append to. Partitioning by state turns each merge into:

1. read ONLY the open partition (+ a column-pruned key scan of closed),
2. route via merge_scd2_open (one full-outer join),
3. append newly-closed rows to ``state=closed``,
4. dynamic-partition-overwrite ``state=open`` with the new open set.

I/O per merge is proportional to |open| + |batch|, not |history|. The merge
result is localCheckpoint-ed before writing because step 4 overwrites the
same files its own lineage reads — without truncation, block loss during
the write could silently recompute from a half-overwritten source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import KEY_HASH, SCD2_UPPER_BOUND, VALID_TO
from .io import read_parquet_df
from .meta_columns import create_currents
from .scd2 import get_valid_from_date, historize_dataset, merge_scd2_open

STATE_COL = "state"
STATE_OPEN = "open"
STATE_CLOSED = "closed"


class Scd2Store:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- reads -------------------------------------------------------------

    def _read_partition(self, state: str) -> DataFrame | None:
        return read_parquet_df(self.spark, f"{self.path}/{STATE_COL}={state}")

    def read(self) -> DataFrame | None:
        """Full store (open ∪ closed), without the physical state column."""
        open_df = self._read_partition(STATE_OPEN)
        closed_df = self._read_partition(STATE_CLOSED)
        if open_df is None:
            return closed_df
        if closed_df is None:
            return open_df
        return open_df.unionByName(closed_df)

    def read_active(self) -> DataFrame | None:
        return self._read_partition(STATE_OPEN)

    # -- merge -------------------------------------------------------------

    def merge(
        self,
        new_df: DataFrame,
        currents: dict | None = None,
        valid_from_mode: int = 2,  # VALID_FROM_MODE_LOAD_DATE
        valid_from_date: str | None = None,
    ) -> None:
        """One incremental SCD2 merge; ``new_df`` must be add_meta_columns
        output."""
        currents = currents or create_currents()
        open_df = self.read_active()
        upper = F.to_date(F.lit(SCD2_UPPER_BOUND))

        if open_df is None:
            merged = historize_dataset(
                new_df, None, currents, valid_from_mode, valid_from_date
            )
        else:
            closed_df = self._read_partition(STATE_CLOSED)
            closed_keys = (
                closed_df.select(KEY_HASH) if closed_df is not None else None
            )
            merged = merge_scd2_open(
                open_df,
                new_df,
                currents,
                valid_from_mode,
                valid_from_date,
                closed_keys=closed_keys,
            )

        # materialize + truncate lineage before touching the files it reads
        merged = merged.localCheckpoint(eager=True)
        newly_closed = merged.filter(F.col(VALID_TO) != upper)
        still_open = merged.filter(F.col(VALID_TO) == upper)

        newly_closed.write.mode("append").parquet(
            f"{self.path}/{STATE_COL}={STATE_CLOSED}"
        )
        still_open.write.mode("overwrite").parquet(
            f"{self.path}/{STATE_COL}={STATE_OPEN}"
        )

    # -- maintenance -------------------------------------------------------

    def compact_closed(self, target_files: int | None = None) -> None:
        """Closed-partition small-file compaction (appends accumulate one
        file-set per merge)."""
        from .scale import compact_store

        compact_store(
            self.spark,
            f"{self.path}/{STATE_COL}={STATE_CLOSED}",
            target_files=target_files,
        )
