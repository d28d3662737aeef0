"""The benchmark workloads.

Each workload owns its inputs and stores under a work directory and
exposes the same closed-loop protocol to ``run.py``:

- ``setup()``: generate the seeded inputs and bootstrap any store;
- ``prepare(i)``: write op ``i``'s input (client side, untimed);
- ``op(i, span)``: one timed op: calls into the package's public
  functions, each wrapped in ``span(name, i)``; returns its input rows;
- ``after(i)``: untimed bookkeeping for the traced run's counters;
- ``check(ops)``: correctness after the timed window; returns the ids
  of the ops whose outputs were wrong;
- ``layer_counts(i)`` and ``run_counts()``: the workload's own
  counters for the traced run, per op and per run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pandas_etl_framework_spark import cdc
from pandas_etl_framework_spark.llmops import clustering, dedup
from pandas_etl_framework_spark.meta_columns import add_meta_columns, create_currents
from pandas_etl_framework_spark.scd2 import snapshot_at
from pandas_etl_framework_spark.scd2_store import Scd2Store

from perfbench import gen


def dir_files(path: str) -> dict[str, int]:
    """path -> size of every visible file under ``path``."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith("."):
                full = os.path.join(root, f)
                out[full] = os.path.getsize(full)
    return out


class Scd2Daily:
    """The paper's pipeline: one daily delta of ``orders`` goes through
    the append-only CDC store, the SCD2 store, and an as-of read."""

    name = "scd2_daily"
    n_keys = 150_000  # the sf0.1 orders table
    change_frac = 1 / 15
    new_frac = 1 / 30
    keys = ["o_orderkey"]
    warmup_ops = 3

    def __init__(self, spark, workdir: str, seed: int, traced: bool):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.traced = traced
        self.expected_snapshot: dict[int, int] = {}
        self.snapshot: dict[int, int] = {}
        self.written: dict[int, tuple[int, int]] = {}
        self.input_bytes = 0

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def setup(self) -> None:
        self.feed = gen.OrdersFeed(self.seed, self.n_keys, self.change_frac, self.new_frac)
        self.cdc_path = self._path("cdc_store")
        self.store = Scd2Store(self.spark, self._path("scd2_store"))
        boot = self._path("orders_day0.parquet")
        self.boot_rows = self.feed.bootstrap(boot)
        self.input_bytes += os.path.getsize(boot)
        df = self.spark.read.parquet(boot)
        currents = create_currents(gen.load_ts(0))
        cdc.historize_append(self.spark, df, self.cdc_path, self.keys, currents=currents)
        self.store.merge(add_meta_columns(df, currents, self.keys), currents)

    def prepare(self, i: int) -> None:
        self.expected_snapshot[i] = self.feed.loaded
        self.delta_path = self._path(f"orders_day{i + 1}.parquet")
        self.delta_rows = self.feed.delta(self.delta_path)
        self.input_bytes += os.path.getsize(self.delta_path)
        if self.traced:
            self.before = self._store_files()

    def op(self, i: int, span) -> int:
        day = i + 1
        currents = create_currents(gen.load_ts(day))
        delta = self.spark.read.parquet(self.delta_path)
        with span("cdc.historize_append", i):
            cdc.historize_append(
                self.spark, delta, self.cdc_path, self.keys, currents=currents
            )
        with span("meta_columns.add_meta_columns", i):
            stamped = add_meta_columns(delta, currents, self.keys)
        with span("scd2_store.merge", i):
            self.store.merge(stamped, currents)
        with span("scd2.snapshot_read", i):
            self.snapshot[i] = snapshot_at(self.store.read(), gen.day_str(day - 1)).count()
        return self.delta_rows

    def after(self, i: int) -> None:
        """Files the op added or rewrote, listed outside its timer."""
        if self.traced:
            after = self._store_files()
            new = [p for p, size in after.items() if self.before.get(p) != size]
            self.written[i] = (len(new), sum(after[p] for p in new))

    def _store_files(self) -> dict[str, int]:
        return {**dir_files(self.cdc_path), **dir_files(self.store.path)}

    def check(self, ops: list[int]) -> set[int]:
        bad = {i for i in ops if self.snapshot.get(i) != self.expected_snapshot[i]}
        open_rows, open_keys = (
            self.store.read_active()
            .agg(F.count("*"), F.countDistinct("KEY_HASH"))
            .first()
        )
        closed = self.spark.read.parquet(f"{self.store.path}/state=closed").count()
        cdc_rows = self.spark.read.parquet(self.cdc_path).count()
        state_ok = (
            open_rows == open_keys == self.feed.loaded
            and closed == self.feed.changed_versions
            and cdc_rows == self.boot_rows + self.feed.delta_rows
        )
        return bad if state_ok else set(ops)

    def layer_counts(self, i: int) -> dict[str, float]:
        files, nbytes = self.written.get(i, (0, 0))
        return {"io.files_written_per_op": files, "io.bytes_written_per_op": nbytes}

    def run_counts(self) -> dict[str, float]:
        stored = sum(self._store_files().values())
        return {"io.store_bytes_per_input_byte": stored / self.input_bytes}


class DedupFixpoint:
    """Near-dup stage of a curation batch: a seeded half of a document
    corpus per op through MinHash LSH candidate pairs, the
    connected-components fixpoint and the priority keeper. About 50
    short jobs, so scheduling and the driver dominate."""

    n_docs = 1000

    def __init__(self, spark, workdir: str, seed: int, traced: bool):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.traced = traced
        self.summary: dict[int, tuple] = {}
        self.pairs: dict[int, int] = {}
        self.inputs: dict[int, np.ndarray] = {}
        self.keep_op: int | None = None  # the op whose outputs check() reads

    def _input(self, i: int) -> str:
        return os.path.join(self.dir, f"docs_op{i}.parquet")

    def setup(self) -> None:
        self.corpus = gen.documents(self.seed, self.n_docs)
        self.prio = dict(zip(self.corpus["doc_id"].to_pylist(), self.corpus["prio"].to_pylist()))

    def prepare(self, i: int) -> None:
        """Op ``i``'s input: a seeded half of the corpus."""
        r = np.random.default_rng([self.seed, i])
        ids = np.sort(r.choice(self.n_docs, self.n_docs // 2, replace=False))
        self.inputs[i] = ids
        pq.write_table(self.corpus.take(ids), self._input(i))

    def op(self, i: int, span) -> int:
        docs = self.spark.read.parquet(self._input(i))
        with span("dedup.minhash_band_pairs", i):
            self.candidates = dedup.minhash_band_pairs(dedup.minhash_bands(docs))
        with span("dedup.keeper", i):
            keep = dedup.dedup_keeper_by_priority(docs, self.candidates, F.col("prio"))
            self.summary[i] = self._summarize(keep)
        if i == self.keep_op:
            self.kept = (self.candidates, keep)
        return len(self.inputs[i])

    def after(self, i: int) -> None:
        if self.traced:  # outside the op, so outside its job groups too
            self.pairs[i] = self.candidates.count()

    @staticmethod
    def _summarize(keep) -> tuple:
        """(rows, keepers, distinct keeper ids, sum of keeper ids): the one
        job that materializes the keeper table."""
        return tuple(
            keep.agg(
                F.count("*"),
                F.sum(F.col("is_keeper").cast("long")),
                F.countDistinct("keeper_doc_id"),
                F.sum("keeper_doc_id"),
            ).first()
        )

    def check(self, ops: list[int]) -> set[int]:
        """Every op: one output row per input doc and exactly one keeper
        per component. On ``keep_op``, whose outputs were kept: every
        keeper equals the union-find twin's over its candidate pairs.
        Both are collected off the op's checkpoints, after the window."""
        half = self.n_docs // 2
        bad = {
            i for i in ops
            if self.summary[i][0] != half or self.summary[i][1] != self.summary[i][2]
        }
        if self.keep_op in ops:
            candidates, keep = self.kept
            got = {r.doc_id: r.keeper_doc_id for r in keep.collect()}
            want = gen.priority_keepers(
                self.inputs[self.keep_op].tolist(),
                self.prio,
                [(r.doc_a, r.doc_b) for r in candidates.collect()],
            )
            if got != want:
                bad.add(self.keep_op)
        return bad

    def layer_counts(self, i: int) -> dict[str, float]:
        rows, keepers = self.summary[i][:2]
        return {"dedup.candidate_pairs": self.pairs[i], "dedup.dup_docs": rows - keepers}

    def run_counts(self) -> dict[str, float]:
        pairs = sum(self.pairs.values())
        dups = sum(s[0] - s[1] for i, s in self.summary.items() if i in self.pairs)
        return {"dedup.dup_docs_per_candidate_pair": dups / pairs if pairs else 0.0}


class EmbLloyd:
    """Clustering stage of a curation batch: quantized Lloyd k-means
    over one of a few embedding sets per op. Every round sends every
    vector through the Arrow boundary into Python workers."""

    n_sets = 4
    n_vectors = 10_000
    k = 8
    iterations = 3

    def __init__(self, spark, workdir: str, seed: int, traced: bool):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.summary: dict[int, tuple] = {}
        self.keep_op: int | None = None  # the op whose outputs check() reads

    def _input(self, i: int) -> str:
        return os.path.join(self.dir, f"emb_{i % self.n_sets}.parquet")

    def setup(self) -> None:
        self.expected = []
        self.assign = []
        ids = np.arange(self.n_vectors, dtype=np.int64)
        for s in range(self.n_sets):
            x = gen.embeddings(self.seed * self.n_sets + s, self.n_vectors)
            gen.write_embeddings(x, self._input(s))
            a = gen.lloyd_assign(gen.quantize(x), self.k, self.iterations)
            self.assign.append(a)
            self.expected.append(
                (self.n_vectors, int(a.sum()), int((ids * (a + 1)).sum()))
            )

    def prepare(self, i: int) -> None:
        pass

    def after(self, i: int) -> None:
        pass

    def op(self, i: int, span) -> int:
        emb = self.spark.read.parquet(self._input(i))
        with span("clustering.kmeans_quantized", i):
            assign, _cent = clustering.kmeans_quantized(emb, self.k, self.iterations)
        with span("clustering.assign", i):
            self.summary[i] = self._summarize(assign)
        if i == self.keep_op:
            self.kept = assign
        return self.n_vectors

    @staticmethod
    def _summarize(assign) -> tuple:
        """(rows, sum of ids, id-weighted sum of ids): the one job that
        materializes the assignments."""
        return tuple(
            assign.agg(
                F.count("*"),
                F.sum("cid"),
                F.sum(F.col("vec_id") * (F.col("cid") + 1)),
            ).first()
        )

    def check(self, ops: list[int]) -> set[int]:
        """Every op's summary against the numpy twin's; on ``keep_op``,
        whose assignments were kept, every vector's cluster against the
        twin itself, collected after the window."""
        bad = {i for i in ops if self.summary[i] != self.expected[i % self.n_sets]}
        if self.keep_op in ops:
            got = np.full(self.n_vectors, -1, dtype=np.int64)
            for r in self.kept.collect():
                got[r.vec_id] = r.cid
            if not np.array_equal(got, self.assign[self.keep_op % self.n_sets]):
                bad.add(self.keep_op)
        return bad

    def layer_counts(self, i: int) -> dict[str, float]:
        return {}

    def run_counts(self) -> dict[str, float]:
        return {}


class Curation:
    """One LLM-curation batch per op: the near-dup pass over a document
    batch, then k-means over an embedding set. The two stages stress
    different layers (scheduling and the driver; the Python boundary)
    and share one warm JVM."""

    name = "curation"
    # the near-dup stage's driver code plateaus after about five ops
    # (perfbench/README.md, "Warm-up")
    warmup_ops = 7

    def __init__(self, spark, workdir: str, seed: int, traced: bool):
        self.stages = (
            DedupFixpoint(spark, workdir, seed, traced),
            EmbLloyd(spark, workdir, seed, traced),
        )
        for s in self.stages:
            s.keep_op = self.warmup_ops  # the first timed op

    def setup(self) -> None:
        for s in self.stages:
            s.setup()

    def prepare(self, i: int) -> None:
        for s in self.stages:
            s.prepare(i)

    def op(self, i: int, span) -> int:
        return sum(s.op(i, span) for s in self.stages)

    def after(self, i: int) -> None:
        for s in self.stages:
            s.after(i)

    def check(self, ops: list[int]) -> set[int]:
        return set().union(*(s.check(ops) for s in self.stages))

    def layer_counts(self, i: int) -> dict[str, float]:
        return {k: v for s in self.stages for k, v in s.layer_counts(i).items()}

    def run_counts(self) -> dict[str, float]:
        return {k: v for s in self.stages for k, v in s.run_counts().items()}


WORKLOADS = {w.name: w for w in (Scd2Daily, Curation)}
