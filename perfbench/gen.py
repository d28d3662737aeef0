"""Seeded input generators and the pure-Python/numpy twins the benchmark
checks the engine against.

Everything here is plain numpy/pyarrow: no Spark. The engine only ever
receives the parquet files these generators write.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = datetime.date(2024, 1, 1)
_STATUSES = np.array(["O", "F", "P"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EPOCH_1992_US = 694224000 * 1_000_000


def load_ts(day: int) -> str:
    """Load timestamp of day ``day`` after DAY0 (one load per day)."""
    d = DAY0 + datetime.timedelta(days=day)
    return f"{d.isoformat()} 06:00:00"


def day_str(day: int) -> str:
    return (DAY0 + datetime.timedelta(days=day)).isoformat()


class OrdersFeed:
    """TPC-H-shaped ``orders`` source that changes once a day.

    The bootstrap is ``n_keys`` orders. Each daily delta reprices a
    sample of the loaded keys and adds fresh keys; it carries only the
    changed and the new rows. Prices only ever go up, so no delta row
    repeats an earlier (key, record) version: every delta row is a new
    version for both stores, and the expected store sizes follow from
    the counts alone.
    """

    def __init__(self, seed: int, n_keys: int, change_frac: float, new_frac: float):
        self.rng = np.random.default_rng(seed)
        self.n_changed = int(n_keys * change_frac)
        self.n_new = int(n_keys * new_frac)
        self.custkey = np.empty(0, np.int64)
        self.status = np.empty(0, np.int64)
        self.cents = np.empty(0, np.int64)
        self.orderdate = np.empty(0, np.int64)
        self.priority = np.empty(0, np.int64)
        self._grow(n_keys)
        self.loaded = 0          # keys in the stores
        self.changed_versions = 0  # versions closed by the SCD2 merges
        self.delta_rows = 0      # rows of all deltas handed out so far

    def _grow(self, n: int) -> None:
        r = self.rng
        self.custkey = np.concatenate([self.custkey, r.integers(1, 15_000, n)])
        self.status = np.concatenate([self.status, r.integers(0, 3, n)])
        self.cents = np.concatenate([self.cents, r.integers(90_000, 50_000_000, n)])
        self.orderdate = np.concatenate(
            [self.orderdate, r.integers(0, 2400, n) * 86_400_000_000 + _EPOCH_1992_US]
        )
        self.priority = np.concatenate([self.priority, r.integers(0, 5, n)])

    def _table(self, keys: np.ndarray) -> pa.Table:
        return pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(self.custkey[keys], pa.int64()),
                "o_orderstatus": pa.array(_STATUSES[self.status[keys]]),
                "o_totalprice": pa.array(self.cents[keys] / 100.0, pa.float64()),
                "o_orderdate": pa.array(self.orderdate[keys], pa.timestamp("us")),
                "o_orderpriority": pa.array(_PRIORITIES[self.priority[keys]]),
            }
        )

    def bootstrap(self, path: str) -> int:
        keys = np.arange(len(self.cents), dtype=np.int64)
        pq.write_table(self._table(keys), path)
        self.loaded = len(keys)
        return len(keys)

    def delta(self, path: str) -> int:
        """Write the next daily delta; returns its row count."""
        r = self.rng
        changed = np.sort(r.choice(self.loaded, self.n_changed, replace=False))
        self.cents[changed] += r.integers(1, 100_000, len(changed))
        start = len(self.cents)
        self._grow(self.n_new)
        new = np.arange(start, start + self.n_new, dtype=np.int64)
        keys = np.concatenate([changed, new])
        pq.write_table(self._table(keys), path)
        self.loaded += self.n_new
        self.changed_versions += len(changed)
        self.delta_rows += len(keys)
        return len(keys)


# --------------------------------------------------------------------------
# near-duplicate documents and the union-find twin
# --------------------------------------------------------------------------


def documents(
    seed: int,
    n_docs: int,
    length: int = 60,
    vocab: int = 5000,
    dup_frac: float = 0.4,
    n_sources: int = 4,
) -> pa.Table:
    """(doc_id, text, source, prio) documents of ``length`` random words.

    A ``dup_frac`` share of the documents copies a recent document with
    two words replaced, so near-duplicates form chains (a copy of a copy)
    and the connected-components fixpoint needs several rounds. ``prio``
    (lower is better) is the source's rank, as a curation policy would
    rank sources."""
    r = np.random.default_rng(seed)
    toks = r.integers(0, vocab, (n_docs, length))
    copy = r.random(n_docs) < dup_frac
    for d in np.flatnonzero(copy[1:]) + 1:
        toks[d] = toks[r.integers(max(0, d - 40), d)]
        toks[d, r.integers(0, length, 2)] = r.integers(0, vocab, 2)
    source = r.integers(0, n_sources, n_docs)
    words = np.char.add("w", np.arange(vocab).astype(str))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([" ".join(row) for row in words[toks]]),
            "source": pa.array(np.char.add("src", source.astype(str))),
            "prio": pa.array(source.astype(np.int32)),
        }
    )


def priority_keepers(
    doc_ids: list[int], prio: dict[int, int], pairs: list[tuple[int, int]]
) -> dict[int, int]:
    """doc_id -> keeper: union-find over the candidate pairs, keeper =
    min (prio, doc_id) of each component; docs in no pair keep
    themselves."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best: dict[int, tuple[int, int]] = {}
    for d in doc_ids:
        root = find(d)
        best[root] = min(best.get(root, (prio[d], d)), (prio[d], d))
    return {d: best[find(d)][1] for d in doc_ids}


# --------------------------------------------------------------------------
# clustered embeddings and the exact Lloyd twin
# --------------------------------------------------------------------------

DIM = 64


def embeddings(seed: int, n: int, n_centers: int = 8) -> np.ndarray:
    """float32 (n, DIM) vectors around ``n_centers`` random centres."""
    r = np.random.default_rng(seed)
    centers = r.normal(0.0, 0.3, (n_centers, DIM))
    x = centers[r.integers(0, n_centers, n)] + r.normal(0.0, 0.1, (n, DIM))
    return np.clip(x, -1.0, 1.0).astype(np.float32)


def write_embeddings(x: np.ndarray, path: str) -> None:
    flat = pa.array(x.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, DIM, dtype=np.int32))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(x), dtype=np.int64)),
                "embedding": pa.ListArray.from_arrays(offsets, flat),
            }
        ),
        path,
    )


def quantize(x: np.ndarray) -> np.ndarray:
    """round(x * 1e6) half away from zero, as Spark's ``round`` does."""
    y = x.astype(np.float64) * 1_000_000.0
    t = np.trunc(y)
    return (t + np.sign(y) * (np.abs(y - t) >= 0.5)).astype(np.int64)


def lloyd_assign(q: np.ndarray, k: int, iterations: int) -> np.ndarray:
    """Assignments of the engine's quantized Lloyd rounds, in exact int64:
    seeds are vectors 0..k-1, ties go to the lowest centroid id, the
    update is truncating integer division, empty clusters drop out, and
    the returned assignment is the last round's."""
    cids = np.arange(k)
    cent = q[:k].copy()
    assign = None
    for _ in range(iterations):
        d = (
            (q * q).sum(axis=1)[:, None]
            - 2 * (q @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        idx = np.argmin(d, axis=1)
        assign = cids[idx]
        keep = []
        new = []
        for j in range(len(cids)):
            members = q[idx == j]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                keep.append(cids[j])
                new.append(np.sign(s) * (np.abs(s) // n))
        cids = np.array(keep)
        cent = np.array(new)
    return assign
