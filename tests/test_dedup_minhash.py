"""MinHash-LSH near-dup candidates: the bucket cap and its accounting
report, the incremental batch-vs-corpus probe, and the sampled recall
report against pure-Python exact Jaccard."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_minhash_cap_drops_boilerplate_bucket_pairs_only(spark):
    """The capped band join must drop exactly the pairs whose ONLY shared
    buckets are saturated (the boilerplate cluster) and keep every other
    candidate pair."""
    from pandas_etl_framework_spark.llmops.dedup import (
        _BOILERPLATE_TEXT,
        MINHASH_CAP_DENOM,
        minhash_band_pairs,
        minhash_bands,
        minhash_bucket_report,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 4 == 0, F.lit(_BOILERPLATE_TEXT))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    cap = docs.count() // MINHASH_CAP_DENOM
    bands = minhash_bands(docs).localCheckpoint(eager=True)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_band_pairs(bands, bucket_cap=cap).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in minhash_band_pairs(bands).collect()
    }
    boiler = {
        r["doc_id"] for r in docs.filter(F.col("doc_id") % 4 == 0).collect()
    }
    # dropped pairs are exactly the boilerplate-boilerplate candidates
    dropped = uncapped - capped
    assert dropped and all(a in boiler and b in boiler for a, b in dropped)
    assert capped <= uncapped
    # and the report names the saturated buckets (one per band, all ~25%)
    rep = minhash_bucket_report(bands, bucket_cap=cap).collect()
    assert len(rep) == 4 and all(r["n_docs"] == len(boiler) for r in rep)


def test_incremental_minhash_candidates_match_full_join_restriction(spark):
    """batch-vs-corpus + batch-vs-batch candidates must be EXACTLY the
    full self-join's pairs that touch the batch — nothing lost by the
    split, no corpus-corpus pair leaking in."""
    from pandas_etl_framework_spark.llmops.dedup import (
        INCR_BATCH_SOURCE,
        incremental_minhash_candidates,
        minhash_band_pairs,
        minhash_bands,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bands = (
        minhash_bands(docs)
        .join(
            docs.select(
                "doc_id",
                (F.col("source") == INCR_BATCH_SOURCE).alias("is_new"),
            ),
            "doc_id",
        )
        .localCheckpoint(eager=True)
    )
    new_ids = {
        r["doc_id"] for r in bands.filter("is_new").select("doc_id").distinct().collect()
    }
    inc = incremental_minhash_candidates(
        bands.filter("is_new").drop("is_new"),
        bands.filter(~F.col("is_new")).drop("is_new"),
    ).collect()
    got = {(r["doc_new"], r["doc_other"], r["leg"]) for r in inc}
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_band_pairs(bands.drop("is_new")).collect()
    }
    want = set()
    for a, b in full:  # a < b by minhash_band_pairs' convention
        if a in new_ids and b in new_ids:
            # doc_new = the LATER doc, doc_other = the earlier it duplicates
            want.add((b, a, "batch"))
        elif a in new_ids:
            want.add((a, b, "corpus"))
        elif b in new_ids:
            want.add((b, a, "corpus"))
    assert got == want and got


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_minhash_recall_report_sampled_counts_match_references(spark):
    """sample_mod=2 restricts truth AND candidates to the even doc_ids:
    n_candidates equals the band-pair join over the sampled docs, n_true
    a pure-Python exact-Jaccard count over the same docs, and n_hits
    their intersection."""
    from pandas_etl_framework_spark.llmops.dedup import (
        JACCARD_T_DEN,
        JACCARD_T_NUM,
        minhash_band_pairs,
        minhash_bands,
        minhash_recall_report,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = {}
    for doc_id in range(40):
        if doc_id % 5 in (2, 3) and doc_id - 2 in texts:
            # planted near-dup of the doc two ids back (same sample
            # parity): one word replaced out of 30
            words = texts[doc_id - 2].split()
            words[rng.randrange(len(words))] = f"x{doc_id}"
        elif doc_id % 5 == 4:
            # planted near-dup of the previous doc (other parity): the
            # sample drops exactly one side of it
            words = texts[doc_id - 1].split()
            words[rng.randrange(len(words))] = f"y{doc_id}"
        else:
            words = [rng.choice(vocab) for _ in range(30)]
        texts[doc_id] = " ".join(words)
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )

    def truth(ids):
        sh = {d: _shingles(texts[d]) for d in ids}
        out = set()
        for a in ids:
            for b in ids:
                i = len(sh[a] & sh[b])
                if a < b and i and (
                    JACCARD_T_DEN * i
                    >= JACCARD_T_NUM * (len(sh[a]) + len(sh[b]) - i)
                ):
                    out.add((a, b))
        return out

    sampled = sorted(d for d in texts if d % 2 == 0)
    want_true = truth(sampled)
    # the planted pairs qualify, and sampling really removed some
    assert want_true and len(truth(sorted(texts))) > len(want_true)
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_band_pairs(
            minhash_bands(docs.filter(F.col("doc_id") % 2 == 0))
        ).collect()
    }
    rep = minhash_recall_report(spark, docs, sample_mod=2).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["n_candidates"] == len(cand)
    assert r["n_true"] == len(want_true)
    assert r["n_hits"] == len(want_true & cand)
    assert r["recall"] == r["n_hits"] / r["n_true"]
    assert r["precision"] == r["n_hits"] / r["n_candidates"]
