"""Deduplication operators for training-data pipelines over ``documents``.

Four families, each scale-minded:
- exact:       hash-groupBy (one shuffle on a 16-byte key, partial-agg)
- minhash LSH: shingle -> k minhashes -> b bands -> bucket self-join; only
               same-bucket pairs are candidates (no O(n^2))
- simhash:     64-bit signature, banded hamming join
- ngram jaccard: exact set-overlap join for candidate verification —
               pure SQL (posexplode + groupBy), no UDF

At 100 TB the LSH band join is the scale path: bucket keys are
(band_id, band_hash), so the shuffle is uniform unless a bucket is hot —
callers can salt by appending ``pmod(xxhash64(doc_id), s)`` for pathological
corpora (boilerplate-heavy crawls).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: fingerprint -> canonical id + count."""
    return (
        df.withColumn("fp", F.md5(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _shingle_hashes(text: str, shingle: int) -> np.ndarray:
    """Stable 61-bit base hashes of character shingles (polynomial rolling
    hash, no Python ``hash`` — must be deterministic across workers)."""
    s = text.lower()
    if len(s) < shingle:
        s = s + " " * (shingle - len(s))
    b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.uint64)
    n = len(b) - shingle + 1
    if n <= 0:
        n, b = 1, np.resize(b, shingle)
    # vectorized polynomial rolling hash over shingle windows
    base = np.uint64(1099511628211)
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(shingle):
        acc = acc * base + b[j : j + n]
    return np.unique(acc & np.uint64(_MERSENNE))


def _shingle_hashes_batch(texts, shingle: int) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes for a WHOLE batch of documents in one vectorized
    pass: every doc's bytes go into one concatenated uint8 buffer, the
    polynomial rolling hash runs over the full buffer (``shingle``
    vectorized ops total, instead of ``shingle`` per doc), and windows
    that cross a doc boundary are masked out via per-doc offsets. This is
    the 100 TB dedup hot loop — per-doc Python overhead is the cost that
    multiplies by 10^12.

    Returns (hashes, starts): ``hashes`` is the concatenation of each
    doc's sorted-unique shingle hashes, ``starts`` (len = n_docs) the
    start offset of each doc's slice — the reduceat boundaries for the
    signature kernels. Values are identical to ``_shingle_hashes`` per doc
    (pinned by test)."""
    if len(texts) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    encs = []
    for t in texts:
        s = (t or "").lower()
        if len(s) < shingle:
            s = s + " " * (shingle - len(s))
        e = s.encode("utf-8", "ignore")
        if len(e) < shingle:
            # multibyte truncation edge: mirror np.resize(b, shingle)
            e = (e * shingle)[:shingle] if e else b"\x00" * shingle
        encs.append(e)
    n_docs = len(encs)
    lens = np.fromiter((len(e) for e in encs), dtype=np.int64, count=n_docs)
    buf = np.frombuffer(b"".join(encs), dtype=np.uint8).astype(np.uint64)
    n_total = len(buf) - shingle + 1
    base = np.uint64(1099511628211)
    # in-place accumulation (r06): the a*base+b form allocated a fresh
    # n_total temporary per shingle byte — 2 allocs+copies x shingle;
    # identical values, ~40% less rolling-hash time
    acc = buf[0:n_total].copy()
    for j in range(1, shingle):
        acc *= base
        acc += buf[j : j + n_total]
    acc &= np.uint64(_MERSENNE)
    doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # valid window-start positions: those whose whole window stays inside
    # one doc. Rather than materializing per-byte doc_of/pos_in_doc int64
    # arrays (~16 bytes of intermediate per input text byte — an OOM
    # hazard on 100KB+ docs, ADVICE r03), the invalid positions are
    # exactly the (shingle-1)-byte zones straddling each interior doc
    # boundary: O(n_docs * shingle) indices, not O(total_bytes) arrays.
    valid = np.ones(n_total, dtype=bool)
    if n_docs > 1 and shingle > 1:
        zone = (doc_starts[1:, None]
                + np.arange(-shingle + 1, 0, dtype=np.int64)[None, :]).ravel()
        zone = zone[(zone >= 0) & (zone < n_total)]
        valid[zone] = False
    vh = acc[valid]
    # every doc is padded to >= shingle bytes, so doc d owns exactly
    # lens[d]-shingle+1 valid windows, in position order (doc-major).
    # Sort WITHIN each doc segment in place (r06): the rows are already
    # doc-major, so the old global lexsort((vh, vd)) re-derived an order
    # we already had at O(n log n) over the whole batch — per-segment
    # introsort of the same data is ~10x faster and yields the identical
    # (doc-major, hash-ascending) order (pinned bit-identical by
    # tests/test_dedup_batch.py).
    seg_lens = lens - shingle + 1
    seg_starts = np.concatenate(([0], np.cumsum(seg_lens)[:-1]))
    for i in range(n_docs):
        vh[seg_starts[i] : seg_starts[i] + seg_lens[i]].sort()
    keep = np.empty(len(vh), dtype=bool)
    if len(vh):
        keep[0] = True
        keep[1:] = vh[1:] != vh[:-1]
        keep[seg_starts] = True  # segment firsts always kept (doc change)
    hashes = vh[keep]
    vd = np.repeat(np.arange(n_docs, dtype=np.int32), seg_lens)
    counts = np.bincount(vd[keep], minlength=n_docs)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return hashes, starts


def _rebatch(batches, target_rows: int, text_col: str | None = None,
             target_bytes: int = 32 << 20):
    """Coalesce Arrow batches to ~target_rows before the kernel: the
    session default (512-row batches, tuned for the rollup scan's JVM
    allocation profile) is too fine for text kernels whose per-batch
    setup cost amortizes over rows. Per-operator batch sizing without
    touching session conf.

    When ``text_col`` is given, the coalescing is ALSO bounded by
    accumulated text bytes (ADVICE r03): the shingle kernel's transient
    numpy intermediates are a small multiple of the batch's total text
    size, so a row-count-only budget balloons on long documents (4096 x
    100KB web docs = 400MB text per batch). Oversized *incoming* batches
    are split on cumulative bytes too — a single 512-row Arrow batch of
    1MB docs must not reach the kernel whole."""
    buf, rows, byt = [], 0, 0

    def _pieces(pdf):
        if text_col is None:
            yield pdf, 0
            return
        # UTF-8 BYTES, not characters: the shingle kernel allocates over
        # encoded buffers, and CJK/emoji text is 3-4 bytes per char — a
        # char-counted budget would admit ~4x the intended bytes
        sizes = (pdf[text_col].str.encode("utf-8").str.len()
                 .fillna(0).to_numpy(np.int64))
        cs = sizes.cumsum()
        total = int(cs[-1]) if len(cs) else 0
        if total <= target_bytes or len(pdf) == 1:
            yield pdf, total
            return
        start = 0
        while start < len(pdf):
            base = int(cs[start - 1]) if start else 0
            end = int(np.searchsorted(cs, base + target_bytes, side="right"))
            end = min(max(end, start + 1), len(pdf))
            yield pdf.iloc[start:end], int(cs[end - 1]) - base
            start = end

    for incoming in batches:
        for piece, pb in _pieces(incoming):
            buf.append(piece)
            rows += len(piece)
            byt += pb
            if rows >= target_rows or (text_col is not None and byt >= target_bytes):
                yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0].reset_index(drop=True)
                buf, rows, byt = [], 0, 0
    if buf:
        yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0].reset_index(drop=True)


def _doc_chunks(hashes: np.ndarray, starts: np.ndarray, chunk_hashes: int):
    """Doc-aligned chunks of a batch's concatenated shingle hashes, each
    ~``chunk_hashes`` long (a single doc may exceed it), so the kernels'
    working matrix stays cache-resident and reduceat boundaries stay
    in-chunk. Yields (lo, hi, hs, offs): docs lo..hi-1, their hashes, and
    each doc's start offset into ``hs``."""
    n_docs = len(starts)
    ends = np.append(starts[1:], len(hashes))
    lo = 0
    while lo < n_docs:
        hi = lo + 1
        while hi < n_docs and ends[hi - 1] - starts[lo] < chunk_hashes:
            hi += 1
        yield lo, hi, hashes[starts[lo] : ends[hi - 1]], starts[lo:hi] - starts[lo]
        lo = hi


def _map_shingle_kernel(df: DataFrame, text_col: str, id_col: str, shingle: int,
                        batch_rows: int, out_col: str, out_type: str, kernel) -> DataFrame:
    """(id_col, out_col) via one mapInPandas: each rebatched slice's
    shingle hashes go through ``kernel(hashes, starts)``, which returns
    the per-doc ``out_col`` values. The id column passes through with the
    type it has in ``df`` (any type; the kernel never inspects it)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rebatch(batches, batch_rows, text_col=text_col):
            hashes, starts = _shingle_hashes_batch(pdf[text_col], shingle)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: kernel(hashes, starts)})

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, {out_col} {out_type}")


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 64, shingle: int = 5, seed: int = 42,
                       batch_rows: int = 4096, chunk_hashes: int = 16384) -> DataFrame:
    """(doc_id, sig: array<long>) — k-permutation minhash via universal
    hashing ((a*x+b) mod p), vectorized NumPy inside mapInPandas.

    Fully batch-vectorized: shingle hashing runs over one concatenated
    buffer per ~``batch_rows``-doc batch and the k x n_hashes universal-
    hash matrix reduces to per-doc minima with ``np.minimum.reduceat`` —
    no per-doc Python in the loop. ``chunk_hashes`` keeps the working
    matrix cache-resident (k * chunk u64 = 8 MB at the defaults — an
    order-of-magnitude win over a memory-bandwidth-bound monolithic
    matrix, measured in tests/test_dedup.py's micro-bench).

    The id column keeps its input type, e.g. ``array<string>`` member ids
    when the caller pre-groups identical texts."""
    rng = np.random.default_rng(seed)
    A = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    B = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)

    def kernel(hashes: np.ndarray, starts: np.ndarray) -> list:
        mins = np.empty((num_hashes, len(starts)), dtype=np.uint64)
        for lo, hi, hs, offs in _doc_chunks(hashes, starts, chunk_hashes):
            H = (A[:, None] * hs[None, :] + B[:, None]) % np.uint64(_MERSENNE)
            mins[:, lo:hi] = np.minimum.reduceat(H, offs, axis=1)
        sig64 = mins.astype(np.int64)
        return [sig64[:, i] for i in range(len(starts))]

    return _map_shingle_kernel(df, text_col, id_col, shingle, batch_rows,
                               "sig", "array<long>", kernel)


def _per_doc_signatures(df: DataFrame, text_col: str, id_col: str, signatures) -> DataFrame:
    """Per-doc signature table with the kernel run once per UNIQUE text
    (r06): identical texts get identical signatures by construction, so
    ``signatures(reps, text_col, "_ids")`` computes over one md5-group
    representative and the per-doc rows come from exploding the group's
    member ids — no rejoin at all. Signature values are bit-identical per
    doc; on any corpus with exact re-posts (boilerplate crawls; the
    doubled oracle corpus) this halves the kernel cost. NULL texts form
    one group whose kernel text is "" (as ``exact_dedup`` groups them).

    The member ids ride the groupBy as collect_list (the shuffle already
    carries the text, the id list is tiny next to it). F.first(text) is
    deterministic because every row of a group carries the identical text
    (same md5 preimage); list order is irrelevant (explode emits all).

    EAGER localCheckpoint: the pair operators consume the table several
    times (band self-join sides, signature rejoins) and Spark submits
    those leaf stages CONCURRENTLY — against a lazy plan each raced to
    recompute the whole signature scan (observed ~4x the kernel cost).
    One job instead of cache+count's two, and the blocks free when the
    plan is GC'd. Trade-off: checkpoint blocks are not recomputable on
    executor loss — the query fails and retries whole."""
    reps = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("_fp", F.md5(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.first(text_col).alias(text_col), F.collect_list(id_col).alias("_ids"))
    )
    rep_sig = signatures(reps, text_col, "_ids")
    sig_cols = [c for c in rep_sig.columns if c != "_ids"]
    return rep_sig.select(F.explode("_ids").alias(id_col), *sig_cols).localCheckpoint()


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, bands: int = 16, shingle: int = 5,
                      seed: int = 42) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + estimated jaccard
    (fraction of agreeing minhashes). Returns (id_a, id_b, est_jaccard).

    Signatures come from ``_per_doc_signatures`` (kernel once per unique
    text), so the emitted pairs are value-identical to the per-doc
    formulation (pinned by
    tests/test_dedup_batch.py::test_minhash_pairs_match_per_doc_reference).
    Banding deliberately stays PER DOC: a rep-level band join with
    post-hoc pair expansion was measured 4x SLOWER on the gate query
    because caller predicates on the pair ids (the planted-relation
    filter) can push into a per-doc band join as a join condition but
    cannot cross the expansion joins — enumerating the corpus's full
    24M-pair natural candidate space that the pushed filter otherwise
    prunes at the probe."""
    rows = num_hashes // bands
    sig = _per_doc_signatures(df, text_col, id_col, partial(
        minhash_signatures, num_hashes=num_hashes, shingle=shingle, seed=seed))
    # band the ids ONLY: the self-join + distinct then shuffle narrow
    # (id, band) rows, not 64-long signature arrays — the wide sig columns
    # rejoin AFTER dedup, touching each surviving pair once
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.hash(F.slice("sig", i * rows + 1, rows)).alias(f"b{i}") for i in range(bands)])
        ).alias("band_id", "band_hash"),
    )
    # shuffle_hash hints (r06): with the signature cache materialized,
    # Catalyst's size estimates put BOTH the banded side and the sig
    # rejoins under the broadcast threshold — four ~30-50MB broadcast
    # builds whose transient hash relations drove the join stage to ~50%
    # JVM GC time. Hinted shuffled-hash joins partition narrow keys
    # instead (interleaved A/B at sf1.0: min 6.9s vs 7.4s, and no
    # multi-GB driver relation at corpus scale where neither side is
    # broadcastable anyway — guide §3.1).
    cand = (
        banded.alias("l")
        .join(banded.alias("r").hint("shuffle_hash"), ["band_id", "band_hash"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
                  .hint("shuffle_hash"), "id_a")
        .join(sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
              .hint("shuffle_hash"), "id_b")
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return pairs.select("id_a", "id_b", (agree / F.lit(num_hashes)).cast("double").alias("est_jaccard"))


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       shingle: int = 4, batch_rows: int = 4096,
                       chunk_hashes: int = 16384) -> DataFrame:
    """64-bit SimHash over character shingles (sign of per-bit vote).
    Batch-vectorized like ``minhash_signatures``: per-bit votes for every
    doc in the batch come from one ``np.add.reduceat`` over the
    concatenated hash buffer. The id column keeps its input type."""
    bit_idx = np.arange(64, dtype=np.uint64)

    def kernel(hashes: np.ndarray, starts: np.ndarray) -> np.ndarray:
        votes = np.empty((len(starts), 64), dtype=np.int64)
        for lo, hi, hs, offs in _doc_chunks(hashes, starts, chunk_hashes):
            # spread 61-bit hashes to 64 bits deterministically
            h64 = hs * np.uint64(0x9E3779B97F4A7C15)
            bits = ((h64[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
            votes[lo:hi] = np.add.reduceat(2 * bits - 1, offs, axis=0)
        return ((votes > 0).astype(np.uint64) << bit_idx[None, :]).sum(
            axis=1, dtype=np.uint64).astype(np.int64)

    return _map_shingle_kernel(df, text_col, id_col, shingle, batch_rows,
                               "simhash", "long", kernel)


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via 4x16-bit
    banding (any identical band => candidate; guarantees recall for
    distance <= 3). Signatures from ``_per_doc_signatures``, like
    ``minhash_lsh_pairs``."""
    sig = _per_doc_signatures(df, text_col, id_col, simhash_signatures)
    banded = sig.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias(f"c{i}")
            for i in range(4)
        ])).alias("band_id", "band_val"),
    )
    pairs = (
        banded.alias("l").join(banded.alias("r"), ["band_id", "band_val"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.simhash").alias("sa"), F.col("r.simhash").alias("sb"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return pairs.select("id_a", "id_b", ham.alias("hamming")).where(F.col("hamming") <= max_hamming)


def _word_ngrams(text_col: str, n: int):
    """array<string> Column of the distinct word n-grams of ``text_col``
    (lower-cased, whitespace-split; a text shorter than n words yields
    itself as its one gram)."""
    words = F.split(F.lower(F.col(text_col)), "\\s+")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, block_cols: list[str] | None = None,
                        min_jaccard: float = 0.0, max_df: int | None = 10_000) -> DataFrame:
    """EXACT word-n-gram jaccard between documents sharing a block key —
    pure SQL (explode + self-join + groupBy), no UDF, so it has a clean
    DuckDB oracle. Block on e.g. ['lang'] to bound the pair count.

    ``max_df`` bounds the posting list of any single gram: the self-join is
    quadratic in per-gram document frequency, so one boilerplate trigram
    ("of the and") with 1M postings would emit 5e11 rows. Grams with
    df > max_df are dropped from the gram UNIVERSE (both the shared count
    and the per-doc sizes), giving an exact jaccard over the informative
    grams; when no gram exceeds the cap the result is the plain exact
    jaccard. Pass max_df=None for the uncapped exact semantics."""
    base_cols = [id_col] + (block_cols or [])
    join_keys = ["gram"] + (block_cols or [])
    g = df.select(*base_cols, _word_ngrams(text_col, n).alias("grams"))
    ex = g.select(*base_cols, F.explode("grams").alias("gram"))
    if max_df is not None:
        # document frequency per (gram, block); partial-aggregated groupBy,
        # then an equi-join back on the same key Catalyst co-partitions with
        # the pair self-join below
        dfreq = ex.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
        ex = ex.join(dfreq.where(F.col("_df") <= max_df).select(*join_keys), join_keys)
    # per-doc gram counts AFTER the cap so union sizes match the capped universe
    counts = ex.groupBy(*base_cols).agg(F.count(F.lit(1)).alias("n_grams"))
    ex = ex.join(counts, base_cols)
    shared = (
        ex.alias("l").join(ex.alias("r"), join_keys)
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"),
                 F.col("l.n_grams").alias("na"), F.col("r.n_grams").alias("nb"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return shared.select("id_a", "id_b", jac.alias("jaccard")).where(F.col("jaccard") >= min_jaccard)


def near_dup_pipeline(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, bands: int = 16, shingle: int = 5,
                      min_est: float = 0.4, min_jaccard: float = 0.6,
                      ngram: int = 3, seed: int = 42) -> DataFrame:
    """The 100 TB near-dup recipe end-to-end: minhash LSH generates
    candidates (sub-quadratic), an est_jaccard prefilter trims them, then
    EXACT word-n-gram jaccard reranks only the surviving pairs (the
    verify step never sees the quadratic pair space).

    Returns (id_a, id_b, est_jaccard, jaccard) with jaccard >= min_jaccard.
    """
    cands = minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, shingle, seed)
    cands = cands.where(F.col("est_jaccard") >= min_est)
    g = df.select(F.col(id_col), _word_ngrams(text_col, ngram).alias("grams"))
    pairs = (
        cands.join(g.withColumnRenamed(id_col, "id_a").withColumnRenamed("grams", "ga"), "id_a")
        .join(g.withColumnRenamed(id_col, "id_b").withColumnRenamed("grams", "gb"), "id_b")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    jac = inter / union
    return pairs.select("id_a", "id_b", "est_jaccard", jac.alias("jaccard")).where(
        F.col("jaccard") >= min_jaccard
    )


def embedding_dup_pairs(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
                        threshold: float = 0.95, block_bits: int = 8, seed: int = 42,
                        dim: int | None = None) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    DEFAULT is the scale path: ``block_bits`` hyperplane-LSH buckets and a
    bucket-equi-join, so the pair space is sum of per-bucket squares, never
    the global crossJoin (near-dup vectors land in the same bucket with
    high probability; recall < 1 by construction — raise block_bits for
    smaller buckets / lower recall, or multi-probe upstream).
    ``block_bits=0`` opts INTO the exact all-pairs crossJoin — test/oracle
    mode only; at 100 TB that plan is quadratic and must not be default.
    Pass ``dim`` to keep the builder action-free (else a one-row probe)."""
    from .similarity import cosine_expr, hyperplane_bucket

    d = df.select(F.col(id_col), F.col(vec_col))
    if block_bits > 0:
        dim = dim if dim is not None else _dim_of(df, vec_col)
        d = d.withColumn("_bkt", hyperplane_bucket(vec_col, block_bits, seed, dim))
        l, r = d.alias("l"), d.alias("r")
        pairs = l.join(r, F.col("l._bkt") == F.col("r._bkt"))
    else:
        l, r = d.alias("l"), d.alias("r")
        pairs = l.crossJoin(r)
    pairs = pairs.where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    cos = cosine_expr(f"l.{vec_col}", f"r.{vec_col}")
    return pairs.select(
        F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"), cos.alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def _dim_of(df: DataFrame, vec_col: str) -> int:
    return len(df.select(vec_col).first()[0])
