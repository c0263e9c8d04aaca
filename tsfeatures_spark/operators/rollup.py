"""Tier-cascade rollup: raw -> 1m -> 1h -> 1d continuous aggregates.

The engine's throughput core. Each input row is one whole series
(doc_id, tokens:array<int32>) — self-contained — so the entire cascade is a
single ``mapInPandas`` scan with ZERO shuffle: no Exchange appears in the
physical plan (the reference pays one process-pool task per series,
tsfeatures.py:970-971; we pay one Arrow batch per the session's
``maxRecordsPerBatch``, 512 rows).

Per (doc, tier-window) we emit:
- algebraic state: n, total_sum, vmin, vmax, mean, m2 (Chan-mergeable)
- holistic north-star features (BASELINE.json): x_acf1, x_acf10,
  crossing_points, flat_spots, entropy, stability, lumpiness — computed
  from raw, vectorized ACROSS windows (one rfft / one median call per doc
  per tier, not per window)
- a compressed block: 1m = lossless delta-of-delta of the window's raw
  tokens (token-array equality invariant); 1h/1d = Gorilla-XOR of the
  child tier's per-window means (the downsampled series), plus sha256
  digest for the lineage table.

``merge_algebraic`` re-derives a higher tier's algebraic columns from the
stored lower tier with PURE Spark SQL (no UDF): Chan/parallel-variance
combine — this is the incremental-maintenance path a 10^12-row deployment
uses so raw data is touched exactly once.

Feature parity: each per-window value equals
``kernels.compute_features(window_tokens, freq=1, scale=False)`` — pinned
by tests/test_rollup.py against the NumPy kernels directly.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import numpy as np
import pandas as pd

from ..compression.gorilla import xor_encode_windows
from ..compression.delta import dod_encode_windows
from ..kernels import stats as _st

TIERS = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "1h", "1d"]

HOLISTIC_FIELDS = [
    "x_acf1", "x_acf10", "crossing_points", "flat_spots", "entropy",
    "stability", "lumpiness",
]

ROLLUP_SCHEMA = (
    "tier string, doc_id string, source string, window_id long, n int, "
    "total_sum double, vmin double, vmax double, mean double, m2 double, "
    "variance double, x_acf1 double, x_acf10 double, crossing_points double, "
    "flat_spots double, entropy double, stability double, lumpiness double, "
    "block binary, block_digest string"
)


def _xlogx2(p: np.ndarray) -> np.ndarray:
    out = np.zeros_like(p)
    nz = p > 0
    out[nz] = p[nz] * np.log2(p[nz])
    return out


def window_features_matrix(X: np.ndarray) -> dict:
    """North-star features for every row of X (nw windows x W ticks),
    vectorized across windows. Exactly matches the per-window kernels
    (freq=1, scale=False)."""
    X = np.asarray(X, dtype=np.float64)
    nw, W = X.shape
    out: dict = {}
    s = X.sum(axis=1)
    mean = s / W
    xd = X - mean[:, None]
    m2 = (xd * xd).sum(axis=1)
    out["n"] = np.full(nw, W, dtype=np.int32)
    out["total_sum"] = s
    out["vmin"] = X.min(axis=1)
    out["vmax"] = X.max(axis=1)
    out["mean"] = mean
    out["m2"] = m2
    with np.errstate(divide="ignore", invalid="ignore"):
        out["variance"] = m2 / (W - 1)
        # --- biased ACF lags 1..10 (statsmodels acf fft=False parity)
        denom = m2.copy()
        denom[denom == 0] = np.nan
        acfs = np.empty((10, nw))
        for k in range(1, 11):
            acfs[k - 1] = (xd[:, :-k] * xd[:, k:]).sum(axis=1) / denom
        out["x_acf1"] = acfs[0]
        out["x_acf10"] = (acfs**2).sum(axis=0) if W > 10 else np.full(nw, np.nan)
        # --- crossing_points (median crossings)
        med = np.median(X, axis=1)
        ab = X <= med[:, None]
        out["crossing_points"] = (ab[:, 1:] ^ ab[:, :-1]).sum(axis=1).astype(float)
        # --- flat_spots: pd.cut(bins=10, include_lowest=True) semantics
        lo = out["vmin"]
        hi = out["vmax"]
        rngv = hi - lo
        # pd.cut: equal min/max -> range padded by .1% each side (or ±.001)
        adj_eq = np.where(lo == 0, 0.001, np.abs(lo) * 0.001)
        lo_e = np.where(rngv == 0, lo - adj_eq, lo)
        hi_e = np.where(rngv == 0, hi + adj_eq, hi)
        edges = lo_e[:, None] + (hi_e - lo_e)[:, None] * (np.arange(11) / 10.0)
        edges[:, 0] -= (hi_e - lo_e) * 0.001  # left edge pushed out (right-closed bins)
        # accumulate the 11 edge comparisons in-place (identical values to
        # the (nw, W, 11) broadcast + sum, but no 3D temp — measured 4x)
        acc_codes = np.zeros((nw, W), dtype=np.int8)
        for k in range(11):
            acc_codes += X > edges[:, k][:, None]
        codes = np.clip(acc_codes - 1, 0, 9)
        # max run length per row, vectorized: change positions on the
        # flattened code matrix (row boundaries forced to change), runs =
        # diff of change positions, per-row max via maximum.reduceat
        flat = codes.ravel()
        chg = np.empty(nw * W, dtype=bool)
        chg[0] = True
        chg[1:] = flat[1:] != flat[:-1]
        chg[::W] = True
        pos = np.flatnonzero(chg)
        runs = np.diff(np.append(pos, nw * W))
        row_of_run = pos // W
        first_run_of_row = np.searchsorted(row_of_run, np.arange(nw))
        out["flat_spots"] = np.maximum.reduceat(runs, first_run_of_row).astype(float)
        # --- spectral entropy (antropy/scipy periodogram parity)
        spec = np.abs(np.fft.rfft(xd, axis=1)) ** 2 / W
        if W % 2 == 0:
            spec[:, 1:-1] *= 2.0
        else:
            spec[:, 1:] *= 2.0
        tot = spec.sum(axis=1, keepdims=True)
        dead = ~(tot[:, 0] > 0)  # constant window -> nan (kernel parity)
        tot[dead] = np.nan
        p = spec / tot
        ent = -_xlogx2(p).sum(axis=1) / np.log2(p.shape[1])
        ent[dead] = np.nan
        out["entropy"] = ent
        # --- stability / lumpiness (freq=1 -> width 10; W % 10 == 0 for all tiers)
        assert W % 10 == 0
        tiles = X.reshape(nw, W // 10, 10)
        tmean = tiles.mean(axis=2)
        tvar = tiles.var(axis=2, ddof=1)
        out["stability"] = tmean.var(axis=1, ddof=1)
        out["lumpiness"] = tvar.var(axis=1, ddof=1)
    return out


def _partial_window_row(xw: np.ndarray) -> dict:
    """Trailing partial window (n >= 1, finite values — token arrays cast
    to float), fused: ONE demean pass shared by variance / ACF / spectral
    entropy, ONE tile reshape shared by stability / lumpiness, pd.cut
    decile codes inline. Value-identical to the per-kernel path
    (crossing_points / flat_spots / entropy / stability / lumpiness +
    acf_biased — formulas mirrored term for term; pinned by
    test_partial_window_row_matches_kernels and
    test_rollup_doc_parity_and_blocks). The per-kernel version re-scanned
    the window ~5x and its numpy dispatch overhead dominated the cascade's
    partial-row cost at 1m-tail sizes (~0.35 ms/call -> fused ~0.1)."""
    n = len(xw)
    with np.errstate(all="ignore"):
        m = float(np.mean(xw))
        xd = xw - m
        m2 = float((xd * xd).sum())
        var = m2 / (n - 1) if n > 1 else float("nan")
        # --- ACF lags 1..10 (acf_biased parity: denom = dot(xd, xd))
        x_acf1 = x_acf10 = float("nan")
        if n > 1 and np.isfinite(m2) and m2 > 0:
            denom = float(np.dot(xd, xd))
            if denom != 0 and np.isfinite(denom):
                x_acf1 = float(np.dot(xd[:-1], xd[1:])) / denom
                if n > 10:
                    r = np.empty(10)
                    r[0] = x_acf1
                    for k in range(2, 11):
                        r[k - 1] = float(np.dot(xd[:-k], xd[k:])) / denom
                    x_acf10 = float(np.sum(r ** 2))
        # --- crossing_points (median crossings)
        med = np.median(xw)
        ab = xw <= med
        cross = float((ab[:-1] ^ ab[1:]).sum())
        # --- flat_spots (_pdcut_codes parity: linspace decile edges,
        # left edge pushed out, right-closed searchsorted, longest run)
        vmin = float(xw.min())
        vmax = float(xw.max())
        if vmin == vmax:
            adj = 0.001 if vmin == 0 else abs(vmin) * 0.001
            lo, hi = vmin - adj, vmax + adj
        else:
            lo, hi = vmin, vmax
        # np.linspace(lo, hi, 11) replicated without its dispatch overhead:
        # y = arange*step + lo with the endpoint pinned to hi (linspace does
        # exactly this for num>1; bit-identical, pinned by the parity test)
        edges = np.arange(11.0)
        edges *= (hi - lo) / 10.0
        edges += lo
        edges[10] = hi
        edges[0] -= (hi - lo) * 0.001
        codes = np.clip(np.searchsorted(edges, xw, side="left") - 1, 0, 9)
        fs = float(_st.run_lengths(codes).max())
        # --- spectral entropy (periodogram_psd parity, reusing xd)
        spec = np.abs(np.fft.rfft(xd)) ** 2 / n
        if n % 2 == 0:
            spec[1:-1] *= 2.0
        else:
            spec[1:] *= 2.0
        total = spec.sum()
        if not np.isfinite(total) or total <= 0:
            ent = float("nan")
        else:
            p = spec / total
            nz = p[p > 0]
            ent = float(-(nz * np.log2(nz)).sum()) / float(np.log2(p.shape[0]))
        # --- stability / lumpiness (_tiled_stat parity: width 10, trailing
        # partial tile dropped, 0.0 when n < 2*width, outer var ddof=1)
        if n < 20:
            stab = lump = 0.0
        else:
            # np.var(ddof=1) unrolled (mean -> demean -> square -> sum/(n-1),
            # the exact op sequence numpy's _var runs on real floats) — the
            # three nested .var/.mean dispatches were ~40% of this function
            # at 1m-tail sizes; bit-identical, pinned by the parity test
            nseg = n // 10
            tiles = xw[: nseg * 10].reshape(nseg, 10)
            tmean = np.add.reduce(tiles, axis=1)
            tmean /= 10.0
            td = tiles - tmean[:, None]
            td *= td
            tvar = np.add.reduce(td, axis=1)
            tvar /= 9.0

            def _var1(a: np.ndarray) -> float:
                am = np.add.reduce(a) / nseg
                ad = a - am
                ad *= ad
                return float(np.add.reduce(ad) / (nseg - 1))

            stab = _var1(tmean)
            lump = _var1(tvar)
        return {
            "n": n,
            "total_sum": float(np.sum(xw)),
            "vmin": vmin,
            "vmax": vmax,
            "mean": m,
            "m2": m2 if n > 1 else 0.0,
            "variance": var,
            "x_acf1": x_acf1,
            "x_acf10": x_acf10,
            "crossing_points": cross,
            "flat_spots": fs,
            "entropy": ent,
            "stability": stab,
            "lumpiness": lump,
        }


def rollup_doc(doc_id: str, source: str, tokens: np.ndarray,
               tiers: List[str] = TIER_ORDER, start_tick: int = 0) -> dict[str, dict]:
    """All tier rows for one doc (or one day-aligned segment of a giant
    doc: ``start_tick`` offsets window ids; because segments split only at
    86400-tick boundaries — operators/skew.py — start_tick is a multiple
    of every tier width, so per-segment windows are identical to the
    unsplit computation). Returns {tier: columns-dict}."""
    tokens = np.asarray(tokens, dtype=np.int64)
    n = len(tokens)
    xf = tokens.astype(np.float64)
    results: dict[str, dict] = {}
    child_means: dict[str, np.ndarray] = {}
    whole_doc_row: dict | None = None  # docs shorter than a tier width
    # produce ONE partial window spanning the whole doc — identical
    # feature values at every such tier (e.g. a 2000-token doc at 1h AND
    # 1d), so compute once and reuse (~15% of cascade CPU at the default
    # lognormal doc-length mix; blocks/digests still differ per tier)
    for tier in tiers:
        W = TIERS[tier]
        nw_full = n // W
        tail = n - nw_full * W
        nw = nw_full + (1 if tail else 0)
        if nw_full:
            feats = window_features_matrix(xf[: nw_full * W].reshape(nw_full, W))
        else:
            feats = {k: np.empty(0) for k in
                     ["n", "total_sum", "vmin", "vmax", "mean", "m2", "variance"] + HOLISTIC_FIELDS}
        rows = {k: np.asarray(v, dtype=float) for k, v in feats.items()}
        if tail:
            if nw_full == 0 and tail == n:
                if whole_doc_row is None:
                    whole_doc_row = _partial_window_row(xf)
                pr = whole_doc_row
            else:
                pr = _partial_window_row(xf[nw_full * W :])
            # preallocated assembly (np.append's asarray/ravel/concatenate
            # dispatch showed up at ~5% of kernel CPU: ~15 keys x 3 tiers
            # per doc on small arrays is call-overhead-dominated)
            for k in rows:
                v = rows[k]
                col = np.empty(len(v) + 1)
                col[:-1] = v
                col[-1] = pr[k]
                rows[k] = col
        # blocks
        blocks: list[bytes] = []
        if tier == "1m":
            blocks = dod_encode_windows(tokens, W)
        else:
            child_tier = "1m" if tier == "1h" else "1h"
            cm = child_means[child_tier]
            ratio = W // TIERS[child_tier]
            blocks = xor_encode_windows(cm, ratio)
        digests = [hashlib.sha256(b).hexdigest() for b in blocks]
        assert start_tick % W == 0, "segment start must be window-aligned"
        results[tier] = {
            "tier": np.full(nw, tier, dtype=object),
            "doc_id": np.full(nw, doc_id, dtype=object),
            "source": np.full(nw, source, dtype=object),
            "window_id": np.arange(nw, dtype=np.int64) + start_tick // W,
            **rows,
            "block": blocks,
            "block_digest": np.asarray(digests, dtype=object),
        }
        child_means[tier] = np.asarray(rows["mean"], dtype=np.float64)
    return results


def rollup_tiers(df, tiers: List[str] = TIER_ORDER, split_giant_tok: int | None = None):
    """raw token table -> all-tier rollup DataFrame in ONE mapInPandas
    scan (no shuffle; AQE/Catalyst see Scan -> MapInPandas).

    ``tiers`` must be a prefix of ``TIER_ORDER``: 1h blocks encode the 1m
    means and 1d blocks the 1h means, so a tier needs every tier below it.

    ``split_giant_tok``: docs longer than this are pre-split into
    day-aligned segments (operators/skew.py) so a single pathological doc
    never pins one task — the output rows are identical to the unsplit
    computation (window-aligned segmentation; pinned by tests)."""
    tiers = list(tiers)
    allowed = [TIER_ORDER[:k] for k in range(1, len(TIER_ORDER) + 1)]
    if tiers not in allowed:
        raise ValueError(f"rollup_tiers: tiers={tiers!r} unsupported; "
                         f"each tier is built from the one below it, so use one of {allowed}")

    if split_giant_tok is not None:
        from .skew import split_giant_docs

        # Small docs keep the zero-shuffle plain path; ONLY giant docs are
        # split AND their segments hash-repartitioned across tasks — the
        # whole point of the split is that one pathological doc must not
        # pin one task, and posexplode alone leaves every segment in the
        # parent's input partition (round-5 fix; pinned by
        # tests/test_rollup.py::test_split_giant_spreads_cost). The shuffle
        # carries only the giant rows (a vanishing fraction at any scale).
        from pyspark.sql import functions as F

        small = df.where(F.col("n_tok") <= int(split_giant_tok))
        big = df.where(F.col("n_tok") > int(split_giant_tok))
        # explicit partition count: an unnumbered repartition(cols) is an
        # AQE-coalescible exchange, and AQE coalesces by BYTES — segments
        # are expensive by CPU, not bytes, so coalescing would re-fuse the
        # straggler the split exists to break. A user-specified count is
        # exempt from AQE coalescing.
        n_part = df.sparkSession.sparkContext.defaultParallelism
        seg = split_giant_docs(big, max_tok=split_giant_tok).repartition(
            n_part, "doc_id", "seg_id")
        return rollup_tiers(small, tiers).unionByName(
            _rollup_scan(seg.select("doc_id", "seg_start", "tokens", "source"), tiers))

    return _rollup_scan(df.select(*[c for c in ("doc_id", "tokens", "source") if c in df.columns]),
                        tiers)


def _rollup_scan(df, tiers: List[str]):
    """One mapInPandas cascade over (doc_id, tokens[, source][, seg_start])
    rows. ``seg_start`` (pre-split giant-doc segments) offsets window ids
    so the union of segment rows equals the unsplit rollup."""
    out_cols = [f.split(" ")[0] for f in ROLLUP_SCHEMA.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import warnings
        from itertools import chain

        warnings.filterwarnings("ignore")
        np.seterr(all="ignore")
        acc: dict[str, list] = {c: [] for c in out_cols}
        n_acc = 0

        def flush():
            return pd.DataFrame({c: np.concatenate(acc[c]) if c != "block"
                                 else list(chain.from_iterable(acc[c])) for c in out_cols})

        for pdf in batches:
            n = len(pdf)
            sources = pdf["source"].to_numpy() if "source" in pdf else np.full(n, "")
            starts = pdf["seg_start"].to_numpy() if "seg_start" in pdf else np.zeros(n, np.int64)
            for doc_id, source, toks, start in zip(
                pdf["doc_id"].to_numpy(), sources, pdf["tokens"].to_numpy(), starts,
            ):
                per_tier = rollup_doc(doc_id, source, np.asarray(toks), tiers,
                                      start_tick=int(start))
                for tier in tiers:
                    cols = per_tier[tier]
                    for c in out_cols:
                        acc[c].append(cols[c])
                    n_acc += len(cols["window_id"])
                if n_acc >= 4096:
                    yield flush()
                    acc = {c: [] for c in out_cols}
                    n_acc = 0
        if n_acc:
            yield flush()

    return df.mapInPandas(run, schema=ROLLUP_SCHEMA)


def merge_algebraic(tier_df, from_tier: str, to_tier: str):
    """Derive ``to_tier`` algebraic columns from stored ``from_tier`` rows
    with pure Spark SQL (Chan parallel-variance combine). No Python, no
    UDF — partial aggregation and AQE handle it; at 10^12 scale this is the
    only pass that touches the lower tier, raw stays untouched.

    Returns columns: doc_id, window_id, n, total_sum, vmin, vmax, mean,
    m2, variance.
    """
    from pyspark.sql import functions as F

    ratio = TIERS[to_tier] // TIERS[from_tier]
    child = tier_df.where(F.col("tier") == from_tier).select(
        "doc_id", (F.col("window_id") / ratio).cast("long").alias("window_id"),
        "n", "total_sum", "vmin", "vmax", "mean", "m2",
    )
    # two-pass Chan combine: the naive sum(n*mean^2) - (sum(n*mean))^2/N form
    # cancels catastrophically when |mean| >> stddev; computing the grand
    # mean first keeps every term at m2 magnitude.
    keys = ["doc_id", "window_id"]
    g1 = child.groupBy(*keys).agg(
        F.sum("n").alias("n"), F.sum("total_sum").alias("total_sum"),
        F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax"),
    ).withColumn("mean", F.col("total_sum") / F.col("n"))
    dev = F.col("c.mean") - F.col("g.mean")
    g2 = (
        child.alias("c")
        .join(g1.alias("g"), keys)
        .groupBy(*[F.col(f"g.{k}").alias(k) for k in keys])
        .agg((F.sum("c.m2") + F.sum(F.col("c.n") * dev * dev)).alias("m2"))
    )
    return (
        g1.join(g2, keys)
        .withColumn("variance", F.try_divide(F.col("m2"), F.col("n") - 1))
        .select("doc_id", "window_id", "n", "total_sum", "vmin", "vmax", "mean", "m2", "variance")
    )
