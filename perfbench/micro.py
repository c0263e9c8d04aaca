"""In-process, single-thread timings of the kernels inside one Python
worker, on a fixed seeded sample: the rollup's parts and codecs, and the
feature kernels. They run in the traced run only.

The rollup parts are called the way ``rollup_doc`` calls them; whatever
``rollup_doc`` spends beyond them is its assembly. A part the engine no
longer has is reported as 0 and named in ``missing``, so a refactor of the
kernel leaves the benchmark running."""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np

from inputs import FEATURE_FREQ, SERIES_LEN

REPEATS = 5
ROLLUP_DOCS = 64
FEATURE_SERIES = 32


def _median_ns(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times)


def rollup_layers(seed: int) -> dict:
    from tsfeatures_spark.compression import delta, gorilla
    from tsfeatures_spark.operators import rollup
    from tsfeatures_spark.sources.generator import gen_doc

    docs = [gen_doc(seed, i)[1] for i in range(ROLLUP_DOCS)]
    n_tok = sum(len(d) for d in docs)
    tiers = rollup.TIER_ORDER
    widths = rollup.TIERS
    wfm = getattr(rollup, "window_features_matrix", None)
    partial = getattr(rollup, "_partial_window_row", None)
    dod = getattr(delta, "dod_encode_windows", None)
    xor = getattr(gorilla, "xor_encode_windows", None)
    missing = [n for n, f in [("window_features_matrix", wfm), ("_partial_window_row", partial),
                              ("dod_encode_windows", dod), ("xor_encode_windows", xor)] if f is None]

    # inputs each part sees inside rollup_doc, prepared outside the timing
    xfs = [d.astype(np.float64) for d in docs]
    full = [[xf[: (len(xf) // widths[t]) * widths[t]].reshape(-1, widths[t])
             for t in tiers if len(xf) >= widths[t]] for xf in xfs]
    # a doc shorter than several tiers has one whole-doc partial window,
    # which rollup_doc computes once and reuses
    tails = [[xf[(len(xf) // widths[t]) * widths[t]:] for t in tiers
              if len(xf) % widths[t] and len(xf) >= widths[t]]
             + ([xf] if len(xf) < widths[tiers[-1]] else []) for xf in xfs]
    rows = [rollup.rollup_doc("d", "s", d) for d in docs]
    means = {t: [r[t]["mean"] for r in rows] for t in tiers}
    blocks = [b for r in rows for t in tiers for b in r[t]["block"]]

    def each(fn, args):
        return lambda: [fn(a) for xs in args for a in xs]

    out_ns = {
        "wfm": _median_ns(each(wfm, full)) if wfm else 0.0,
        "partial": _median_ns(each(partial, tails)) if partial else 0.0,
        "dod": _median_ns(lambda: [dod(d, widths["1m"]) for d in docs]) if dod else 0.0,
        "xor": _median_ns(lambda: [
            xor(means[child][k], widths[t] // widths[child])
            for child, t in zip(tiers, tiers[1:]) for k in range(len(docs))]) if xor else 0.0,
        "digest": _median_ns(lambda: [hashlib.sha256(b).hexdigest() for b in blocks]),
        "doc": _median_ns(lambda: [rollup.rollup_doc("d", "s", d) for d in docs]),
    }
    parts = out_ns["wfm"] + out_ns["partial"] + out_ns["dod"] + out_ns["xor"] + out_ns["digest"]
    block_bytes = {t: sum(len(b) for r in rows for b in r[t]["block"]) for t in tiers}
    return {
        "rollup.wfm_ns_per_tok": out_ns["wfm"] / n_tok,
        "rollup.partial_ns_per_tok": out_ns["partial"] / n_tok,
        "rollup.digest_ns_per_tok": out_ns["digest"] / n_tok,
        "rollup.assembly_ns_per_tok": (out_ns["doc"] - parts) / n_tok,
        "codec.dod_ns_per_tok": out_ns["dod"] / n_tok,
        "codec.xor_ns_per_tok": out_ns["xor"] / n_tok,
        **{f"codec.block_bytes_per_tok.{t}": block_bytes[t] / n_tok for t in tiers},
        "_detail": {"tokens": n_tok, "docs": len(docs), "rollup_doc_ns": out_ns["doc"],
                    "missing": missing},
    }


def feature_layers(seed: int) -> dict:
    """The batched Holt, Holt-Winters and heterogeneity fits versus the
    other kernels, called as ``features_wide`` calls them."""
    from tsfeatures_spark.kernels import DEFAULT_FEATURES, compute_features
    from tsfeatures_spark.kernels import fit_batch
    from tsfeatures_spark.kernels import stats as kstats
    from tsfeatures_spark.operators import features
    from tsfeatures_spark.sources.generator import gen_doc

    ys = [kstats.scalets(gen_doc(seed, i, **SERIES_LEN)[1].astype(float))
          for i in range(FEATURE_SERIES)]
    points = sum(len(y) for y in ys)
    batched = getattr(features, "_BATCHED_FIT_KERNELS",
                      ("holt_parameters", "hw_parameters", "heterogeneity"))
    rest = [n for n in DEFAULT_FEATURES if n not in batched]

    def fits():
        fit_batch.holt_fit_batch(ys)
        fit_batch.hw_fit_batch(ys, FEATURE_FREQ)
        fit_batch.heterogeneity_fit_batch(ys, FEATURE_FREQ)

    fit_ns = _median_ns(fits, repeats=3)
    kern_ns = _median_ns(lambda: [compute_features(y, FEATURE_FREQ, rest, scale=False) for y in ys],
                         repeats=3)
    return {
        "feats.fit_ns_per_point": fit_ns / points,
        "feats.kernels_ns_per_point": kern_ns / points,
        "_detail": {"series": len(ys), "points": points},
    }
