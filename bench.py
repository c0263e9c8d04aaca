"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "rollup": {...}, "features": {...}}

Phases:
1. Token-table tier-cascade rollup (the engine's headline): read the cached
   deterministic token table (generated once under .data/), run the
   raw->1m->1h->1d single-scan cascade, write parquet snapshots.
   Headline number = tokens/sec ingested end-to-end.
2. feats_default_set: the default tsfeatures kernel set over M4-scale series.
3. Representative SQL/operator queries over $SPARK_GRAFT_SF_DIR.

Each leaf is the min over a fixed number of timed passes that follow
warm-up passes. For the per-layer split and Spark's task CPU, GC, shuffle
and spill, run the repo benchmark instead (perfbench/README.md):
  python perfbench/run.py --workload cascade --seed 1 --seconds 1 --trace 1

Env:
  SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     (default: the CPUs this process may run on)
  SPARK_GRAFT_BENCH_DOCS (default 15000 -> ~60M tokens)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "15000"))
DATA_DIR = os.path.join(REPO, ".data")

ROLLUP_TRIALS = 5
QUERY_TRIALS = 3
FEAT_SERIES = 500

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q5_nation_revenue",
    "ts_stats_events",
    "ts_crossing_points",
    "ts_rollup_1m",
    "ts_rollup_1h_cascade",
    "ts_gapfill_locf",
    "m_pointwise_metrics",
    "doc_quality",
    # NOTE: doc_ngram_jaccard stays in the correctness gate but not here —
    # on this synthetic word-salad corpus every trigram is near-universal,
    # so the within-block self-join is inherently O(pairs) and measures
    # corpus pathology, not engine throughput (real corpora are Zipfian;
    # the scale path for near-dup at 100 TB is minhash LSH anyway).
    "feats_long_kernels_vs_sql",
    "emb_knn_bruteforce",
    "dedup_minhash_lsh",
]


def ensure_token_table(spark, path: str) -> None:
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return
    from tsfeatures_spark.sources.generator import write_token_table

    write_token_table(spark, path, n_docs=N_DOCS, base_seed=42, buckets=max(CPUS * 2, 16))


def _timed(trials: int, run) -> list[float]:
    """Sorted wall seconds of ``trials`` calls of ``run``."""
    secs = []
    for _ in range(trials):
        t0 = time.time()
        run()
        secs.append(round(time.time() - t0, 3))
    return sorted(secs)


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from tsfeatures_spark.operators.features import features_wide
    from tsfeatures_spark.operators.rollup import rollup_tiers
    from tsfeatures_spark.session import get_spark
    from tsfeatures_spark.sources.generator import token_table

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package zip (spark-submit --py-files mechanism): required
    # when SPARK_GRAFT_MASTER names a cluster whose Python workers don't
    # inherit the driver's sys.path
    entrymod._ensure_pkg_on_executors(spark)

    tok_path = os.path.join(DATA_DIR, f"tokens_bench_{N_DOCS}")
    ensure_token_table(spark, tok_path)
    # size input splits for ~4 tasks/core: with the default 128MB split the
    # whole table is ~1 task per core and lognormal doc-length skew makes
    # stragglers set the wall clock (observed local[32] SLOWER than
    # local[8]); finer splits let the scheduler balance.
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(tok_path) for fn in fns if fn.endswith(".parquet")
    )
    # ~16 tasks/core: measured best on this box (granularity sweep: 2/core
    # 31.1s, 4/core 41.2s, 8/core 30.8s, 16/core 25.8s at local[16]) — fine
    # tasks smooth lognormal doc-length stragglers and VM steal hiccups
    split = max(total_bytes // (CPUS * 16), 1 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 18))
    toks = spark.read.parquet(tok_path)
    total_tokens = toks.agg(F.sum("n_tok")).collect()[0][0]

    out_path = os.path.join(DATA_DIR, "rollup_out")

    # warm the scan + JIT with a cheap pass so the measured number is the
    # steady-state pipeline, not first-query JVM warmup
    toks.select(F.sum(F.size("tokens"))).collect()
    # ...and the Python-worker daemons: the first pandas-UDF job forks one
    # worker per core and imports numpy/pandas in each — ~1.5s that would
    # otherwise land INSIDE the first timed trial and bias the short
    # (high-core) runs the most (a pure scan pass never starts them)
    # (repartition to CPUS so one worker forks per core, not just one)
    rollup_tiers(toks.limit(CPUS * 2).repartition(CPUS)).count()

    # min of N: the pipeline's capability; the full spread lands in sec_all
    trial_secs = []
    for _ in range(ROLLUP_TRIALS):
        shutil.rmtree(out_path, ignore_errors=True)
        t0 = time.time()
        (
            rollup_tiers(toks).write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("tier")
            .parquet(out_path)
        )
        trial_secs.append(round(time.time() - t0, 3))
    trial_secs.sort()
    rollup_sec = trial_secs[0]
    rollup_median = trial_secs[len(trial_secs) // 2]

    timings: dict[str, float] = {"rollup_cascade": rollup_sec}
    # reference-API throughput: the full default 17-kernel tsfeatures
    # set (incl. Holt/HW/GARCH/STL fits) over M4-scale series — the
    # single-node comparison point vs the reference's
    # multiprocessing+statsmodels pipeline (SURVEY.md §7.0)
    fd = token_table(spark, FEAT_SERIES, base_seed=7, mean_len=300, max_len=1000).cache()
    fd.count()
    feat_secs = _timed(QUERY_TRIALS, lambda: features_wide(fd, scale=True, freq=24).count())
    timings["feats_default_set"] = feat_secs[0]
    feats_stats = {"n_series": FEAT_SERIES,
                   "series_per_sec": round(FEAT_SERIES / feat_secs[0], 1),
                   "sec_all": feat_secs}
    fd.unpersist()

    qs = entrymod.queries()
    query_spread: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        # count() forces full execution without driver-side materialization
        secs = _timed(QUERY_TRIALS, lambda: qs[name](spark, SF_DIR).count())
        timings[name] = secs[0]
        query_spread[name] = secs

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "rollup+query wall time (tokens/sec in rollup.tokens_per_sec)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cpus": CPUS,
                "rollup": {
                    "n_docs": N_DOCS,
                    "tokens": int(total_tokens),
                    "sec": rollup_sec,
                    "tokens_per_sec": int(total_tokens / rollup_sec),
                    "trials": len(trial_secs),
                    "sec_median": rollup_median,
                    "sec_all": trial_secs,
                    "tokens_per_sec_median": int(total_tokens / rollup_median),
                },
                "features": feats_stats,
                "query_trials": QUERY_TRIALS,
                "queries_all": query_spread,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
