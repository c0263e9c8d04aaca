"""The three workloads. Each one prepares its seeded inputs (cached, not
timed), sets up (timed as ``setup_s``), runs timed iterations through the
engine's public functions, and checks each iteration's outputs outside
the timed region.

- ``cascade``: one ``rollup_tiers`` pass to a zstd parquet sink.
- ``maintain``: ``ResumableRollupJob`` interrupted and resumed, an append
  commit, ``incremental_rollup`` and ``apply_retention`` in an IcebergLite
  warehouse restored to the same bootstrapped state before each iteration.
- ``query_mix``: ``features_wide``, ``dedup_minhash_lsh`` and the SQL and
  operator query set, each count checked against its DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tsfeatures_spark.compression import dod_decode
from tsfeatures_spark.kernels import compute_features
from tsfeatures_spark.operators.features import features_wide
from tsfeatures_spark.operators.rollup import TIERS, rollup_doc, rollup_tiers
from tsfeatures_spark.plans import ResumableRollupJob
from tsfeatures_spark.sources.catalog import IcebergLiteCatalog
from tsfeatures_spark.streaming import apply_retention, incremental_rollup
from tsfeatures_spark.streaming import incremental as incremental_module

import inputs
from probes import Tracer

SIZES = {
    "full": {
        "cascade_tokens": 10_000_000,
        "maintain_tokens": 500_000, "append_tokens": 75_000,
        "buckets": 4, "waves": 2,
        "series_points": 20_000, "sf": 0.02,
    },
    "tiny": {
        "cascade_tokens": 60_000,
        "maintain_tokens": 40_000, "append_tokens": 8_000,
        "buckets": 4, "waves": 2,
        "series_points": 2_000, "sf": 0.002,
    },
}

SQL_QUERIES = [
    "q1_pricing_summary", "q5_nation_revenue", "ts_stats_events", "ts_crossing_points",
    "ts_rollup_1m", "ts_rollup_1h_cascade", "ts_gapfill_locf", "m_pointwise_metrics",
    "doc_quality", "feats_long_kernels_vs_sql", "emb_knn_bruteforce",
]
SAMPLE_DOCS = 3
ROW_GROUP_BYTES = 2 << 20


def digest(df) -> int:
    """Order-insensitive content digest of tier rows (the lineage table's
    formula): sum over rows of xxhash64(doc_id, tier, window_id,
    block_digest) mod 2^40."""
    h = F.pmod(F.xxhash64("doc_id", "tier", "window_id", "block_digest"), F.lit(1 << 40))
    return int(df.agg(F.sum(h.cast("decimal(38,0)"))).collect()[0][0] or 0)


def token_arms(spark, tracer: Tracer, toks, out_dir: str) -> dict:
    """The rollup cascade split into four arms over one token table: a
    JVM-only scan, an identity mapInPandas, the rollup into a noop sink,
    and the rollup into the zstd parquet sink. Each layer's time is the
    difference of two neighbouring arms."""
    def identity(batches):
        yield from batches

    cols = toks.select("doc_id", "tokens", "source")
    arms = {
        "scan": lambda: toks.select(F.sum(F.size("tokens"))).collect(),
        "identity": lambda: cols.mapInPandas(identity, cols.schema)
        .write.format("noop").mode("overwrite").save(),
        "noop": lambda: rollup_tiers(toks).write.format("noop").mode("overwrite").save(),
        "parquet": lambda: rollup_tiers(toks).write.mode("overwrite")
        .option("compression", "zstd").partitionBy("tier").parquet(out_dir),
    }
    secs = {}
    for name, fn in arms.items():
        shutil.rmtree(out_dir, ignore_errors=True)
        with tracer.span(f"arm.{name}"):
            t0 = time.perf_counter()
            fn()
            secs[name] = time.perf_counter() - t0
    sink_bytes = dir_bytes(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "scan.s": secs["scan"],
        "boundary.s": secs["identity"] - secs["scan"],
        "rollup.s": secs["noop"] - secs["identity"],
        "sink.s": secs["parquet"] - secs["noop"],
        "sink.bytes": sink_bytes,
        "_arms_s": secs,
    }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


def _equal(got, want) -> bool:
    """Column equality: floats bit-for-bit (NaN equal to NaN), blocks as
    bytes, everything else element-wise."""
    if isinstance(want, np.ndarray) and want.dtype.kind == "f":
        return np.array_equal(np.asarray(got, dtype=float), want, equal_nan=True)
    norm = [bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in got]
    return norm == list(want)


class Workload:
    name = ""
    token_input = ""  # token table the traced run's arms read

    def __init__(self, ctx, size: str) -> None:
        self.ctx = ctx
        self.size = SIZES[size]
        self.dir = os.path.join(ctx.work, "out", f"{self.name}-{size}")

    @property
    def spark(self):
        return self.ctx.spark

    def tokens(self) -> int:
        """Tokens the workload's token operators consume per iteration."""
        raise NotImplementedError

    def prepare_inputs(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def references(self) -> None:
        """Expected outputs, computed once after set-up, not timed."""

    def before_iteration(self) -> None:
        """Untimed reset before each iteration."""

    def iteration(self, tracer: Tracer) -> dict:
        raise NotImplementedError

    def finish(self, result: dict, wall: float) -> None:
        """Per-iteration metrics derived after the timed region."""
        result.setdefault("tokens_per_s", self.tokens() / wall)

    def check(self, result: dict) -> list[str]:
        """The output checks the iteration missed."""
        return []

    def layer_metrics(self, tracer: Tracer, spans: list[dict], spark_summary) -> dict:
        """Layer metrics of one traced iteration beyond the stage and
        Python-node totals; ``spark_summary(span)`` gives those of a span."""
        return {}

    def token_arms(self, tracer: Tracer) -> dict:
        out = os.path.join(self.dir, "arms")
        return token_arms(self.spark, tracer, self.spark.read.parquet(self.token_input), out)


# ---------------------------------------------------------------------------

class Cascade(Workload):
    """One ``rollup_tiers`` pass over the token table into a zstd parquet
    sink partitioned by tier. Scan, the Python boundary, the rollup kernel,
    codecs and the sink do nearly all the work; nothing shuffles or
    commits."""

    name = "cascade"
    ops_per_iteration = 1

    def tokens(self) -> int:
        return int(self.n_tok.sum())

    def prepare_inputs(self) -> None:
        self.token_input = inputs.token_table(self.ctx.work, self.ctx.seed, self.size["cascade_tokens"])
        self.n_tok = inputs.read_n_tok(self.token_input)
        self.out = os.path.join(self.dir, "sink")

    def setup(self) -> None:
        # one scan task per file: the files hold equal token counts, and
        # finer tasks pay the Python workers' per-task start-up many times
        largest = str(max(os.path.getsize(os.path.join(self.token_input, f))
                          for f in os.listdir(self.token_input) if f.endswith(".parquet")))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", largest)
        self.spark.conf.set("spark.sql.files.openCostInBytes", largest)
        self.toks = self.spark.read.parquet(self.token_input)

    def before_iteration(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def iteration(self, tracer: Tracer) -> dict:
        with tracer.span("operators.rollup_tiers"):
            out = rollup_tiers(self.toks)
        with tracer.span("sink.parquet"):
            out.write.mode("overwrite").option("compression", "zstd") \
                .partitionBy("tier").parquet(self.out)
        return {}

    def finish(self, result: dict, wall: float) -> None:
        super().finish(result, wall)
        result["stored_bytes_per_token"] = dir_bytes(self.out) / self.tokens()

    def check(self, result: dict) -> list[str]:
        missed = []
        tiers = self.spark.read.parquet(self.out)
        got = {r["tier"]: r["count"] for r in tiers.groupBy("tier").count().collect()}
        want = {t: int(np.ceil(self.n_tok / w).sum()) for t, w in TIERS.items()}
        if got != want:
            missed.append(f"tier row counts {got} != {want}")
        table = pq.read_table(self.token_input)
        longest = int(np.argmax(table.column("n_tok").to_numpy()))
        others = np.delete(np.arange(table.num_rows), longest)
        picks = [longest, *np.random.default_rng(self.ctx.seed).choice(
            others, min(SAMPLE_DOCS - 1, len(others)), replace=False)]
        sample = table.take(picks).to_pylist()
        ids = [d["doc_id"] for d in sample]
        rows = tiers.where(F.col("doc_id").isin(ids)).toPandas()
        for d in sample:
            toks = np.asarray(d["tokens"], dtype=np.int64)
            want_rows = rollup_doc(d["doc_id"], d["source"], toks)
            for t, cols in want_rows.items():
                g = rows[(rows.doc_id == d["doc_id"]) & (rows.tier == t)].sort_values("window_id")
                bad = [c for c, v in cols.items() if c != "tier" and not _equal(g[c].to_numpy(), v)]
                if bad:
                    missed.append(f"{d['doc_id']} {t}: columns {bad} differ from rollup_doc")
            blocks = rows[(rows.doc_id == d["doc_id"]) & (rows.tier == "1m")] \
                .sort_values("window_id")["block"]
            decoded = np.concatenate([dod_decode(bytes(b)) for b in blocks]) if len(blocks) else []
            if not np.array_equal(decoded, toks):
                missed.append(f"{d['doc_id']}: 1m blocks do not decode to its tokens")
        return missed


# ---------------------------------------------------------------------------

class TracedCatalog(IcebergLiteCatalog):
    """IcebergLiteCatalog whose commits and reads are spans, with the new
    files and manifest bytes of each commit, measured from outside."""

    def __init__(self, warehouse: str, tracer: Tracer) -> None:
        super().__init__(warehouse)
        self.tracer = tracer

    def commit(self, spark, table, df, mode="append", partition_by=None, meta=None,
               row_group_bytes=None):
        with self.tracer.span("sources.catalog.commit", table=table) as attrs:
            sid = super().commit(spark, table, df, mode=mode, partition_by=partition_by,
                                 meta=meta, row_group_bytes=row_group_bytes)
        snap = self.snapshot(table, sid)
        attrs["files"] = snap.get("n_new_files", len(snap["files"]))
        attrs["manifest_bytes"] = os.path.getsize(
            os.path.join(self.warehouse, table, "snapshots", f"v{sid}.json"))
        return sid

    def read(self, spark, table, snapshot_id=None):
        with self.tracer.span("sources.catalog.read", table=table):
            return super().read(spark, table, snapshot_id)


@contextmanager
def traced_attr(module, name: str, tracer: Tracer, span: str):
    """Wrap ``module.name`` in a span for the duration of the block; a
    missing attribute is left alone."""
    orig = getattr(module, name, None)
    if orig is None or not tracer.enabled:
        yield
        return

    def wrapper(*a, **kw):
        with tracer.span(span):
            return orig(*a, **kw)

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


class Maintain(Workload):
    """Warehouse maintenance: per-wave commits, lineage digest re-reads,
    manifest diffs and the retention rewrite around a tenth of the
    cascade's tokens."""

    name = "maintain"
    ops_per_iteration = 5  # interrupted run, resume, append, incremental, retention

    def tokens(self) -> int:
        return self.size["maintain_tokens"] + self.size["append_tokens"]

    def prepare_inputs(self) -> None:
        self.token_input = inputs.token_table(self.ctx.work, self.ctx.seed, self.size["maintain_tokens"])
        # appended docs come from a disjoint index range: fresh doc ids
        self.append_input = inputs.token_table(self.ctx.work, self.ctx.seed,
                                               self.size["append_tokens"], first_index=10**7)
        self.template = os.path.join(self.dir, "bootstrapped")
        self.warehouse = os.path.join(self.dir, "warehouse")

    def _bucketed(self, path: str):
        df = self.spark.read.parquet(path)
        b = self.size["buckets"]
        return df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(b))).repartition(b, "bucket")

    def setup(self) -> None:
        """The bootstrap: the token snapshot committed as ``bootstrap_tokens``
        commits it (bucketed, 2 MiB row groups)."""
        shutil.rmtree(self.template, ignore_errors=True)
        IcebergLiteCatalog(self.template).commit(
            self.spark, "tokens", self._bucketed(self.token_input), mode="overwrite",
            partition_by=["bucket"], row_group_bytes=ROW_GROUP_BYTES)
        self.appended = self._bucketed(self.append_input)

    def references(self) -> None:
        boot = self._bucketed(self.token_input)
        self.buckets = {r["bucket"] for r in boot.select("bucket").distinct().collect()}
        self.ref_boot = digest(rollup_tiers(boot))
        self.ref_append = digest(rollup_tiers(self.spark.read.parquet(self.append_input)))

    def before_iteration(self) -> None:
        # committed files are immutable and manifests are replaced by
        # rename, so hard links restore the bootstrapped state cheaply
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.template, self.warehouse, copy_function=os.link)

    def iteration(self, tracer: Tracer) -> dict:
        spark = self.spark
        cat = TracedCatalog(self.warehouse, tracer) if tracer.enabled \
            else IcebergLiteCatalog(self.warehouse)
        waves = self.size["waves"]
        job = ResumableRollupJob(spark, cat, "tokens", n_buckets=self.size["buckets"], waves=waves)
        with tracer.span("plans.lineage.run"):
            try:
                job.run(fail_after_waves=waves // 2)
            except RuntimeError as e:
                if "simulated failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the planned interruption did not happen")
        t0 = time.perf_counter()
        with tracer.span("plans.lineage.resume"):
            job.run(resume=True)
        resume_s = time.perf_counter() - t0
        resumed = {t: cat.current_snapshot_id(t) for t in ("tiers", "lineage")}
        with tracer.span("sources.catalog.append"):
            cat.commit(spark, "tokens", self.appended, mode="append",
                       partition_by=["bucket"], row_group_bytes=ROW_GROUP_BYTES)
        t0 = time.perf_counter()
        with tracer.span("streaming.incremental_rollup"), \
                traced_attr(incremental_module, "new_docs_since", tracer, "streaming.new_docs_since"):
            incremental_rollup(spark, cat, "tokens", "tiers")
        freshness_s = time.perf_counter() - t0
        with tracer.span("streaming.apply_retention"):
            apply_retention(spark, cat, "tiers")
        return {"resume_s": resume_s, "freshness_s": freshness_s, "_resumed": resumed}

    def check(self, result: dict) -> list[str]:
        missed = []
        cat = IcebergLiteCatalog(self.warehouse)
        got = digest(cat.read(self.spark, "tiers", result["_resumed"]["tiers"]))
        if got != self.ref_boot:
            missed.append("tiers after resume differ from one uninterrupted pass")
        lin = cat.read(self.spark, "lineage", result["_resumed"]["lineage"])
        per_bucket = {r["bucket"]: r["count"] for r in lin.groupBy("bucket").count().collect()}
        if per_bucket != dict.fromkeys(self.buckets, 1):
            missed.append(f"lineage rows per bucket {per_bucket}")
        # the default retention horizons keep every window of docs this
        # short, so the final table is the resumed one plus the appended docs
        if digest(cat.read(self.spark, "tiers")) != self.ref_boot + self.ref_append:
            missed.append("final tiers differ from the resumed tiers plus the appended docs")
        return missed

    def layer_metrics(self, tracer, spans, spark_summary) -> dict:
        commits = [s for s in spans if s["name"] == "sources.catalog.commit"]
        jobs = [spark_summary(s)["jobs"] for s in spans
                if s["name"] in ("plans.lineage.run", "plans.lineage.resume")]
        retention = [s for s in spans if s["name"] == "streaming.apply_retention"]
        return {
            "catalog.commit_s": sum(s["end"] - s["start"] for s in commits),
            "catalog.commits": len(commits),
            "catalog.files": sum(s["attrs"].get("files", 0) for s in commits),
            "catalog.manifest_bytes": sum(s["attrs"].get("manifest_bytes", 0) for s in commits),
            "lineage.commit_s": sum(s["end"] - s["start"] for s in commits
                                    if s["attrs"].get("table") == "lineage"),
            "lineage.jobs_per_wave": sum(jobs) / self.size["waves"],
            "incr.diff_s": tracer.sum(spans, "streaming.new_docs_since"),
            "incr.s": tracer.sum(spans, "streaming.incremental_rollup"),
            "retention.s": tracer.sum(spans, "streaming.apply_retention"),
            "retention.shuffle_bytes": sum(spark_summary(s)["stage.shuffle_write_bytes"]
                                           for s in retention),
        }


# ---------------------------------------------------------------------------

class QueryMix(Workload):
    """``features_wide`` over M4-scale series, ``dedup_minhash_lsh``, then
    the SQL and operator query set: fit kernels, dedup and Catalyst
    shuffles and joins do the work; the token cascade does none."""

    name = "query_mix"
    ops_per_iteration = 2 + len(SQL_QUERIES)

    def tokens(self) -> int:
        return int(self.n_tok.sum())

    def prepare_inputs(self) -> None:
        self.token_input = inputs.token_table(self.ctx.work, self.ctx.seed, self.size["series_points"],
                                              lens=inputs.SERIES_LEN)
        self.n_tok = inputs.read_n_tok(self.token_input)
        self.sf_dir, self.oracle = inputs.sf_tables(
            self.ctx.work, self.size["sf"], SQL_QUERIES + ["dedup_minhash_lsh"])

    def setup(self) -> None:
        self.series = self.spark.read.parquet(self.token_input)

    def iteration(self, tracer: Tracer) -> dict:
        spark, counts = self.spark, {}
        t0 = time.perf_counter()
        with tracer.span("operators.features_wide"):
            feats = features_wide(self.series, freq=inputs.FEATURE_FREQ).toPandas()
        t1 = time.perf_counter()
        with tracer.span("operators.dedup.signatures"):
            pairs = entry.dedup_minhash_lsh(spark, self.sf_dir)
        with tracer.span("operators.dedup.pairs"):
            counts["dedup_minhash_lsh"] = pairs.count()
        t2 = time.perf_counter()
        queries = entry.queries()
        for q in SQL_QUERIES:
            with tracer.span(f"query.{q}"):
                counts[q] = queries[q](spark, self.sf_dir).count()
        t3 = time.perf_counter()
        return {"series_per_s": len(feats) / (t1 - t0), "tokens_per_s": self.tokens() / (t1 - t0),
                "dedup_s": t2 - t1, "sql_s": t3 - t2, "_counts": counts, "_feats": feats}

    def check(self, result: dict) -> list[str]:
        missed = [f"{q}: {n} rows, oracle {self.oracle[q]}"
                  for q, n in result["_counts"].items() if n != self.oracle[q]]
        feats = result.pop("_feats")
        if len(feats) != len(self.n_tok):
            missed.append(f"features_wide returned {len(feats)} of {len(self.n_tok)} series")
        table = pq.read_table(self.token_input)
        rng = np.random.default_rng(self.ctx.seed)
        for i in rng.choice(table.num_rows, min(SAMPLE_DOCS, table.num_rows), replace=False):
            doc = table.slice(int(i), 1).to_pylist()[0]
            want = compute_features(np.asarray(doc["tokens"], dtype=float), inputs.FEATURE_FREQ)
            got = feats[feats.doc_id == doc["doc_id"]]
            bad = [k for k, v in want.items() if len(got) != 1 or not np.allclose(
                float(got[k].iloc[0]), v, rtol=1e-9, atol=1e-12, equal_nan=True)]
            if bad:
                missed.append(f"{doc['doc_id']}: features {bad} differ from compute_features")
        return missed

    def layer_metrics(self, tracer, spans, spark_summary) -> dict:
        dedup = [s for s in spans if s["name"].startswith("operators.dedup.")]
        return {
            "dedup.sig_s": tracer.sum(spans, "operators.dedup.signatures"),
            "dedup.pairs_s": tracer.sum(spans, "operators.dedup.pairs"),
            "dedup.shuffle_bytes": sum(spark_summary(s)["stage.shuffle_write_bytes"] for s in dedup),
        }


WORKLOADS = {w.name: w for w in (Cascade, Maintain, QueryMix)}
