"""Repo benchmark: one seeded workload per run, closed loop, one Spark job
at a time on ``local[nproc]``.

    python3 perfbench/run.py --workload cascade --seed 1 --seconds 1 --trace 0

Prints a report line (every metric of the workload with median, quartiles
and sample count, per-iteration host annotations and, when traced, the
layer breakdown and span self times), then, as the last line, the result
object whose metrics are BENCHMARK.json's ``end_to_end`` list (``--trace
0``) or ``per_layer`` list (``--trace 1``). Everything it writes goes to
``.perfbench-work/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

# single-threaded BLAS, as in the engine's Python workers: the in-process
# checks then compute bit-identical floats, and the in-process layer
# timings are single-thread
for _var in ("OMP_NUM_THREADS", "MKL_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
    os.environ[_var] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
SETUPS = 3

# report-only end-to-end metrics: (unit, workloads that have it)
REPORT_METRICS = {
    "stored_bytes_per_token": ("B/token", {"cascade"}),
    "resume_s": ("s", {"maintain"}),
    "freshness_s": ("s", {"maintain"}),
    "series_per_s": ("series/s", {"query_mix"}),
    "dedup_s": ("s", {"query_mix"}),
    "sql_s": ("s", {"query_mix"}),
}

# layers a workload does not call do no work in it: their counts and
# times are zero there
UNCALLED_LAYERS = dict.fromkeys([
    "catalog.commit_s", "catalog.commits", "catalog.files", "catalog.manifest_bytes",
    "lineage.commit_s", "lineage.jobs_per_wave", "incr.diff_s", "incr.s", "retention.s",
    "retention.shuffle_bytes", "dedup.sig_s", "dedup.pairs_s", "dedup.shuffle_bytes",
], 0.0)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(nproc: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    put the checkout on the Python workers' path, and pin local[nproc]."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = "spark.ui.showConsoleProgress=false"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _start_session(nproc: int):
    from tsfeatures_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _stats(values: list[float]) -> dict:
    v = sorted(values)
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0], v[0], v[0]]
    return {"median": statistics.median(v), "q1": q[0], "q3": q[2], "n": len(v)}


class Ctx:
    def __init__(self, seed: int, nproc: int) -> None:
        self.seed = seed
        self.nproc = nproc
        self.work = WORK
        self.spark = None


def set_up(ctx: Ctx, wl) -> list[float]:
    """Set up ``SETUPS`` times, each time up to where a timed iteration
    could start: a fresh SparkContext (the first one also launches the
    JVM) and the workload's own preparation."""
    times = []
    for _ in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = _start_session(ctx.nproc)
        wl.setup()
        times.append(time.perf_counter() - t0)
    return times


def measure(wl, probes, tracer, sparkm, seconds: float, traced_run: bool):
    """Timed iterations until ``seconds`` have passed. The traced run
    alternates untraced and traced iterations (their difference is the
    tracing overhead) and so runs at least two."""
    iters: list[dict] = []
    attempted = failed = 0
    start = time.perf_counter()
    while not iters or time.perf_counter() - start < seconds or (traced_run and len(iters) < 2):
        k = len(iters)
        tracer.enabled = traced_run and k % 2 == 1
        tracer.iteration = k
        wl.before_iteration()
        host = probes.HostSample()
        cpu0 = probes.tree_cpu_s()
        t_start = time.time()
        t0 = time.perf_counter()
        error = None
        try:
            result = wl.iteration(tracer)
        except Exception:  # an operation failed: count it, keep measuring
            error = traceback.format_exc()
            result = {}
        wall = time.perf_counter() - t0
        t_end = time.time()
        rec = {"wall_s": wall, "cpu_s": probes.tree_cpu_s() - cpu0,
               "peak_rss_mb": probes.tree_peak_rss_mb(), "host": host.done(),
               "traced": tracer.enabled}
        attempted += wl.ops_per_iteration
        if error is None:
            wl.finish(result, wall)
            try:
                missed = wl.check(result)
            except Exception:
                missed = [traceback.format_exc()]
            failed += min(len(missed), wl.ops_per_iteration)
        else:
            missed = [error]
            failed += wl.ops_per_iteration
        for m in missed:
            print(f"perfbench: {wl.name} iteration {k}: {m}", file=sys.stderr)
        rec["ok"] = not missed
        rec.update({key: v for key, v in result.items() if not key.startswith("_")})
        if tracer.enabled:
            snap = sparkm.snapshot()
            spans = tracer.of_iteration(k)
            rec["layers"] = sparkm.summarize(snap, t_start, t_end)
            rec["layers"].update(wl.layer_metrics(
                tracer, spans, lambda s: sparkm.summarize(snap, s["start"], s["end"])))
            rec["self_times"] = tracer.self_times(spans)
            rec["job_groups"] = {s["name"]: sparkm.summarize(snap, s["start"], s["end"])
                                 for s in spans if s["parent"] is None}
        iters.append(rec)
    return iters, attempted, failed


def end_to_end(bench: dict, workload: str, setups: list[float], untraced: list[dict],
               failed: int, attempted: int) -> dict:
    out = {"setup_s": {"unit": "s", **_stats(setups)}}
    for m in bench["end_to_end"]:
        name = m["name"]
        if name == "peak_rss_mb":
            # the JVM heap keeps growing over iterations, so later values
            # depend on how many iterations fit in the run: take the peak
            # through set-up and the first iteration
            out[name] = {"unit": m["unit"], **_stats([untraced[0][name]])}
        elif name != "setup_s":
            out[name] = {"unit": m["unit"], **_stats([r[name] for r in untraced])}
    for name, (unit, workloads) in REPORT_METRICS.items():
        if workload in workloads:
            out[name] = {"unit": unit, **_stats([r[name] for r in untraced])}
    out["failed_frac"] = {"unit": "ratio", **_stats([failed / attempted])}
    return out


def layers(wl, micro, tracer, traced: list[dict], untraced: list[dict], seed: int) -> tuple:
    """Per-layer metrics: medians over the traced iterations, the tracing
    overhead, the token arms and the in-process kernel timings."""
    out: dict[str, float] = dict(UNCALLED_LAYERS)
    for key in traced[0]["layers"]:
        out[key] = statistics.median(r["layers"][key] for r in traced)
    out["trace.overhead_s"] = (statistics.median(r["wall_s"] for r in traced)
                               - statistics.median(r["wall_s"] for r in untraced))
    tracer.enabled = True
    tracer.iteration = -1
    arms = wl.token_arms(tracer)
    rollup = micro.rollup_layers(seed)
    feats = micro.feature_layers(seed)
    for part in (arms, rollup, feats):
        out.update({k: v for k, v in part.items() if not k.startswith("_")})
    detail = {"arms_s": arms["_arms_s"], "rollup": rollup["_detail"],
              "features": feats["_detail"]}
    return out, detail


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        import __spark_entry__  # noqa: F401
        import tsfeatures_spark.operators.rollup  # noqa: F401
    except (OSError, ImportError) as e:
        _fail(f"the engine is not in this checkout ({e})")

    nproc = len(os.sched_getaffinity(0))
    _environment(nproc)
    import __spark_entry__ as entry
    import micro
    import probes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # the checkout is on the workers' PYTHONPATH, so the entry module need
    # not ship the package as a zip (which it would write under /tmp)
    entry._PYFILES_SHIPPED = True

    ctx = Ctx(args.seed, nproc)
    wl = WORKLOADS[args.workload](ctx, args.size)
    wl.prepare_inputs()
    setups = set_up(ctx, wl)
    spark = ctx.spark
    wl.references()
    # The timed iterations start cold: the engine's jobs run once per
    # session, so the first pass after set-up, Python-worker start, JIT and
    # code generation included, is what a user's job sees. The traced run
    # warms up first, so its untraced and traced iterations differ only by
    # tracing.
    warm_up = []
    if args.trace:
        wl.before_iteration()
        t0 = time.perf_counter()
        wl.iteration(probes.Tracer(None, enabled=False))
        warm_up.append(time.perf_counter() - t0)

    tracer = probes.Tracer(spark, enabled=False)
    sparkm = probes.SparkMetrics(spark) if args.trace else None
    iters, attempted, failed = measure(wl, probes, tracer, sparkm, args.seconds, bool(args.trace))
    good = [r for r in iters if r["ok"]] or iters
    untraced = [r for r in good if not r["traced"]]
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "size": args.size, "nproc": nproc, "setups_s": setups, "warm_up_s": warm_up,
              "metrics": end_to_end(bench, args.workload, setups, untraced, failed, attempted),
              "iterations": iters}
    if args.trace:
        traced = [r for r in good if r["traced"]]
        report["layers"], report["layer_detail"] = layers(
            wl, micro, tracer, traced, untraced, args.seed)
        spans_path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(spans_path)
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        metrics = {m["name"]: {"value": report["layers"][m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": report["metrics"][m["name"]]["median"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    _stop_spark(spark)
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
