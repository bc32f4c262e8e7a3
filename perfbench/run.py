#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload medallion_ingest --seed 1 --seconds 16 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a local Spark session through the engine, performs a fixed
warm-up (charged to ``setup_s``), measures ``--seconds // ROUND_S`` whole
rounds of the workload, checks the outputs untimed, and stops
every process it started. With ``--trace 0`` it reports the end-to-end
metrics, with ``--trace 1`` the per-layer metrics. Human-readable lines
come first; the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

Everything it writes stays under ``.perfbench-out/`` in the repository
root: the work directory (removed at exit) and ``results/`` (full result
with sample counts and environment, plus the spans of a traced run).
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench-out")
JVM_MEM = "2g"  # below physical RAM on a 15 GB machine without swap

END_TO_END = {
    "setup_s": "s", "rows_per_s": "1/s", "query_p50_s": "s", "query_p90_s": "s",
    "queries_per_s": "1/s", "batch_p50_s": "s", "batch_p90_s": "s",
    "write_amp": "B/B", "dup_recall": "ratio", "peak_rss_mb": "MB",
}
# Printed with the end-to-end metrics but carried in the result's
# "attempted"/"failed" fields rather than in "metrics" (it is 0 on a
# healthy run).
FAIL_RATIO = "fail_ratio"

# per-layer metric -> the span whose self time it is
SELF_TIMES = {
    "sources.readers.scan_s": "sources.readers.scan",
    "sources.writers.write_s": "sources.writers.write",
    "medallion.gold_s": "medallion.gold",
    "quality.validate_s": "quality.validate",
    "quality.observe_s": "quality.observe",
    "plans.pipeline.run_s": "plans.pipeline.run",
    "registry.build_s": "registry.build",
    "registry.execute_s": "registry.execute",
    "functions.text.score_s": "functions.text.score",
    "operators.dedup.exact_s": "operators.dedup.exact",
    "operators.dedup.minhash_s": "operators.dedup.minhash",
    "operators.dedup.simhash_s": "operators.dedup.simhash",
    "operators.similarity.near_dup_s": "operators.similarity.near_dup",
}
# per-layer metric -> (span, one of its counts)
SPAN_COUNTS = {
    "sources.readers.input_bytes": ("sources.readers.scan", "input_bytes"),
    "sources.writers.bytes_written": ("sources.writers.write", "bytes_written"),
    "sources.writers.files_written": ("sources.writers.write", "files_written"),
    "medallion.gold_shuffle_bytes": ("medallion.gold", "shuffle_write_bytes"),
    "quality.validate_jobs": ("quality.validate", "jobs"),
    "plans.pipeline.cached_bytes": ("quality.validate", "cached_bytes"),
    "registry.build_jobs": ("registry.build", "jobs"),
}
# per-layer metrics computed in per_layer() or read by the workloads
OTHER_LAYERS = [
    "registry.jobs", "registry.stages", "registry.tasks", "registry.exec_cpu_s",
    "registry.shuffle_bytes", "registry.gc_s",
    "session.get_spark_s", "session.first_action_s", "medallion.silver_self_s",
    "operators.dedup.candidate_pairs", "operators.dedup.candidate_yield",
    "operators.dedup.shuffle_bytes_per_doc", "operators.similarity.candidate_yield",
    "streaming.stream_ops.trigger_ms", "streaming.stream_ops.planning_ms",
    "streaming.stream_ops.add_batch_ms", "streaming.stream_ops.wal_commit_ms",
    "streaming.stream_ops.latest_offset_ms", "streaming.stream_ops.pickup_lag_s",
    "streaming.stream_ops.state_rows", "streaming.stream_ops.state_bytes",
    "trace.overhead_s",
]
PER_LAYER = list(SELF_TIMES) + list(SPAN_COUNTS) + OTHER_LAYERS
DEDUP_SPANS = ("operators.dedup.exact", "operators.dedup.minhash", "operators.dedup.simhash")


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    if name.endswith("per_doc"):
        return "B/doc"
    if name.endswith("yield"):
        return "ratio"
    return "count"


def pin_env(work: str) -> dict[str, str]:
    """Fix the engine's run environment before the JVM starts; every
    path it names lies under the run's work directory."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": JVM_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        # UDF workers import the engine from the repository root
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM would otherwise keep its perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage for the counter harvest
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(rounds, counters, state_growth, setup_s, peak_mb, recall):
    qs = [s for r in rounds for _, s in r.queries]
    bs = [s for r in rounds for _, s in r.batches]
    written = counters["output_bytes"] + counters["shuffle_write_bytes"] + state_growth
    return {
        "setup_s": (setup_s, 1),
        "rows_per_s": (sum(r.rows for r in rounds) / sum(r.rows_s for r in rounds), len(rounds)),
        "query_p50_s": (pct(qs, 50), len(qs)),
        "query_p90_s": (pct(qs, 90), len(qs)),
        "queries_per_s": (len(qs) / sum(r.queries_s for r in rounds), len(qs)),
        "batch_p50_s": (pct(bs, 50), len(bs)),
        "batch_p90_s": (pct(bs, 90), len(bs)),
        "write_amp": (written / sum(r.in_bytes for r in rounds), len(rounds)),
        "dup_recall": (recall, 1),
        "peak_rss_mb": (peak_mb, 1),
    }


def per_layer(tracer, traced, untraced, timings, n_docs):
    """Median over traced rounds of each layer's per-round value; spans
    must already carry their Spark counters."""
    per_round = []
    for op, r in traced:
        mine = [s for s in tracer.spans if s.op == op]

        def total(names, key):
            return sum(s.counts.get(key, 0) for s in mine if s.name in names)

        vals = {m: sum(tracer.self_time(s) for s in mine if s.name == name)
                for m, name in SELF_TIMES.items()}
        vals.update({m: total((name,), key) for m, (name, key) in SPAN_COUNTS.items()})
        # a job counts once, on the innermost span open when it ran:
        # the registry's totals sum its three spans
        reg = ("registry.query", "registry.build", "registry.execute")
        vals.update({
            "registry.jobs": total(reg, "jobs"),
            "registry.stages": total(reg, "stages"),
            "registry.tasks": total(reg, "tasks"),
            "registry.exec_cpu_s": total(reg, "exec_cpu_ns") / 1e9,
            "registry.shuffle_bytes": total(reg, "shuffle_write_bytes"),
            "registry.gc_s": total(reg, "gc_ms") / 1e3,
        })
        if n_docs:
            vals["operators.dedup.shuffle_bytes_per_doc"] = (
                total(DEDUP_SPANS, "shuffle_write_bytes") / n_docs)
        vals.update(r.layers)
        per_round.append(vals)
    out = {m: (statistics.median(v[m] for v in per_round if m in v)
               if any(m in v for v in per_round) else 0.0, len(per_round))
           for m in PER_LAYER}
    out["session.get_spark_s"] = (timings["get_spark_s"], 1)
    out["session.first_action_s"] = (timings["first_action_s"], 1)
    out["trace.overhead_s"] = (
        statistics.median(r.latency for _, r in traced)
        - statistics.median(r.latency for _, r in untraced), len(traced))
    return out


def stop_processes(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every child
    process of this one (JVM, UDF workers) to exit."""
    from spans import children_map

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure: fall back to kill
            proc.kill()
            proc.wait(timeout=10)
    me, deadline = os.getpid(), time.time() + 15
    while True:
        kids = children_map().get(me, [])
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    for mod in ("ingestao_dados_poli_spark", "tools.check_oracle"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: module {mod} not found under {ROOT}", file=sys.stderr)
            return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a fixed number of whole rounds, so a run's sample counts do not
    # depend on how fast the machine happens to be; a traced run needs
    # an untraced and a traced one
    n_rounds = max(2 if args.trace else 1, int(args.seconds // WORKLOADS[args.workload].ROUND_S))

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, n_rounds)
    started: list = []   # the session, once run() has one
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        return run(args, wl, env, work, results, tag, gen_s, started)
    finally:
        if started:
            try:
                wl.close()
            finally:
                stop_processes(started[0])
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, env, work, results, tag, gen_s, started: list) -> int:
    import spans

    t0 = time.perf_counter()
    from ingestao_dados_poli_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work))
    started.append(spark)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t_session = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t_first = time.perf_counter()
    tracer = spans.Tracer(sc)
    if args.trace:
        spans.cached_bytes(sc)  # the UI's first REST answer is slow; not inside a span
    wl.start(spark, tracer)
    with spans.RssSampler() as rss:
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        state0 = wl.state_bytes()
        untraced, traced, failed_ops = [], [], 0
        w0 = time.time()
        for op in range(1, wl.n_rounds + 1):
            # a traced run alternates untraced and traced rounds
            tracer.on = bool(args.trace) and op % 2 == 0
            try:
                r = wl.round(op)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                failed_ops += 1
            else:
                (traced if tracer.on else untraced).append((op, r))
        tracer.on = False
        w1 = time.time()
    wl.finish(untraced + traced)
    state_growth = wl.state_bytes() - state0

    checks = []
    try:
        checks = wl.checks()
        recall = wl.dup_recall()
    except Exception as e:  # noqa: BLE001 - a check that cannot run has failed
        traceback.print_exc(file=sys.stderr)
        checks.append(("checks ran", False, repr(e)[:200]))
        recall = 0.0
    jobs = spans.harvest_jobs(sc)

    attempted = len(untraced) + len(traced) + failed_ops + len(checks)
    failed = failed_ops + sum(not ok for _, ok, _ in checks)
    correct = failed == 0
    timings = {"get_spark_s": t_session - t0, "first_action_s": t_first - t_session,
               "warm_up_s": setup_s - (t_first - t0)}

    metrics, units = {}, {}
    if args.trace and traced and untraced:
        spans.attribute_jobs(tracer, jobs)
        metrics = per_layer(tracer, traced, untraced, timings, wl.n_docs())
        units = {m: layer_unit(m) for m in PER_LAYER}
        tracer.dump(os.path.join(results, f"{tag}-spans.jsonl"))
    elif not args.trace and untraced:
        counters = spans.jobs_between(jobs, w0, w1)
        metrics = end_to_end([r for _, r in untraced], counters, state_growth,
                             setup_s, rss.peak_mb, recall)
        units = dict(END_TO_END)

    fail_ratio = failed / attempted if attempted else 1.0
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"rounds={len(untraced) + len(traced)} window_s={w1 - w0:.3f} input_gen_s={gen_s:.3f}")
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in timings.items()))
    print("env " + json.dumps(env, sort_keys=True))
    for name, ok, detail in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for m, (v, n) in metrics.items():
        print(f"metric {m} = {v:.6g} {units[m]} (n={n})")
    if not args.trace:
        print(f"metric {FAIL_RATIO} = {fail_ratio:.6g} ratio (n={attempted})")
    with open(os.path.join(results, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "seconds": args.seconds, "env": env, "input_gen_s": gen_s, "setup": timings,
                   "window": [w0, w1], "fail_ratio": fail_ratio,
                   "checks": checks, "metrics": {m: {"value": v, "unit": units[m], "n": n}
                                                 for m, (v, n) in metrics.items()},
                   "rounds": [{"op": op, "traced": bool(args.trace) and op % 2 == 0,
                               "latency": r.latency, "queries": r.queries,
                               "batches": r.batches}
                              for op, r in sorted(untraced + traced, key=lambda x: x[0])]},
                  fh, indent=1, default=str)
    if not metrics:
        print("perfbench: too few rounds completed to report metrics", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, (v, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
