"""Entity-resolution benchmark: one command, end-to-end or traced.

Run from the root of a checkout:

    python3 perfbench/run.py --workload er_fuzzy_snapshot --seed 1 --seconds 10 --trace 0

Each run is one closed-loop client: a single process driving a
``local[nproc]`` session. It generates its inputs from ``--seed`` and sets
up once, cold: session start, input registration and one untimed warm-up
unit that also yields the reference output. ``setup_s`` is that whole
span, up to the first timed unit. It then runs timed units until
``--seconds`` have passed and checks every output.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones. With ``--trace 1`` the run then starts a second session
with the Spark event log on, warms it, runs one traced unit (one Spark job
group per layer) and prints the per-layer metrics folded from the log.
The line before the result holds the details: input properties, host
settings, every sample with quartiles, the checks and host steal/sys
context. Results and spans are kept under ``.perfbench/results``;
everything else a run writes lives under ``.perfbench/work/<run>`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

LAYERS = ["session", "spans", "pem", "blocking", "coref", "scoring",
          "clustering", "snapshots", "dedup", "ann", "metrics"]
PY_LAYERS = ["spans", "pem", "blocking", "coref", "scoring", "dedup", "ann"]
GENERIC = [("wall_s", "s", "lower"), ("task_cpu_s", "s", "lower"),
           ("rows_out", "count", "lower"), ("shuffle_write_mb", "MB", "lower"),
           ("spill_mb", "MB", "lower"), ("task_skew", "ratio", "lower")]
PY_GENERIC = [("py_run_s", "s", "lower"), ("py_bytes_mb", "MB", "lower")]
DOMAIN = [
    ("session.start_s", "s", "lower"),
    ("spans.mentions_out", "count", "higher"),
    ("pem.cands_per_mention", "ratio", "lower"),
    ("blocking.keys_banded", "count", "lower"),
    ("blocking.verified_per_banded", "ratio", "higher"),
    ("coref.donations", "count", "higher"),
    ("scoring.plan_s", "s", "lower"),
    ("scoring.nil_rate", "ratio", "lower"),
    ("clustering.clusters", "count", "higher"),
    ("clustering.max_cluster", "count", "lower"),
    ("clustering.rounds", "count", "lower"),
    ("snapshots.commit_s", "s", "lower"),
    ("snapshots.count_job_s", "s", "lower"),
    ("snapshots.read_s", "s", "lower"),
    ("snapshots.bytes_written_mb", "MB", "lower"),
    ("dedup.pairs_emitted", "count", "lower"),
    ("dedup.pairs_verified", "count", "higher"),
    ("ann.max_bucket_rows", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("docs_per_s", "1/s"),
              ("resume_s", "s"), ("peak_rss_mb", "MB"), ("pairwise_f1", "ratio"),
              ("gold_recall", "ratio")]


def per_layer_spec() -> list[tuple[str, str, str]]:
    out = []
    for layer in LAYERS[1:]:
        out += [(f"{layer}.{m}", u, b) for m, u, b in GENERIC]
        if layer in PY_LAYERS:
            out += [(f"{layer}.{m}", u, b) for m, u, b in PY_GENERIC]
    return out + DOMAIN


def quartiles(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "median": statistics.median(xs), "q1": q[0], "q3": q[2],
            "samples": xs}


def stop_spark() -> None:
    """Stop the active SparkContext, then the gateway JVM, and wait for it.
    Safe to call when nothing was started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _session(settings: dict, conf: dict):
    from refined_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=settings["master"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed_loop(wl, spark, seconds: float) -> tuple[list[dict], float]:
    """Timed units until ``seconds`` have passed; (units, peak RSS MB)."""
    from perfbench import host

    units = []
    with host.RssSampler() as rss:
        start = time.perf_counter()
        while True:
            c0, u0 = host.cpu_times(), time.perf_counter()
            rss.active = True
            try:
                u = wl.unit(spark)
            except Exception:
                traceback.print_exc()
                u = {"ok": False}
            finally:
                rss.active = False
            u.update(host.cpu_context(c0, host.cpu_times(), time.perf_counter() - u0))
            units.append(u)
            if time.perf_counter() - start >= seconds:
                break
    return units, rss.peak_mb


def _checked(fn, *args) -> dict:
    try:
        return fn(*args)
    except Exception:
        traceback.print_exc()
        return {"ok": False}


def execute(args, root: str, work: str, run_id: str, settings: dict):
    from perfbench import host
    from perfbench.trace import Tracer, fold_event_log
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, tiny=args.tiny)
    conf = host.spark_conf(work)

    t0 = time.perf_counter()
    spark = _session(settings, conf)
    session_s = time.perf_counter() - t0
    wl.register(spark)
    wl.warmup(spark)
    setup_s = time.perf_counter() - t0

    units, peak_rss = _timed_loop(wl, spark, args.seconds)
    t0 = time.perf_counter()
    checks = _checked(wl.verify, spark)
    checks["eval_s"] = time.perf_counter() - t0
    # the engine's module-level UDFs keep handles into this JVM, so a
    # traced session reuses it: a new SparkContext, not a new gateway
    spark.stop()
    attempted = len(units) + 1
    failed = sum(0 if u["ok"] else 1 for u in units) + (0 if checks["ok"] else 1)

    good = [u for u in units if u["ok"]]
    run_s = quartiles([u["run_s"] for u in good])
    resume_s = quartiles([u["resume_s"] for u in good])
    detail = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": settings,
        "inputs": wl.inputs, "closed_loop_clients": 1,
        "setup_s": setup_s, "session_start_s": session_s,
        "run_s": run_s, "resume_s": resume_s, "units": units, "checks": checks,
    }

    if not args.trace:
        med = run_s.get("median")
        metrics = {
            "setup_s": setup_s,
            "run_s": med,
            "docs_per_s": wl.docs / med if med else None,
            "resume_s": resume_s.get("median"),
            "peak_rss_mb": peak_rss,
            "pairwise_f1": checks.get("pairwise_f1"),
            "gold_recall": checks.get("gold_recall"),
        }
        units_of = dict(END_TO_END)
    else:
        # a second session, logged from its start, so the timed units
        # above ran without the event log
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        spark = _session(settings, {
            **conf,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        wl.register(spark)
        tracer = Tracer(spark.sparkContext, run_id)
        with tracer.span("warmup", group="warmup"):
            warm = _checked(wl.trace_warmup, spark)
        traced = _checked(wl.traced_unit, spark, tracer)
        spark.stop()  # flushes the event log
        attempted += 1
        ok = traced["ok"] and all(warm.values())
        failed += 0 if ok else 1
        untraced = statistics.median(u["unit_s"] for u in good) if good else None
        metrics = layer_metrics(tracer, traced, checks, fold_event_log(log_dir),
                                session_s, untraced)
        units_of = {n: u for n, u, _ in per_layer_spec()}
        tracer.write(os.path.join(root, ".perfbench", "results", f"{run_id}.spans.jsonl"))
        detail.update(traced_ok=traced["ok"], trace_warmup=warm)

    result = {
        "correct": failed == 0 and all(v is not None for v in metrics.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }
    return result, detail


def layer_metrics(tracer, traced: dict, checks: dict, rows: dict, session_s: float,
                  untraced_unit_s: float | None) -> dict:
    out = {name: 0.0 for name, _, _ in per_layer_spec()}
    out.update(traced.get("domain", {}))
    for layer in LAYERS[1:]:
        r = rows.get(layer, {})
        for m in ("task_cpu_s", "shuffle_write_mb", "spill_mb", "task_skew"):
            out[f"{layer}.{m}"] = r.get(m, 0.0)
        if layer in PY_LAYERS:
            out[f"{layer}.py_run_s"] = r.get("py_run_s", 0.0)
            out[f"{layer}.py_bytes_mb"] = r.get("py_bytes_mb", 0.0)
        out[f"{layer}.rows_out"] = traced.get("rows", {}).get(layer, 0)
        out[f"{layer}.wall_s"] = tracer.wall(layer)
    # stages split out of a layer's span move their wall time with them
    for dst, r in rows.items():
        for src, moved in r["moved_in_s"].items():
            out[f"{dst}.wall_s"] += moved
            out[f"{src}.wall_s"] -= moved
    out["snapshots.count_job_s"] = sum(rows.get("snapshots", {}).get("moved_in_s", {}).values())
    out["session.start_s"] = session_s
    out["metrics.wall_s"] = checks.get("eval_s", 0.0)
    out["clustering.rounds"] = _check_every() * rows.get("clustering", {}).get(
        "convergence_checks", 0)
    traced_s = tracer.top_wall(traced.get("unit_names", ()))
    out["trace.overhead_s"] = traced_s - (untraced_unit_s or 0.0)
    return out


def _check_every() -> int:
    """Rounds per convergence check of the general CC loop."""
    import inspect

    from refined_spark.operators.clustering import connected_components

    return inspect.signature(connected_components).parameters["check_every"].default


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "refined_spark", "session.py")):
        print("perfbench: run from the root of a checkout that holds refined_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "work", run_id)
    os.makedirs(os.path.join(root, ".perfbench", "results"), exist_ok=True)
    try:
        settings = host.configure(work, root)
        result, detail = execute(args, root, work, run_id, settings)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(root, ".perfbench", "results", f"{run_id}.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
