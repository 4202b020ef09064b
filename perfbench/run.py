"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts a local Spark session, prepares the workload several times,
warms it up, measures it for ``--seconds``, checks every output against
the oracles and prints one metric per line (name, value, unit, which
direction is better), then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` measures the same phase untraced and then traced, and
reports the per-layer metrics (``layers.py``) including the tracing
overhead. Scratch files live under ``.perfbench_work/`` and are removed at
exit; the full report (and the spans of a traced run) are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (unit, better) of the end-to-end metrics, as declared in BENCHMARK.json.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
    "op_tail_ms": ("ms", "lower"),
    "index_bytes_ratio": ("ratio", "lower"),
    "op_ok_ratio": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_available() -> bool:
    try:
        import pyspark  # noqa: F401

        import mapreduceindexer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return False
    return True


def configure_env(wl, work: str, trace: bool) -> None:
    """Session settings go through the environment the engine's session
    factory reads; everything Spark and Python write goes under ``work``."""
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The heap starts at its maximum, so peak RSS does not depend on
        # when the collector decides to grow it.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{wl.driver_mem}",
        "spark.ui.showConsoleProgress": "false",
        **wl.confs,
    }
    if trace:
        # Keep every job and stage of the run for the per-span counters.
        confs.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": wl.driver_mem,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        "TMPDIR": tmp,
    })


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def op_stats(ops, rate: float) -> dict:
    from stats import percentile, tail

    lat = [o.seconds * 1000.0 for o in ops if o.error is None]
    t = tail(lat) if lat else {"value": 0.0, "pct": 0.0, "n": 0, "beyond": 0, "enough": False}
    return {
        "ops_s": rate,
        "op_p50_ms": percentile(lat, 50.0) if lat else 0.0,
        "op_tail_ms": t["value"],
        "tail": t,
    }


def per_class(ops) -> dict:
    """Median latency and count per operation kind."""
    out = {}
    for kind in sorted({o.kind for o in ops}):
        lat = [o.seconds * 1000.0 for o in ops if o.kind == kind and o.error is None]
        out[kind] = {"n": len(lat), "p50_ms": statistics.median(lat) if lat else None}
    return out


def workload_view(name: str, ops, wall: float, checked: dict, e2e: dict, fail_ratio: float) -> dict:
    """The per-workload metrics of the benchmark's design, each with
    (value, unit, better): printed for reading, not gated."""
    from stats import percentile, tail

    def p50(kinds):
        lat = [o.seconds * 1000.0 for o in ops if o.kind in kinds and o.error is None]
        return statistics.median(lat) if lat else None

    lookups = ("term", "and", "not", "prefix")
    queries = [o for o in ops if o.kind in lookups + ("rank", "ann") and o.error is None]
    v = {"setup_s": (e2e["setup_s"], "s", "lower"),
         "op_fail_ratio": (fail_ratio, "ratio", "lower"),
         "peak_rss_mb": (e2e["peak_rss_mb"], "MB", "lower")}
    v["build_mb_s"] = (checked["build_mb_s"], "MB/s", "higher")
    v["index_bytes_ratio"] = (e2e["index_bytes_ratio"], "ratio", "lower")
    if queries:
        t = tail([o.seconds * 1000.0 for o in queries])
        v["query_qps"] = (len(queries) / wall, "1/s", "higher")
        v["lookup_p50_ms"] = (p50(lookups), "ms", "lower")
        v["query_tail_ms"] = (t["value"], f"ms@p{t['pct']:g},n={t['n']}", "lower")
    if name == "query_serve":
        v["rank_p50_ms"] = (p50(("rank",)), "ms", "lower")
        v["ann_p50_ms"] = (p50(("ann",)), "ms", "lower")
        v["ann_recall"] = (checked["recall"], "ratio", "higher")
    if name == "ingest_update":
        v["ingest_docs_s"] = (checked["report"]["ingest_docs_s"], "docs/s", "higher")
        v["dedup_recall"] = (checked["recall"], "ratio", "higher")
    return v


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    if not engine_available():
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "input")
    configure_env(wl, work, trace)
    try:
        t = time.perf_counter()
        desc = wl.inputs(data, args.seed)
        gen_s = time.perf_counter() - t
        result = measure(wl, args, desc, data, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["report"]["gen_s"] = gen_s
    result["report"]["inputs"] = {k: v for k, v in desc.items() if k != "batches"}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(result["report"], fh, indent=1, default=str)
    for line in result["lines"]:
        print(line)
    print(json.dumps(result["line"]))
    return 0


def measure(wl, args, desc, data, work, trace) -> dict:
    from mapreduceindexer_spark.session import get_spark

    from layers import MOVES, layer_metrics
    from spans import Span, Tracer, check_nesting
    from workloads import Ctx

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    session_span = Span(0, "session.start", None, "setup-session", t0, t0 + session_s)
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        tracer = Tracer(False, spark)
        ctx = Ctx(spark, tracer, data, work, args.seconds, desc, clients=min(4, os.cpu_count() or 1))
        prep_times, st = [], None
        for rep in range(wl.setup_reps):
            # The last set-up is traced in a traced run (its spans carry
            # similarity.build_s and friends).
            tracer.enabled = trace and rep == wl.setup_reps - 1
            t = time.perf_counter()
            st = wl.prepare(ctx, st)
            prep_times.append(time.perf_counter() - t)
        setup_ids = {s.trace_id for s in tracer.spans}
        tracer.enabled = False
        wl.warm(ctx, st)
        ops, wall = wl.phase(ctx, st)
        traced_ops, overhead = [], 0.0
        if trace:
            tracer.enabled = True
            traced_ops, _ = wl.phase(ctx, st)
            tracer.enabled = False
            ok_lat = lambda xs: [o.seconds for o in xs if o.error is None]  # noqa: E731
            if ok_lat(ops) and ok_lat(traced_ops):
                overhead = statistics.median(ok_lat(traced_ops)) / statistics.median(ok_lat(ops)) - 1.0
        # Peak memory of the workload itself, before the oracles run.
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm.pid) if jvm is not None else 0.0}
        checked = wl.check(ctx, st, ops + traced_ops)
        rate = wl.throughput(ctx, ops)
        if trace:
            tracer.collect_spark_counts()
    finally:
        stop_spark(spark)

    attempted = len(ops)
    failed = sum(1 for o in ops if o.ok is not True)
    ostats = op_stats(ops, rate)
    e2e = {
        "setup_s": session_s + statistics.median(prep_times),
        "ops_s": ostats["ops_s"],
        "op_p50_ms": ostats["op_p50_ms"],
        "op_tail_ms": ostats["op_tail_ms"],
        "index_bytes_ratio": checked["index_bytes_ratio"],
        "op_ok_ratio": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": rss["python"] + rss["jvm"],
    }
    all_ops = ops + traced_ops
    correct = bool(all_ops) and all(o.ok is True for o in all_ops) and checked.get("setup_ok", True)
    view = workload_view(wl.name, ops, wall, checked, e2e, failed / attempted if attempted else 1.0)
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "session_s": session_s, "prep_s": prep_times, "wall_s": wall, "rss_mb": rss,
        "tail": ostats["tail"], "per_kind": per_class(ops), "check": checked["report"],
        "end_to_end": e2e, "workload_metrics": {k: v[0] for k, v in view.items()},
        "errors": sorted({o.error for o in all_ops if o.error})[:10],
        "wrong": [{"kind": o.kind, "id": o.trace_id, "info": {k: v for k, v in o.info.items() if k != "batch"}}
                  for o in all_ops if o.ok is False and o.error is None][:10],
    }
    lines = [f"# {wl.name} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
             f"ops={attempted} failed={failed} correct={correct}"]
    if trace:
        spans = [session_span] + tracer.spans
        bad = check_nesting(spans)
        op_ids = {o.trace_id for o in traced_ops}
        recall = checked["recall"] if checked["recall"] is not None else 0.0
        quality = {"query_serve": {"similarity.recall": recall},
                   "ingest_update": {"dedup.recall": recall}}.get(wl.name, {})
        layers = layer_metrics(spans, op_ids, setup_ids, session_s, overhead, quality)
        tracer.spans = spans
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{wl.name}-seed{args.seed}-spans.json"))
        report.update(per_layer=layers, nesting_violations=bad[:10], overhead_ratio=overhead,
                      traced_ops=len(traced_ops))
        correct = correct and not bad
        metrics = {k: {"value": v, "unit": MOVES[k][0]} for k, v in layers.items()}
        for k, v in layers.items():
            unit, moves, where = MOVES[k]
            lines.append(f"layer {k} = {v:.6g} {unit}  (moves {moves} on {where})")
        lines.append(f"trace overhead = {overhead:+.3f} (traced/untraced median op latency - 1)")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
        for k, v in e2e.items():
            lines.append(f"metric {k} = {v:.6g} {END_TO_END[k][0]} ({END_TO_END[k][1]} is better)")
        for k, (v, unit, better) in view.items():
            shown = "n/a" if v is None else f"{v:.6g}"
            lines.append(f"workload {wl.name}.{k} = {shown} {unit} ({better} is better)")
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"line": line, "lines": lines, "report": report}


if __name__ == "__main__":
    sys.exit(main())
