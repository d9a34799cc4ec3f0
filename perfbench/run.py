"""Layered cold-run benchmark for sparksync.

    python3 perfbench/run.py --workload <migrate|corpus_curation> \\
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  One process is one cold run: inputs for
the seed are generated (and cached) under ``.perfbench/``, the DuckDB
oracle results are computed (and cached), then a fresh JVM and Spark
session are set up and the workload's ops run once, one at a time.  The
last stdout line is one JSON object; ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer
metrics, read from spans recorded around the program's public functions.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as sp  # noqa: E402
import workloads as wl  # noqa: E402

STATE = ".perfbench"


def _args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal length of the timed section; the ops always "
                    "run once, in full, and an overrun is recorded")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, ncpu: int) -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    tmp = os.path.join(root, STATE, "tmp")
    local = os.path.join(root, STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()


def _stop(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _calibration_s(spark) -> float:
    """bench.py's all-core reference job, one sample: ambient-load context."""
    t0 = time.perf_counter()
    spark.range(500_000_000).selectExpr("sum(id) AS s").collect()
    return time.perf_counter() - t0


def _layer_metrics(tracer, t_timed: float, result: dict, workload: str, ncpu: int,
                   py_cpu_s: float, peak_rss_mb: float, sink_dir: str,
                   source_bytes: int) -> dict:
    spans = tracer.spans
    timed = [s for s in spans if s["start"] >= t_timed]

    def named(prefix, among=timed):
        return [s for s in among if s["name"].startswith(prefix)]

    def dur(prefix):
        return sum(s["end"] - s["start"] for s in named(prefix, spans))

    selfs, sjobs = sp.self_times(timed), sp.self_jobs(timed)
    m = {
        "session.start_s": dur("session.start"),
        "session.warmup_s": dur("session.warmup"),
    }
    build = named("queries.build")
    m["queries.build_s"] = sum(s["end"] - s["start"] for s in build)
    m["queries.build_py4j_calls"] = sum(s["py4j"] for s in build)
    m["queries.build_jobs"] = sum(s["jobs"] for s in build)
    for mod in ("dedup", "graph", "similarity", "textops"):
        own = named(f"ext.{mod}.")
        m[f"ext.{mod}.self_s"] = sum(selfs[s["id"]] for s in own)
        m[f"ext.{mod}.jobs"] = sum(sjobs[s["id"]] for s in own)
    mat = sp.outermost(timed, "materialize.")
    m["materialize.calls"] = len(mat)
    m["materialize.s"] = sp.busy_s(mat)
    m["materialize.leaked_mb"] = max(result.get("leaked_bytes") or [0]) / 2**20

    exec_spans = named("exec.action") if workload != "migrate" else named("sync.")
    m["exec.s"] = sp.busy_s(exec_spans)
    m["exec.jobs"] = sum(s["jobs"] for s in exec_spans)
    st = {k: 0 for k in ("stages", "tasks", "run_ms", "input_b", "shuffle_read_b",
                         "shuffle_write_b", "spill_b")}
    for s in exec_spans:
        for k, v in tracer.stage_metrics(*s["stage_ids"]).items():
            st[k] += v
    mib = 2**20
    m.update({
        "exec.stages": st["stages"], "exec.tasks": st["tasks"],
        "exec.input_mb": st["input_b"] / mib,
        "exec.shuffle_read_mb": st["shuffle_read_b"] / mib,
        "exec.shuffle_write_mb": st["shuffle_write_b"] / mib,
        "exec.spill_mb": st["spill_b"] / mib,
        "exec.executor_run_s": st["run_ms"] / 1000.0,
    })
    m["exec.core_busy_ratio"] = (m["exec.executor_run_s"] / (m["exec.s"] * ncpu)
                                 if m["exec.s"] else 0.0)
    m["driver.py_cpu_s"] = py_cpu_s
    m["process.peak_rss_mb"] = peak_rss_mb
    reads = sp.outermost(timed, "source.load_table")
    m["source.read_jobs"] = sum(s["jobs"] for s in reads)
    m["source.read_s"] = sp.busy_s(reads)

    for phase in ("plan", "ddl", "data", "objects", "compare"):
        name = "sync.plan" if phase == "plan" else f"sync.{phase}_phase"
        m[f"sync.{phase}_s"] = sum(s["end"] - s["start"] for s in named(name))
    writes = named("sink.write")
    m["sink.write_s"] = sp.busy_s(writes)
    compares = sp.outermost(timed, "compare.compare_")
    m["compare.s"] = sp.busy_s(compares)
    m["ddl.statements"] = len(named("ddl.execute"))
    if workload == "migrate":
        objs = result["objects"]
        ddl_failed = result["ddl"].failed + sum(r.failed for r in objs)
        cmp_ = result["compare"]
        nbytes, nfiles = wl.dir_size(sink_dir)
        m.update({
            "sync.failed": ddl_failed + result["data"].failed
            + sum(not c.is_ok for c in cmp_),
            "sink.bytes_written": nbytes,
            "sink.files_written": nfiles,
            "sink.write_amp": nbytes / source_bytes,
            "compare.rows_hashed": sum(c.src_count + c.dst_count for c in cmp_),
            "compare.mismatches": sum(c.checksum_ok is False for c in cmp_),
            "ddl.failed": ddl_failed,
        })
    else:
        m.update({"sync.failed": 0, "sink.bytes_written": 0, "sink.files_written": 0,
                  "sink.write_amp": 0.0, "compare.rows_hashed": 0,
                  "compare.mismatches": 0, "ddl.failed": 0})
    return m


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if not os.path.isfile(os.path.join(root, "sparksync", "__init__.py")):
        print("perfbench: no sparksync package in the current directory; run from "
              "the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    ncpu = len(os.sched_getaffinity(0))
    _environment(root, ncpu)
    state = os.path.join(root, STATE)
    data_dir = gen.ensure(os.path.join(state, "data"), args.seed)
    warm_dir = gen.ensure(os.path.join(state, "data"), None)
    source_rows = gen.source_rows(data_dir)
    source_bytes = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
                       for t in gen.TABLES)
    problems = []
    names = wl.QUERY_WORKLOADS.get(args.workload, [])
    if names:
        oracles = wl.oracle_fingerprints(data_dir, names)
        problems += wl.row_drift(oracles)
        rows_in = sum(source_rows[t] for q in names for t in oracles[q]["tables"])
    else:
        rows_in = sum(source_rows.values())
    work_dir = os.path.join(state, "run", args.workload)
    if args.workload == "migrate":
        wl.prepare_migrate(work_dir)

    tracer = None
    load_before = os.getloadavg()
    # -- set-up: import, session, warm-up ------------------------------------
    t0 = time.perf_counter()
    from sparksync.queries import QUERIES
    from sparksync.session import get_spark

    if args.trace:
        tracer = sp.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        sp.install(tracer)
        span = tracer.span
    else:
        span = wl.nospan
    with span("session.start"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    if tracer:
        tracer.bind(spark)
    with span("session.warmup"):
        QUERIES["q09_count_compare"](spark, warm_dir).collect()
    setup_s = time.perf_counter() - t0

    # -- timed section: the workload's ops, once ------------------------------
    jvm = sp.jvm_pid()
    pids = [os.getpid()] + ([jvm] if jvm else [])
    cpu0 = sum(sp.cpu_s(p) for p in pids)
    ru0 = resource.getrusage(resource.RUSAGE_SELF)
    t1 = time.perf_counter()
    if args.workload == "migrate":
        result = wl.run_migrate(spark, data_dir, work_dir, ncpu)
        if tracer:
            result["leaked_bytes"] = [tracer.stored_bytes()]
    else:
        result = wl.run_queries(spark, data_dir, names, tracer)
    wall_s = time.perf_counter() - t1
    ru1 = resource.getrusage(resource.RUSAGE_SELF)
    cpu_s = sum(sp.cpu_s(p) for p in pids) - cpu0
    peak_rss_mb = sum(sp.peak_rss_mb(p) for p in pids)
    py_cpu_s = (ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime)

    layers = None
    if tracer:
        layers = _layer_metrics(tracer, t1, result, args.workload, ncpu, py_cpu_s,
                                peak_rss_mb, os.path.join(work_dir, "sink"), source_bytes)
    calibration_s = _calibration_s(spark)
    _stop(spark)

    # -- output checks (outside every timed metric) --------------------------
    if args.workload == "migrate":
        verdict = wl.check_migrate(result, source_rows)
    else:
        verdict = wl.check_queries(result, oracles)
    failed = sum(v is not None for v in verdict.values())
    attempted = len(verdict)

    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "rows_per_s": rows_in / wall_s,
        "cpu_s": cpu_s,
    }
    context = {
        "op_fail_ratio": failed / attempted,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "calibration_s": calibration_s,
        "cores": ncpu,
        "peak_rss_mb": peak_rss_mb,
        "input_rows": rows_in,
        "seconds": args.seconds,
        "overran": wall_s > args.seconds,
        "op_s": result.get("op_s", {}),
        "leaked_mb_per_op": [b / 2**20 for b in result.get("leaked_bytes", [])],
    }
    if args.workload == "migrate":
        context["write_amp"] = wl.dir_size(os.path.join(work_dir, "sink"))[0] / source_bytes

    _record(state, args, e2e, layers, context, verdict, problems, tracer)
    for q, why in verdict.items():
        if why:
            print(f"# FAILED {q}: {why}")
    for p in problems:
        print(f"# INPUT {p}")
    values = layers if args.trace else e2e
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"# {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    for k in ("op_fail_ratio", "calibration_s"):
        print(f"# {k} = {context[k]:.6g}")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _record(state, args, e2e, layers, context, verdict, problems, tracer) -> None:
    """Keep this run's numbers next to its ambient-load context, and the
    spans of a traced run, under .perfbench/."""
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    hist = os.path.join(state, "history", f"{args.workload}.jsonl")
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    if tracer is None:
        with open(hist, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "wall_s": e2e["wall_s"]}) + "\n")
    else:
        with open(hist) if os.path.exists(hist) else open(os.devnull) as fh:
            walls = [json.loads(line)["wall_s"] for line in fh if line.strip()]
        if walls:
            context["trace.overhead_ratio"] = e2e["wall_s"] / statistics.median(walls) - 1
            print(f"# trace.overhead_ratio = {context['trace.overhead_ratio']:.4f} "
                  f"(traced wall {e2e['wall_s']:.3f} s vs untraced median of {len(walls)})")
        tracer.write(os.path.join(state, "trace", f"{tag}.json"), layers)
    with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "e2e": e2e, "layers": layers, "context": context,
                   "verdict": verdict, "input_problems": problems}, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
