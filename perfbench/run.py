"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_keyed --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of this repository.  One process and
one client in a closed loop: each unit operation starts when the
previous one returns.  Spark runs ``local[N]`` with N the CPUs this
process may use.  Inputs are generated from ``--seed`` before any clock
starts; all scratch state lives under ``perfbench/.work`` and is removed
at exit.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (and writes the span file under ``perfbench/out``).
The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
host context and the correctness details.  The exit code is 1 when any
output is wrong or an operation raised.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HEAP = "2g"  # JVM heap, fixed (-Xms = -Xmx)
DEADLINE_S = 150  # no pass may start that would end later than this
# Passes keep speeding up for a few passes after the warm-up, so run_s
# is the median of at least four: always the third or later.
MIN_PASSES = 4
# The traced run of a workload that hosts the query phase runs the
# query_headline passes after its own, on inputs of this scale
# (0.1 = sf0.01 sizes), for this many traced passes; the loop before it
# leaves it this many seconds of the deadline.
QUERY_SCALE = 0.1
QUERY_PASSES = 2
QUERY_PHASE_S = 60
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The metric tables BENCHMARK.json lists; test_perfbench.py keeps the
# two in step.
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.register_s": "s",
    "runner.step_s": "s",
    "runner.driver_s": "s",
    "runner.jobs_per_step": "count",
    "transformers.chain_s": "s",
    "transformers.rows": "rows",
    "transformers.python_passes": "count",
    "keyed.put_s": "s",
    "keyed.bytes_written": "bytes",
    "keyed.write_amp": "ratio",
    "manifest.merge_s": "s",
    "manifest.delete_s": "s",
    "manifest.overwrite_s": "s",
    "manifest.read_resolved_s": "s",
    "manifest.jobs_per_commit": "count",
    "manifest.bytes_written": "bytes",
    "manifest.files_added": "count",
    "manifest.versions": "count",
    "manifest.replay_noop_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.input_records": "rows",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "trace.overhead_s": "s",
    "query.build_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
}


def per_layer_units() -> dict[str, str]:
    """PER_LAYER, plus build, execute and job figures for each
    ``bench.HEADLINE`` query (imported, so the two lists cannot drift)."""
    from bench import HEADLINE

    units = dict(PER_LAYER)
    for q in HEADLINE:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s",
                      f"query.{q}.jobs": "count"})
    return units


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_children(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        for k in kids:
            try:
                with open(f"/proc/{k}/comm") as fh:
                    if fh.read().strip() == "java":
                        out.append(k)
            except OSError:
                pass
            todo.append(k)
    return out


def _pids() -> list:
    return ["self", *_java_children(os.getpid())]


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM, from VmHWM."""
    return sum(_vm_hwm_kb(p) for p in _pids()) / 1024


def reset_peak_rss() -> None:
    """Restart the VmHWM marks at the current resident sets, so input
    generation and the correctness checks do not count as the program's
    peak."""
    for p in _pids():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def log(msg: str) -> None:
    """Progress on stderr, with seconds since the process started."""
    print(f"perfbench [{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def pass_layer_metrics(tracer, rec: dict) -> dict:
    """One traced pass's per-layer figures, from its spans."""
    from perfbench.trace import SPARK_FIELDS

    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s)
    ops = kids.get(rec["span"], [])
    calls = [k for o in ops for k in kids.get(o["id"], [])]
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    m = {f"spark.{f}": sum(o["spark"][f] for o in ops) for f in SPARK_FIELDS}
    steps = [o for o in ops if o["name"] == "runner.step"]
    if steps:
        m["runner.step_s"] = _mean([dur(o) for o in steps])
        m["runner.driver_s"] = _mean([o["spark"]["driver_s"] for o in steps])
        m["runner.jobs_per_step"] = _mean([o["spark"]["jobs"] for o in steps])
    for name in ("keyed.put", "manifest.merge", "manifest.delete", "manifest.overwrite"):
        ks = [dur(k) for k in calls if k["name"] == name]
        if ks:
            m[f"{name}_s"] = _mean(ks)
    if any(k["name"].startswith("manifest.") for k in calls):
        commits = [o for o in steps if o["step"] in ("seed", "upsert", "delete")]
        m["manifest.jobs_per_commit"] = _mean([o["spark"]["jobs"] for o in commits])
    for o in (o for o in ops if o["name"] == "query"):
        for k in kids.get(o["id"], []):  # query.build, query.exec
            part = k["name"].split(".")[1]
            m[f"query.{o['query']}.{part}_s"] = dur(k)
            m[f"query.{part}_s"] = m.get(f"query.{part}_s", 0.0) + dur(k)
        m[f"query.{o['query']}.jobs"] = o["spark"]["jobs"]
        m["query.jobs"] = m.get("query.jobs", 0) + o["spark"]["jobs"]
    m.update(rec["extras"])
    return m


def layer_metrics(per_pass: list[dict], units: dict, extra: dict) -> dict:
    """Every per-layer metric: the median over traced passes, or 0 for
    a layer the workload leaves idle."""
    out = {}
    for name, unit in units.items():
        value = extra[name] if name in extra else _median(
            [m[name] for m in per_pass if name in m])
        out[name] = {"value": value, "unit": unit}
    return out


def run_pass(wl, spark, work: str, index: int, tracer=None) -> tuple[dict, list[str]]:
    """One pass in a fresh scratch directory, removed afterwards.
    Returns the pass record and the problems its check found."""
    from perfbench.workloads import fresh_dir

    pass_dir = fresh_dir(os.path.join(work, f"pass-{index}"))
    rec = {"traced": tracer is not None}
    wl.tracer = tracer
    try:
        t0 = time.perf_counter()
        if tracer is None:
            rec["ops"] = wl.run_pass(spark, pass_dir)
        else:
            with tracer.span("pass", index=index) as span:
                rec["ops"] = wl.run_pass(spark, pass_dir)
            rec["span"] = span["id"]
        rec["wall"] = time.perf_counter() - t0
        if tracer is not None:
            rec["extras"] = wl.layer_extras(spark, pass_dir)
    finally:
        wl.tracer = None
    rec["rss_mb"] = peak_rss_mb()
    problems = wl.check(spark, pass_dir) if wl.check_every_pass else []
    shutil.rmtree(pass_dir)
    reset_peak_rss()
    log(f"pass {index} took {rec['wall']:.2f}s")
    return rec, problems


def run_query_phase(spark, work: str, seed: int, tracer) -> tuple[list, list, int, dict]:
    """The query_headline workload inside another workload's traced run:
    set up on its own seeded inputs, check the cold pass's outputs
    against the oracles, then run QUERY_PASSES traced passes.  Returns
    their per-layer figures (``query.*`` only), the problems found, the
    number of ops attempted and the inputs' (rows, bytes) per table."""
    from perfbench.workloads import QueryHeadline, fresh_dir

    qh = QueryHeadline(fresh_dir(os.path.join(work, "queries")), seed, QUERY_SCALE)
    qh.generate()
    qh.register(spark)
    attempted = qh.warm_up(spark, qh.work_dir)
    problems = qh.check(spark, qh.work_dir)
    log(f"query phase set up, {len(problems)} problems")
    per_pass = []
    for i in range(QUERY_PASSES):
        rec, bad = run_pass(qh, spark, qh.work_dir, f"q{i}", tracer)
        problems += bad
        attempted += len(rec["ops"])
        per_pass.append({k: v for k, v in pass_layer_metrics(tracer, rec).items()
                         if k.startswith("query.")})
    return per_pass, problems, attempted, qh.inputs


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 = the benchmark's size)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pypeline_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(pypeline_spark/ not found next to perfbench/)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, fresh_dir

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Scratch state, Spark's local dirs and every temp file stay inside
    # the checkout; executors import the package (and the benchmark's
    # transformer module) from it, whatever their working directory.
    work = fresh_dir(os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}"))
    tmp = fresh_dir(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": fresh_dir(os.path.join(work, "spark-local")),
        "SPARK_GRAFT_CPUS": str(cpus),
        # A fixed-size heap: with the package's default (8g, grown on
        # demand) the resident set differs by a third between runs.
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{HEAP} -Djava.io.tmpdir={tmp}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    os.chdir(work)
    load_start = os.getloadavg()

    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    wl.generate()
    log(f"generated {wl.input_rows} input rows")
    reset_peak_rss()

    t_setup = time.perf_counter()
    from pypeline_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    get_spark_s = time.perf_counter() - t_setup
    jvm = spark.sparkContext._jvm
    # Benign "Failed to update accumulator" errors from checkpoint blocks
    # the ContextCleaner reclaims between passes; bench.py does the same.
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    attempted = 0
    problems: list[str] = []
    passes: list[dict] = []
    query_per_pass, query_inputs = [], None
    try:
        t0 = time.perf_counter()
        wl.register(spark)
        register_s = time.perf_counter() - t0
        warm_dir = fresh_dir(os.path.join(work, "pass-warm"))
        attempted += wl.warm_up(spark, warm_dir)
        setup_s = time.perf_counter() - t_setup
        log(f"set up in {setup_s:.1f}s")
        rss = peak_rss_mb()
        problems += wl.check(spark, warm_dir)
        shutil.rmtree(warm_dir)
        reset_peak_rss()

        from perfbench.trace import Tracer

        # A traced run interleaves untraced and traced passes in ABBA
        # blocks, so the two run_s medians give the tracing overhead in
        # one process without the warm-up trend favouring either side.
        # Its first pass, still much slower than the next, only settles.
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
        query_phase = tracer is not None and wl.hosts_query_phase
        deadline = DEADLINE_S - (QUERY_PHASE_S if query_phase else 0)
        t_loop = time.perf_counter()
        while True:
            traced = tracer is not None and len(passes) % 4 in (2, 3)
            rec, bad = run_pass(wl, spark, work, len(passes), tracer if traced else None)
            passes.append(rec)
            attempted += len(rec["ops"])
            problems += bad
            done = time.perf_counter() - t_loop >= args.seconds and (
                len(passes) % 4 == 1 if args.trace else len(passes) >= MIN_PASSES)
            # On a stalled host, stop before another pass would end past
            # the deadline (once a traced run has a pass of each kind).
            late = time.perf_counter() - T_START + rec["wall"] > deadline
            if done or (late and (not args.trace or len(passes) >= 3)):
                break
        rss = max([rss] + [p["rss_mb"] for p in passes if not p["traced"]])
        if query_phase:
            query_per_pass, bad, n, query_inputs = run_query_phase(
                spark, work, args.seed, tracer)
            problems += bad
            attempted += n
    except Exception as exc:  # an op that raised: report it and fail
        traceback.print_exc()
        problems.append(f"{type(exc).__name__}: {exc}")
        rss = None
    finally:
        log("stopping Spark")
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        log("stopped")

    failed = len(problems)
    if rss is not None:
        timed = [p for p in passes if not p["traced"]][1 if args.trace else 0:]
        run_s = _median([p["wall"] for p in timed])
        ops = [s for p in timed for _k, s in p["ops"]]
        if args.trace:
            traced = [p for p in passes if p["traced"]]
            extra = {
                "session.get_spark_s": get_spark_s,
                "session.register_s": register_s,
                "trace.overhead_s": _median([p["wall"] for p in traced]) - run_s,
            }
            per_pass = [pass_layer_metrics(tracer, p) for p in traced] + query_per_pass
            metrics = layer_metrics(per_pass, per_layer_units(), extra)
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            tracer.write(span_file, {"workload": args.workload, "seed": args.seed})
        else:
            values = {
                "setup_s": setup_s,
                "run_s": run_s,
                "op_p50_s": _median(ops),
                "rows_per_s": wl.input_rows / run_s,
                "peak_rss_mb": rss,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
            span_file = None
    else:
        metrics, ops, span_file = {}, [], None

    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg(),
        "python": platform.python_version(),
        "spark": __import__("pyspark").__version__,
        "inputs": wl.inputs,
        "query_phase_inputs": query_inputs,
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "passes": len(passes),
        "op_samples": len(ops),
        "op_median_s": {
            kind: _median([t for p in passes if not p["traced"] for k, t in p["ops"] if k == kind])
            for kind in dict.fromkeys(k for p in passes for k, _t in p["ops"])
        },
        "pass_walls": [round(p["wall"], 4) for p in passes],
        "failed_frac": failed / max(1, attempted),
        "problems": problems,
        "span_file": span_file and os.path.relpath(span_file, ROOT),
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
