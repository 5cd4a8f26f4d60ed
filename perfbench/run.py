"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sales_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``perfbench/.work/``, starts Spark on
``local[<usable cpus>]`` and makes one untimed warm-up pass, then makes
passes back to back (closed loop, one caller): at least one, and no pass
that would, at the speed of the last, end after ``--seconds``. Every
pass's outputs are checked against answers computed outside Spark.

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run has the Spark event log on from
launch and alternates traced and untraced passes; traced passes span
every public call of the program, and ``trace.overhead_s`` is their
median wall time minus that of the untraced ones. Each run writes its samples, input sizes and, when
traced, its layer and call tables and all spans to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
#: pass order of a traced run: the traced pass comes first, at the place
#: an untraced run measures
TRACE_ORDER = (True, False)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str, ncpu: int, event_log: str | None = None) -> None:
    """Point every temporary location of Spark, the JVM and Python at the
    run's work directory, before anything launches."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    submit = ""
    if event_log:
        os.makedirs(event_log)
        submit = (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{event_log}"
                  " --conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false ")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": submit + "pyspark-shell",
        # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp


def start_session(get_spark, tune_session):
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tune_session(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import proc

    proc.become_subreaper()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work, t_process)
    finally:
        # on every way out: the JVM and its Python workers end before we do
        proc.stop_tree(os.getpid())
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, t_process: float) -> int:
    import gen
    import proc

    ncpu = len(os.sched_getaffinity(0))
    stat_cpus = sum(1 for line in open("/proc/stat") if line[:3] == "cpu" and line[3].isdigit())
    event_log = os.path.join(work, "eventlog") if args.trace else None
    prepare_env(work, ncpu, event_log)
    t_gen = time.perf_counter()
    manifest = gen.generate(args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t_gen
    inputs = {k: os.path.join(work, "inputs", k) for k in ("star", "changelog", "bpe")}

    # set-up: process start until the first timed pass can begin, less
    # input generation and the answers the benchmark prepares to check with
    from sales_etl_pipeline_spark.session import get_spark, tune_session

    spark, start_s, tune_s = start_session(get_spark, tune_session)
    import workloads
    from workloads import Ops, reset_state

    t_prep = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](spark, inputs, work)
    prep_s = time.perf_counter() - t_prep
    ops = Ops()
    meter = proc.PassMeter(os.getpid(), stat_cpus)

    def one_pass() -> dict:
        reset_state(spark)
        wl.reset()
        meter.start()
        t0, w0 = time.perf_counter(), time.time()
        wl.run_pass(ops)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "window": (w0, time.time()), **meter.stop(wall)}

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": ncpu, "inputs": manifest,
              "input_gen_s": gen_s, "session_start_s": start_s, "tune_s": tune_s,
              "answer_prep_s": prep_s, "failed_pass": None}
    samples, traced, tracer = [], [], None
    try:
        warmup = one_pass()
        report["warmup_s"] = warmup["wall_s"]
        report["setup_s"] = time.perf_counter() - t_process - gen_s - prep_s
        t_end = time.perf_counter() + args.seconds
        if args.trace:
            import spans

            tracer = spans.Tracer(args.workload)
            tracer.install()
            tracer.sc = spark.sparkContext
            ops.tracer = tracer
        while True:
            t_block = time.perf_counter()
            for on in (TRACE_ORDER if args.trace else (False,)):
                if tracer is not None:
                    tracer.enabled = on
                (traced if on else samples).append(one_pass())
            # stop before a block that would end after --seconds, so the
            # number of passes does not depend on small changes in speed
            if 2 * time.perf_counter() - t_block > t_end:
                break
        if tracer is not None:
            tracer.enabled = False
        wl.verify(ops)
    except Exception as exc:  # a failed operation: report it, print no metrics
        report["failed_pass"] = repr(exc)
        log(f"pass failed: {exc!r}")
    finally:
        spark.stop()

    med = statistics.median
    if samples:
        report["end_to_end"] = {"setup_s": report["setup_s"],
                                **{k: med(s[k] for s in samples) for k in ("wall_s", "cpu_s", "peak_rss_mb")}}
    if traced and report["failed_pass"] is None:
        report["layers"], report["calls"], report["spans"] = trace_tables(
            tracer, event_log, traced, ncpu)
        report["layers"].update({
            "session.start_s": start_s, "session.tune_s": tune_s, "session.warmup_s": report["warmup_s"],
            "trace.overhead_s": med(s["wall_s"] for s in traced) - med(s["wall_s"] for s in samples),
        })
    report.update(passes=samples, traced_passes=traced, attempted=ops.attempted,
                  failed=ops.failed, errors=ops.errors)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    summarize(report)

    if report["failed_pass"] is not None or not samples:
        return 1
    from layers import PER_LAYER

    values, wanted = (report["layers"], PER_LAYER) if args.trace else (report["end_to_end"], END_TO_END)
    metrics = {k: {"value": values[k], "unit": unit} for k, unit in wanted.items()}
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


def trace_tables(tracer, event_log: str, traced: list[dict], ncpu: int):
    """Per-layer metrics (median over the traced passes), the per-call
    table, and every span with its self time."""
    import layers
    import spans

    (log_file,) = [os.path.join(event_log, f) for f in os.listdir(event_log)]
    parsed = spans.parse_event_log(log_file)
    spans.attribute(tracer.spans, parsed["jobs"])
    per_pass = []
    for s in traced:
        lo, hi = s["window"]
        epochs = [e for e in parsed["epochs"] if lo <= e["start"] <= hi]
        per_pass.append(layers.pass_metrics(tracer.spans, parsed["jobs"], epochs, s["window"], s, ncpu))
    names = set(layers.PER_LAYER) | set(layers.DETAIL)
    table = {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in names}
    closed = layers.with_self_time(tracer.spans)
    return table, layers.call_table(closed, parsed["jobs"], [s["window"] for s in traced]), closed


def summarize(report: dict) -> None:
    e = report.get("end_to_end", {})
    log(f"[{report['workload']} seed={report['seed']}] passes={len(report['passes'])} "
        f"attempted={report['attempted']} failed={report['failed']} "
        + " ".join(f"{k}={v:.4f}" for k, v in e.items()))
    for p in report["passes"] + report["traced_passes"]:
        log(f"  pass wall={p['wall_s']:.3f}s cpu={p['cpu_s']:.2f}s rss={p['peak_rss_mb']:.0f}MB "
            f"steal={p['steal_share']:.3f}")
    for k in sorted(report.get("layers", {})):
        log(f"  {k} = {report['layers'][k]:.4f}")
    for err in report["errors"][:10]:
        log(f"  error: {err}")


if __name__ == "__main__":
    sys.exit(main())
