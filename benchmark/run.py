"""End-to-end benchmark of kausaldb_spark: one workload per invocation.

    python3 benchmark/run.py --workload edit_sync --seed 1 --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; with ``--trace 0`` the metrics
are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the per-layer
ones. Lines before it give the box stamp and a readable table. Spark's own
output (JVM log, Python workers) goes to ``.bench_work/logs/``. The exit code
is 1 when any answer was wrong, and 2, with no result line, when the run
could not start or broke off.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(CHECKOUT, ".bench_work")

E2E_UNITS = {"setup_s": "s", "write_ms": "ms", "read_round_ms": "ms"}


def cpu_steal_s() -> float:
    with open("/proc/stat", encoding="utf-8") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def box_stamp(sc) -> dict:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark.master": sc.master,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
        "loadavg_start": os.getloadavg(),
    }


def run(args, real_out) -> int:
    from kausaldb_spark.session import get_spark

    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # the generated tree is no git work tree even when the checkout is one
    os.environ["GIT_CEILING_DIRECTORIES"] = workdir
    # keep Spark's, the JVM's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
         "-XX:-UsePerfData"]).strip()

    steal0 = cpu_steal_s()
    t_start = time.perf_counter()
    spark = get_spark("kausal-bench")  # the program's own defaults
    try:
        return measure(args, spark, workdir, t_start, steal0, real_out)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def measure(args, spark, workdir, t_start, steal0, real_out) -> int:
    import layers
    from spans import SpanTree, Tracer
    from workloads import WORKLOADS, timing_line

    session_s = time.perf_counter() - t_start
    box = box_stamp(spark.sparkContext)
    tracer = Tracer(spark.sparkContext)
    wl = WORKLOADS[args.workload](spark, workdir, args.seed, tracer)
    steps = []
    try:
        if args.trace:
            tracer.install()
        wl.setup()
        setup_s = time.perf_counter() - t_start
        t0 = time.perf_counter()
        while len(steps) < wl.STEPS or time.perf_counter() - t0 < args.seconds:
            tracer.enabled = bool(args.trace)
            steps.append(wl.step())
            tracer.enabled = False
            if args.trace:
                tracer.harvest()
        timed, extra_steps = steps[:wl.STEPS], steps[wl.STEPS:]
        samples = [s for st in timed for s in st.samples]
        extra = wl.layer_extra()
        if args.trace:
            extra["tracing_overhead_pct"] = wl.overhead_probe(tracer)
        lines = wl.table(samples)
    finally:
        wl.close()
        tracer.uninstall()

    # steps beyond the reported ones are checked but not timed
    checked = samples + [s for st in extra_steps for s in st.samples] + wl.untimed
    failed = sum(1 for s in checked if not s.ok)
    box.update({"loadavg_end": os.getloadavg(),
                "steal_s": round(cpu_steal_s() - steal0, 2),
                "workload": args.workload, "seed": args.seed, "trace": args.trace})
    writes = [st.write.ms for st in timed]
    rounds = [st.read_ms for st in timed]
    e2e = {"setup_s": setup_s, "write_ms": statistics.median(writes),
           "read_round_ms": statistics.median(rounds)}
    lines = ([f"{'setup_s':28s} {setup_s:10.2f} s  (session {session_s:.2f} s)"]
             + timing_line(f"write ({wl.WRITE})", writes)
             + timing_line("read round", rounds) + lines
             + [f"{'error_rate':28s} {failed / len(checked):10.4f}  ({failed}/{len(checked)})"])
    if args.trace:
        metrics = layers.layer_metrics(tracer.spans, tracer.counts, extra)
        tracer.dump(os.path.join(WORK, "logs", f"spans-{args.workload}-{args.seed}.jsonl"))
        for layer, ms in sorted(SpanTree(tracer.spans).self_by_layer().items()):
            lines.append(f"{'self_ms[' + layer + ']':28s} {ms:10.1f} ms")
        lines += [f"{k:36s} {metrics[k]:14.3f} {u}" for k, u in layers.METRICS.items()]
        out = {k: {"value": metrics[k], "unit": u} for k, u in layers.METRICS.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    print(json.dumps({"box": box}), file=real_out)
    for text in lines:
        print(text, file=real_out)
    print(json.dumps({"correct": failed == 0, "attempted": len(checked), "failed": failed,
                      "metrics": out}), file=real_out)
    real_out.flush()
    return 0 if failed == 0 else 1


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("edit_sync", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Spark's output (JVM log on stderr, worker prints) must never reach the
    # result stream: route fds 1 and 2 to a log and keep the originals
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    real_out = os.fdopen(os.dup(1), "w")
    real_err = os.fdopen(os.dup(2), "w")
    log = open(os.path.join(logs, f"{args.workload}-{args.seed}-{args.trace}.log"), "w")
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)
    sys.stdout = sys.stderr = log
    sys.path.insert(0, CHECKOUT)
    try:
        import kausaldb_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {CHECKOUT}: {exc}", file=real_err)
        return 2
    try:
        return run(args, real_out)
    except Exception:  # noqa: BLE001 - report and fail the run, no result line
        traceback.print_exc(file=real_err)
        traceback.print_exc(file=log)
        return 2
    finally:
        log.flush()


if __name__ == "__main__":
    sys.exit(main())
