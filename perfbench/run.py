#!/usr/bin/env python3
"""jpspark benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload {geo,curate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The client submits the workload's job (its
op sequence) back to back for ``--seconds`` against
``get_spark(master=f"local[{nproc}]")``; each op's output is checked
against a closed-form expectation. ``--trace 0`` measures with Spark's
event log off and prints the end-to-end metrics; ``--trace 1`` turns the
event log on, wraps every call into jpspark in a span, materializes each
call's output, and prints the per-layer metrics. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
lines above it print the same run by the workload's own metric names,
and the full record goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import os
import sys
import time

T_SCRIPT = time.perf_counter()


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_SCRIPT = _process_age_s()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
RUN_DIR = os.path.join(OUT, f"run-{os.getpid()}")
TMP_DIR = os.path.join(RUN_DIR, "tmp")
# Spark shuffle files, CC/SSSP spills and the gateway's temp files all
# stay inside the checkout (main makes the directory)
os.environ["TMPDIR"] = TMP_DIR
# the same str hashing in every Python worker of every run
os.environ["PYTHONHASHSEED"] = "0"
# Python workers import jpspark from the checkout whatever their cwd
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
sys.path.insert(0, ROOT)

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import jpspark  # noqa: E402,F401  (fails fast outside a checkout)
from pyspark.sql import functions as F  # noqa: E402

from harness import RssSampler, Tally, Tracer, _tree_pids, median, run_job, tail_percentile, tree_cpu_s  # noqa: E402
from layers import per_layer_metrics  # noqa: E402
from workloads import WORKLOADS, make_workload  # noqa: E402

SETUP_REPS = 3
# bench.py's pure-JVM canary (no engine code) at a tenth of its rows:
# a slow reading marks a host-steal window; it is recorded, never gated on
CANARY_ROWS = 200_000_000
MAX_RUN_S = 170.0  # the whole process must end within 180 s


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(trace: bool, app: str):
    from jpspark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when G1 chose to grow the heap, so peak_rss_mb moves
        # with off-heap and Python-worker memory (heap pressure shows as
        # gc_s in the traced run). The JIT's compiler threads all start with
        # the JVM and stay: with the default, the JVM starts and stops them
        # as its compile queue grows and shrinks, and curate's job_cpu_s
        # (Spark generates and compiles new code in every job) spread 0.19
        # of its median over five runs, against 0.06 over ten with them fixed
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={TMP_DIR} -Xms2g -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        logs = os.path.join(RUN_DIR, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{logs}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app, master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def canary_s(spark) -> float:
    t0 = time.perf_counter()
    spark.range(CANARY_ROWS).select(F.sum(F.col("id") % 7)).collect()
    return time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop Spark and the gateway JVM, then wait for every child process
    (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(_tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    trace = args.trace == 1
    tally = Tally()
    with RssSampler() as rss:
        spark = start_session(trace, f"perfbench-{args.workload}")
        launch_s = AGE_AT_SCRIPT + time.perf_counter() - T_SCRIPT
        # input set-up repeated: each repetition drops, then rebuilds,
        # writes and caches every input; setup_s counts the median one
        reps, wl = [], None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if wl is not None:
                wl.drop_inputs()
            wl = make_workload(args.workload, spark, RUN_DIR, args.seed, cores())
            wl.make_inputs()
            reps.append(time.perf_counter() - t0)
        off = Tracer()
        t0 = time.perf_counter()
        run_job(wl.ops(), off, tally)
        warmup_s = time.perf_counter() - t0
        setup_s = launch_s + median(reps) + warmup_s

        canary_before = canary_s(spark)
        tracer = Tracer(spark, enabled=trace)
        ops = wl.ops()
        jobs: list[tuple[float, dict]] = []
        job_cpu_s: list[float] = []
        t_end = time.perf_counter() + args.seconds
        t_stop = T_SCRIPT + MAX_RUN_S - 15
        while True:
            cpu0 = tree_cpu_s(os.getpid())
            jobs.append(run_job(ops, tracer, tally))
            job_cpu_s.append(tree_cpu_s(os.getpid()) - cpu0)
            now = time.perf_counter()
            if now >= t_end or now + jobs[-1][0] >= t_stop:
                break
        canary_after = canary_s(spark)
        counts = wl.counts()
        app_id = spark.sparkContext.applicationId
        n_cores = cores()
        wl.drop_inputs()
        stop_jvm(spark)

    job_s = [j for j, _ in jobs]
    p50 = median(job_s)
    tail, tail_pct, beyond = tail_percentile(job_s)
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": n_cores,
        "input_rows": wl.input_rows,
        "input_size": wl.input_size(),
        "jobs": len(jobs),
        "job_s": job_s,
        "job_cpu_s": job_cpu_s,
        "op_s": [o for _, o in jobs],
        "tail_percentile": tail_pct,
        "tail_samples_beyond": beyond,
        "setup": {"launch_s": launch_s, "reps_s": reps, "warmup_s": warmup_s},
        "host.canary_s": {"before": canary_before, "after": canary_after},
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
    }
    # the JSON line carries a job's cost in CPU seconds, not its wall
    # time: the jobs keep every core busy, so on a shared host their wall
    # time moves with the neighbours' load (over ten runs its quartile
    # spread reached 0.48 of the median), while CPU time counts only the
    # work of this process tree
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_cpu_s.p50": (median(job_cpu_s), "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    rec["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    # wall times and the workload's own op timings: printed and recorded,
    # not in the JSON line (their run-to-run spread is wider than a usable
    # bound)
    named = {
        "job_s.p50": (p50, "s"),
        "job_s.tail": (tail, "s"),
        "rows_per_s": (wl.input_rows / p50, "1/s"),
        "failed_ratio": (tally.failed / tally.attempted, "ratio"),
        **{metric: (median([o[op] for _, o in jobs]), "s") for metric, op in wl.op_metrics},
    }
    if "manifest.stored_bytes_ratio" in counts:
        named["stored_bytes_ratio"] = (counts["manifest.stored_bytes_ratio"], "ratio")
    rec["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    if trace:
        log = os.path.join(RUN_DIR, "eventlog", app_id)
        layer, detail = per_layer_metrics(tracer.spans, log, n_cores, counts, wl.archive_bytes, rec)
        rec["per_layer"] = layer
        rec["trace_detail"] = detail
        rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        rec["metrics"] = rec["end_to_end"]
    return rec


def report(rec: dict) -> None:
    print(f"workload={rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"cores={rec['cores']} jobs={rec['jobs']} input: {rec['input_size']}")
    print("closed loop, one client: each job starts when the previous one ends")
    for name, m in {**rec["end_to_end"], **rec["named"]}.items():
        note = ""
        if name == "job_s.tail":
            note = (f"  (p{rec['tail_percentile']:.1f} of {rec['jobs']} jobs, "
                    f"{rec['tail_samples_beyond']} at or beyond)")
        if name == "rows_per_s":
            note = f"  ({rec['input_rows']} input rows)"
        print(f"  {name:<20} {m['value']:.4f} {m['unit']}{note}")
    c = rec["host.canary_s"]
    print(f"  {'host.canary_s':<20} before {c['before']:.3f} s, after {c['after']:.3f} s")
    for err in rec["errors"][:5]:
        print("  failed op:", err.strip().replace("\n", "\n    "))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    os.makedirs(TMP_DIR, exist_ok=True)
    tempfile.tempdir = TMP_DIR
    try:
        rec = run(args)
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    path = os.path.join(OUT, f"{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, ensure_ascii=False, default=str)
    report(rec)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": rec["metrics"],
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
