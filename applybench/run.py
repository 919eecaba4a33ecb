"""CDC apply benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 applybench/run.py --workload stream_tail --seed 1 \
        --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. Detail (sample counts, set-up parts, environment record, errors)
is printed on the line before the result and written, with the spans of
a traced run, under ``applybench/.work/results/``. The exit code is 0 only
when every batch, lookup, scan and the final lake matched the oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
# fixed heap (-Xms = -Xmx): a heap the JVM grows and shrinks on its own
# makes resident memory wander from run to run
DRIVER_MEM = "1536m"
DEADLINE_S = 170


def fresh_workdir(workload: str) -> str:
    """A new, empty scratch directory for this process. Directories of
    runs whose process is gone are removed, so no lake, checkpoint or
    cursor outlives its run."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name.startswith("run-"):
            pid = int(name.rsplit("-", 1)[1])
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    work = os.path.join(WORK, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def task_slots() -> int:
    """Spark task slots: half the cores. A decode or fold task keeps a JVM
    thread and a Python worker busy at once, so one slot per core would
    run twice as many busy threads as there are cores, and batch times
    would measure the scheduler (and any neighbour on a shared host)."""
    return max(1, (os.cpu_count() or 2) // 2)


def give_up():
    """Watchdog: a run that overstays its deadline kills its process tree
    and exits without a result."""
    from applybench import hostenv

    print(f"applybench: no result within {DEADLINE_S} s", file=sys.stderr)
    for pid in hostenv.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "stream_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def spark_env(work: str):
    """Process environment for the Spark session: every scratch file of
    the JVM and its Python workers stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM spark-submit starts, its launcher included: no
        # hsperfdata or temp files outside the scratch directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Xms{DRIVER_MEM}' pyspark-shell"),
    })


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark):
    """Stop the session and wait for the JVM and its Python workers to
    exit; what is still alive after 10 s is killed."""
    from pyspark import SparkContext

    from applybench import hostenv

    started = hostenv.descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:  # ignored EOF on stdin
            proc.kill()
            proc.wait(timeout=10)
    # the workers leave on their own once the JVM is gone
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(map(_alive, started)):
        time.sleep(0.1)
    for pid in filter(_alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:  # it exited after the check
            pass


def end_to_end(run, setup_s, peak_rss) -> tuple:
    from applybench import pct

    calls = [c for c in run.calls if c.measured and not c.traced]
    # batch size and time: calls made while the load was being offered
    # (an open loop's final drain call is only the remainder)
    durs = [c.dur for c in calls if c.steady]
    events = [c.events for c in calls if c.steady]
    fresh = [c.end - d for c in calls if c.ok for d in c.due]
    # a failed batch's chunks, and those an aborted run never reached,
    # miss every latency limit
    fresh += [float("inf") for c in calls if not c.ok for _ in c.chunks]
    fresh += [float("inf")] * run.abandoned
    m = {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (sum(events) / sum(durs) if durs else 0.0,
                               "events/s"),
        "batch_p50_s": (statistics.median(durs) if durs else 0.0, "s"),
        "freshness_p50_s": (pct.percentile(fresh, 50) if fresh else 0.0,
                            "s"),
        "freshness_p90_s": (pct.percentile(fresh, 90) if fresh else 0.0,
                            "s"),
        "lookup_p50_s": (pct.percentile(run.lookups, 50)
                         if run.lookups else 0.0, "s"),
        "lookup_p90_s": (pct.percentile(run.lookups, 90)
                         if run.lookups else 0.0, "s"),
        "scan_p50_s": (statistics.median(run.scans) if run.scans else 0.0,
                       "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    samples = {"batches": len(durs), "freshness": len(fresh),
               "lookups": len(run.lookups), "scans": len(run.scans),
               "freshness_p90_reportable": pct.highest_reportable(
                   len(fresh)) is not None,
               "lookup_p90_reportable": pct.highest_reportable(
                   len(run.lookups)) is not None}
    return m, samples


def per_layer(run, setup, tracer, peak_rss) -> tuple:
    from applybench import hostenv, layers

    measured = [(i, c) for i, c in enumerate(run.calls) if c.measured]
    traced = [(i, c) for i, c in measured if c.traced]
    plain = [c for _, c in measured if not c.traced]
    m, self_times, notes = layers.metrics(tracer,
                                          [f"call{i}" for i, _ in traced])
    w = run.window
    events = sum(c.events for _, c in measured)
    window_s = w["t1"] - w["t0"]

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    m.update({
        "session.start_s": setup["start_s"],
        "session.cold_batch_s": setup.get("cold_batch_s", 0.0),
        # the program's own jobs: untraced calls run no counting jobs
        "pipeline.spark_jobs": med([c.counts["spark_jobs"] for c in plain]),
        "pipeline.spark_stages": med([c.counts["spark_stages"]
                                      for c in plain]),
        "pipeline.spark_tasks": med([c.counts["spark_tasks"]
                                     for c in plain]),
        "pipeline.tasks_failed": sum(c.counts["tasks_failed"]
                                     for _, c in measured if c.counts),
        "streaming.chunks_per_batch": med([len(c.chunks)
                                           for _, c in measured]),
        "streaming.backlog_max": max((c.backlog for _, c in measured),
                                     default=0),
        "streaming.window_s": window_s,
        "streaming.idle_share": w.get("idle_s", 0.0) / window_s,
        "lander.late_max_s": max(w.get("late") or [0.0]),
        "jvm.gc_s": w["gc1"] - w["gc0"],
        "proc.cpu_s": w["cpu1"] - w["cpu0"],
        "proc.events": events,
        "proc.cpu_s_per_kevent": ((w["cpu1"] - w["cpu0"]) / (events / 1000)
                                  if events else 0.0),
        "host.steal_s": (w["steal1"] - w["steal0"]) / hostenv.CLK_TCK,
        "proc.peak_rss_mb": peak_rss / 2**20,
    })
    m.update(run.layer)
    t_d = [c.dur for _, c in traced]
    u_d = [c.dur for c in plain]
    if t_d and u_d:
        t_ev = med([c.events for _, c in traced]) / med(t_d)
        u_ev = med([c.events for c in plain]) / med(u_d)
        m["trace.overhead_batch_s"] = med(t_d) - med(u_d)
        m["trace.overhead_events_per_s"] = t_ev - u_ev
    else:
        m["trace.overhead_batch_s"] = m["trace.overhead_events_per_s"] = 0.0
        notes["trace.overhead"] = "needs traced and untraced measured calls"
    if "late" not in w:
        notes["lander.late_max_s"] = "closed loop: no schedule to run late"
    return m, self_times, notes


def main(argv=None) -> int:
    args = parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "binlog_spark"))
            and os.path.isdir(os.path.join(ROOT, "applybench"))):
        print("applybench: run from a checkout of the repository "
              "(binlog_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[0] = ROOT
    from applybench import hostenv, inputs, spans, workloads

    watchdog = threading.Timer(DEADLINE_S, give_up)
    watchdog.daemon = True
    watchdog.start()
    work = fresh_workdir(args.workload)
    spark_env(work)
    spec = workloads.world_for(args.workload, args.seconds)
    t = time.perf_counter()
    in_dir, man = inputs.cached(spec, args.seed, CACHE)
    gen_s = time.perf_counter() - t

    env = {"before": hostenv.record(), "burn_before_s": hostenv.cpu_burn()}
    from binlog_spark.session import get_spark

    spark = None
    try:
        with hostenv.RssSampler() as rss:
            t_setup = time.perf_counter()
            spark = get_spark(cpus=task_slots())
            spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t_setup
            tracer = spans.Tracer() if args.trace else None
            run = workloads.Run(args.workload, args.seconds, spark, tracer,
                                in_dir, man, work, args.seed)
            if tracer is not None:
                from applybench import layers

                tracer.enabled = False
                ctx = tracer.patched(layers.patches(tracer))
            else:
                ctx = contextlib.nullcontext()
            with ctx:
                getattr(run, "run_" + run.cfg["kind"])()
            expect = run.oracle()
            t_read = time.perf_counter()
            run.read_phase(expect)
            t_check = time.perf_counter()
            run.check_final()
            phases = {"read_s": t_check - t_read,
                      "check_s": time.perf_counter() - t_check}
            setup = dict(run.setup, start_s=start_s)
            setup_s = start_s + setup["prep_s"] + setup.get("warm_s", 0.0)
            env["spark"] = hostenv.record(spark)
            if tracer is not None:
                result, self_times, notes = per_layer(run, setup, tracer,
                                                      rss.peak)
            else:
                m, samples = end_to_end(run, setup_s, rss.peak)
    finally:
        if spark is not None:
            stop_spark(spark)
    env.update(after=hostenv.record(), burn_after_s=hostenv.cpu_burn())

    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "input": {k: man[k] for k in ("n_txns", "n_changes",
                                            "base_rows", "final_rows",
                                            "n_files")},
              "input_gen_s": gen_s, "setup": setup, "phases_s": phases,
              "errors": run.errors[:20], "env": env,
              "host": {
                  "nproc": env["before"]["nproc"],
                  "jvm": env["spark"]["jvm"],
                  "pyspark": env["spark"]["pyspark"],
                  "master": env["spark"]["master"],
                  "loadavg": [env["before"]["loadavg"],
                              env["after"]["loadavg"]],
                  "steal_s": (env["after"]["steal_jiffies"]
                              - env["before"]["steal_jiffies"])
                  / hostenv.CLK_TCK,
                  "burn_s": [env["burn_before_s"], env["burn_after_s"]]}}
    if tracer is not None:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(result.items())}
        detail.update(self_times_s=self_times, notes=notes)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        detail["samples"] = samples
    detail["raw"] = {
        "calls": [{"dur": c.dur, "events": c.events, "chunks": len(c.chunks),
                   "measured": c.measured, "traced": c.traced, "ok": c.ok}
                  for c in run.calls],
        "lookups": run.lookups, "scans": run.scans,
        "memory_mb": rss.series}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(res_dir, stem + ".json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1,
                  default=str)
    if tracer is not None:
        with open(os.path.join(res_dir, stem + ".spans.json"), "w") as f:
            json.dump(tracer.rows(), f)
    shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    correct = run.failed == 0
    print(json.dumps({"detail": {k: detail[k] for k in detail
                                 if k not in ("env", "raw")}}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "events/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_share"):
        return "share"
    if name.endswith("per_kevent"):
        return "s/kevent"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
