"""Benchmark entry point: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload webkg_fused --seed 3 --seconds 8 --trace 0

Run from the root of a checkout.  The run

1. generates (or reuses, from ``perfbench/.inputs``) the workload's input
   for ``--seed``; generation is outside every timed window;
2. sets up: starts a Spark session on ``local[min(4, nproc)]``, which
   launches a fresh JVM, and runs the engine warm-up pass
   (``workloads.warm_engine``); ``setup_s`` is the time of the two;
3. runs the workload's own untimed warm-up (``Workload.warmup``);
4. measures for ``--seconds``, and at least one operation: operations back
   to back, one at a time (a closed loop with one client), each from input
   files to a committed result;
5. checks every operation's output against the generator's expectation;
6. with ``--trace 1``, instead times one warm operation with spans around
   the calls into the program, then probes the layers; it reports the
   per-layer metrics, the process counters taken over that operation, and
   the tracing overhead: the spans recorded in the operation times the
   measured cost of one span, plus the wrappers' own bookkeeping;
7. stops Spark, waits for the JVM and its Python workers to exit, and prints
   the result as the last line of standard output:
   ``{"correct", "attempted", "failed", "metrics"}``.

The metric names and units come from ``BENCHMARK.json``.  Earlier lines of
standard output carry the run's details (input properties, per-operation
walls, check notes, steal %); the same details plus the traced run's spans
are written to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procstat
import workloads
from spans import Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
RUN_DEADLINE_S = 175  # the whole run, generation included; the limit is 180
OP_TIMEOUT_S = 90  # one operation; its Spark jobs are cancelled after this
EXIT_TIMEOUT_S = 30  # waiting for the JVM and Python workers to exit


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="webkg_fused")
    ap.add_argument("--seed", type=int, default=workloads.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each output before it is checked (smoke test)")
    return ap.parse_args(argv)


def _kill_tree() -> None:
    for pid in procstat.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _watchdog(seconds: float) -> threading.Timer:
    def abort():
        print(f"perfbench: run exceeded {RUN_DEADLINE_S}s, aborting", file=sys.stderr, flush=True)
        _kill_tree()
        os._exit(3)

    t = threading.Timer(seconds, abort)
    t.daemon = True
    t.start()
    return t


def _gc_ms(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def _failed_tasks(sc, group: str) -> int:
    """Failed jobs plus failed task attempts of a job group, from the public
    status tracker."""
    tracker, n = sc.statusTracker(), 0
    for jid in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(jid)
        if job is None:
            continue
        n += job.status == "FAILED"
        for sid in job.stageIds:
            st = tracker.getStageInfo(sid)
            n += st.numFailedTasks if st is not None else 0
    return n


def _run_op(spark, wl, out: str, i: int, tracer=None) -> dict:
    """One operation under its own job group, cancelled after OP_TIMEOUT_S."""
    sc = spark.sparkContext
    group = f"perfbench-op-{i}"
    sc.setJobGroup(group, f"{wl.name} op {i}", interruptOnCancel=True)
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
    timer.daemon = True
    rec = {"op": i, "out": out}
    t0 = time.perf_counter()
    timer.start()
    try:
        if tracer is None:
            wall, info = workloads.timed(lambda: wl.op(spark, out))
        else:
            with tracer.span("operation") as root:
                rec["op_span"] = root["id"]
                wall, info = wl.traced_op(spark, tracer, out)
        rec.update(wall_s=wall, **info)
    except Exception as e:  # an operation that raises is a counted failure
        rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
        rec["timed_out"] = time.perf_counter() - t0 >= OP_TIMEOUT_S
    finally:
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec["failed_tasks"] = _failed_tasks(sc, group)
    return rec


def _corrupt(wl, out: str) -> None:
    """Delete the largest file of the committed result."""
    files = [f for f in glob.glob(os.path.join(out, wl.result_glob), recursive=True) if os.path.isfile(f)]
    os.remove(max(files, key=os.path.getsize))


def _check(wl, rec: dict, corrupt: bool) -> None:
    if "error" in rec:
        rec["ok"] = False
        return
    if corrupt:
        _corrupt(wl, rec["out"])
    try:
        ok, rec["check"] = wl.check(rec["out"])
    except Exception as e:  # an output the check cannot read is wrong
        ok, rec["check"] = False, f"unreadable output: {type(e).__name__}: {e}"
    rec["ok"] = ok and rec["failed_tasks"] == 0


def _session(wl, cores: int):
    from seq2rel_ds_spark.session import get_spark

    return get_spark(
        app_name=f"perfbench-{wl.name}",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(wl.work, "warehouse"),
            # keep the JVM's temporary files inside the checkout too; commit
            # and touch the whole heap at launch, so the heap's share of the
            # RSS does not depend on when G1 grew the heap or its young
            # generation (otherwise a run's peak RSS moved by ~700 MB between
            # seeds of one workload)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                f" -Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
            ),
        },
    )


def _shutdown(spark) -> None:
    """Stop Spark, then end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = procstat.descendants(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=EXIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=EXIT_TIMEOUT_S)
    deadline = time.monotonic() + EXIT_TIMEOUT_S
    while time.monotonic() < deadline:
        if not any(procstat.alive(p) for p in pids):
            return
        time.sleep(0.1)
    _kill_tree()


def main(argv=None) -> int:
    args = _parse(argv)
    spec_path = os.path.join(REPO, "BENCHMARK.json")
    if not (os.path.isfile(spec_path) and os.path.isdir(os.path.join(REPO, "seq2rel_ds_spark"))):
        print(
            "perfbench: needs a checkout of the repository around it "
            "(BENCHMARK.json and seq2rel_ds_spark/ beside perfbench/)",
            file=sys.stderr,
        )
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    deadline = time.monotonic() + RUN_DEADLINE_S
    watchdog = _watchdog(RUN_DEADLINE_S)

    # Spark's Python workers import the program too: give them the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, REPO)

    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    wl = workloads.WORKLOADS[args.workload](BENCH_DIR, work, args.seed, args.size, deadline)
    gen_s, props = workloads.timed(wl.prepare)

    spark = None
    try:
        cold_s, spark = workloads.timed(lambda: _session(wl, cores))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        cold_warm_s, _ = workloads.timed(lambda: workloads.warm_engine(spark, os.path.join(work, "warm")))
        wl_warm_s, _ = workloads.timed(lambda: wl.warmup(spark))

        # a traced run times one warm operation with spans, in the place of
        # the untraced run's timed ones, and probes the layers after it
        tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}") if args.trace else None
        ops = []
        with procstat.RssSampler(os.getpid(), jvm_pid) as rss, procstat.Window(jvm_pid) as win:
            gc0 = _gc_ms(spark)
            end = time.perf_counter() + args.seconds
            while not tracer and (not ops or time.perf_counter() < end):
                ops.append(_run_op(spark, wl, os.path.join(work, f"op{len(ops)}"), len(ops)))
            if tracer:
                ops.append(_run_op(spark, wl, os.path.join(work, "traced"), 0, tracer))
            gc_ms = _gc_ms(spark) - gc0

        for rec in ops:
            _check(wl, rec, args.corrupt)
        good = [r for r in ops if r["ok"]]
        extra = wl.check_full(spark, good[-1]["out"]) if good else {}
        if any(v != 1.0 for v in extra.values()):
            good[-1]["ok"] = False
            good[-1]["check"] += f"; {extra}"
        layers = {}
        if tracer and ops[0]["ok"]:
            try:
                layers = wl.layers(spark, tracer, ops[0]["out"], ops[0])
                layers["trace.overhead_s"] = tracer.overhead_s(ops[0]["op_span"])
            except Exception as e:  # a probe that raises fails the operation
                ops[0]["ok"] = False
                ops[0]["check"] += f"; probe raised {type(e).__name__}: {str(e)[:500]}"
        walls = [r["wall_s"] for r in ops if "wall_s" in r]
        for rec in ops:
            shutil.rmtree(rec["out"], ignore_errors=True)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()

    # an operation that completed is timed even when its output is wrong:
    # the result then says correct=false and counts it as failed
    failed = sum(not r["ok"] for r in ops)
    if not walls:
        print(json.dumps({"workload": args.workload, "ops": ops}), file=sys.stderr)
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    wall = statistics.median(walls)
    values = {
        "docs_per_s": wl.docs / wall,
        "wall_s": wall,
        "setup_s": cold_s + cold_warm_s,
        "peak_rss_mb": rss.peak_mb,
    }
    if args.trace:
        values.update(
            {
                "jvm.gc_ms": gc_ms,
                "jvm.cpu_s": win.jvm_cpu_s,
                "python_workers.cpu_s": win.py_cpu_s,
                "cpu_util": (win.jvm_cpu_s + win.py_cpu_s) / (win.wall_s * cores),
                "session.get_spark_s": cold_s,
                "warmup_s": cold_warm_s,
                **layers,
            }
        )
        if "operators.mention.kernel_docs_per_s_1core" in layers:
            values["engine_efficiency"] = values["docs_per_s"] / (
                cores * layers["operators.mention.kernel_docs_per_s_1core"]
            )
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer this workload does not run did no work: it reports 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "cores": cores,
        "input": props,
        "input_gen_s": gen_s,
        "steal_pct": win.steal_pct,
        "peak_rss_parts_mb": rss.peak_parts,
        "window_s": win.wall_s,
        "session_cold_s": cold_s,
        "cold_warmup_s": cold_warm_s,
        "workload_warmup_s": wl_warm_s,
        "checks": extra,
        "ops": ops,
        "run_s": time.perf_counter() - t_start,
        "values": values,
    }
    os.makedirs(os.path.join(BENCH_DIR, ".out"), exist_ok=True)
    with open(
        os.path.join(BENCH_DIR, ".out", f"{args.workload}-s{args.seed}-trace{args.trace}.json"), "w"
    ) as fh:
        json.dump(
            {**detail, "spans": tracer.spans if tracer else [],
             "self_s": tracer.self_times() if tracer else {}},
            fh, indent=1, default=str,
        )
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
