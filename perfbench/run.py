#!/usr/bin/env python3
"""Engine benchmark: one workload per invocation, checked outputs, one JSON
result line.

    python3 perfbench/run.py --workload wordcount_zip --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload in turn

Run it from the repository root.  The parent process generates the seeded
inputs and their oracle answers, then starts the measured process (a fresh
interpreter, so ``setup_s`` covers imports, ``registry.load_all``,
``get_spark`` and the warm-up pass) with a pinned environment and fresh
Spark local, warehouse, temp and staging directories under ``.perfbench/``.
It reaps every process the run started before it exits.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
workload untraced and then traced (Spark event log, one job group per
operation, streaming listener, spans) on the same inputs, prints the
per-layer metrics and the tracing overhead (traced minus untraced median
latency), and writes the spans to ``.perfbench/out/<workload>-spans.jsonl``.

``--seconds`` sets a fixed number of operations that take about that long
on 4 cores; the sample size, and with it the tail percentile, is the same on
every run.  Inputs are small so that one untraced run, set-up included,
takes under a minute on 4 cores: an 8 MB corpus and TPC-H scale 0.01.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "distributed_mapreduce_in_docker_rpyc_spark"
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "4g"
# The measured runs of one workload (two when traced) end within this
# many seconds.
RUN_TIMEOUT_S = 170
for _p in (HERE, ROOT):
    if _p not in sys.path:
        sys.path.insert(0, _p)
for _need in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tests", "oracle.py")):
    if not os.path.isfile(os.path.join(ROOT, _need)):
        sys.exit(f"perfbench: {_need} not found under {ROOT}; run from the repository root")

from measure import median, summarize  # noqa: E402
from tracing import Tracer, peak_rss_mb, read_event_log, stream_listener  # noqa: E402
from workloads import WORKLOADS, Ctx, QueryWorkload  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "input_mb_per_s": "MB/s",
}
ALL_QUERIES = sorted({q for w in WORKLOADS.values() if isinstance(w, QueryWorkload) for q in w.queries})
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "session.peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.build_share": "ratio",
    "operators.build_jobs": "count",
    **{f"query.{q}_s": "s" for q in ALL_QUERIES},
    "sources.ingest_s": "s",
    "sources.ingest_mb_per_s": "MB/s",
    "sources.input_mb": "MB",
    "sources.scan_ratio": "ratio",
    "wordcount.top_k_df_s": "s",
    "core.mapreduce_s": "s",
    "wordcount.json_sink_s": "s",
    "spark.exec_s": "s",
    "spark.task_run_s": "s",
    "spark.slot_busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.scheduler_delay_s": "s",
    "spark.python_mb_sent": "MB",
    "spark.python_mb_received": "MB",
    "spark.failed_tasks": "count",
    "shared.frames_built": "count",
    "shared.cached_mb": "MB",
    "streaming.batches_per_op": "count",
    "streaming.trigger_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "failed_op_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


# --------------------------------------------------------------------------
# measured process
# --------------------------------------------------------------------------


def _covering(ops, t: float):
    """The operation running at ``t`` (operations run one at a time)."""
    return next((op for op in ops if op.start <= t <= op.end), None)


def attribute_jobs(jobs, ops) -> dict[str, list]:
    """Jobs per operation: by the operation's job group, else (streaming
    micro-batch jobs run under their query's own group) by the operation
    running when the job was submitted."""
    by_group = {f"pb:{op.op_id}": op for op in ops}
    out: dict[str, list] = {op.op_id: [] for op in ops}
    for job in jobs:
        if job.group in by_group:
            out[by_group[job.group].op_id].append(job)
        elif not (job.group or "").startswith("pb:"):
            op = _covering(ops, job.submit)
            if op is not None:
                out[op.op_id].append(job)
    return out


def _union_s(intervals) -> float:
    total, cursor = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, cursor)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


def layer_metrics(ctx, ops, tracer: Tracer, jobs, batches, cores: int,
                  peak_mb: float, frames: int, cached_mb: float) -> dict[str, float]:
    """Every per-layer metric; a layer this workload never calls reads 0."""
    m = {k: 0.0 for k in LAYER_UNITS}
    n = len(ops)
    med = lambda name: median(tracer.durations(name))  # noqa: E731
    m["session.get_spark_s"] = med("session.get_spark")
    m["registry.load_all_s"] = med("registry.load_all")
    m["session.peak_rss_mb"] = peak_mb
    m["shared.frames_built"] = frames
    m["shared.cached_mb"] = cached_mb
    m["failed_op_ratio"] = sum(1 for op in ops if op.error) / n

    for q in {op.name for op in ops}:
        if f"query.{q}_s" in m:
            m[f"query.{q}_s"] = median([op.latency for op in ops if op.name == q])
    m["sources.ingest_s"] = med("sources.ingest")
    if m["sources.ingest_s"]:
        m["sources.ingest_mb_per_s"] = ctx.oracle["text_bytes"] / 1e6 / m["sources.ingest_s"]
    m["wordcount.top_k_df_s"] = med("wordcount.top_k_df")
    m["core.mapreduce_s"] = med("core.mapreduce")
    m["wordcount.json_sink_s"] = med("wordcount.json_sink")

    per_op = attribute_jobs(jobs, ops)
    op_jobs = [j for js in per_op.values() for j in js]
    builds = {s.op: s for s in tracer.spans if s.name == "operators.build"}
    timed_builds = [s for op_id, s in builds.items() if op_id in per_op]
    if timed_builds:
        m["operators.build_s"] = median([s.end - s.start for s in timed_builds])
        m["operators.build_share"] = (
            sum(s.end - s.start for s in timed_builds) / sum(op.latency for op in ops)
        )
        m["operators.build_jobs"] = sum(
            1 for s in timed_builds for j in per_op[s.op] if s.start <= j.submit <= s.end
        ) / len(timed_builds)

    total = lambda attr: sum(getattr(j, attr) for j in op_jobs)  # noqa: E731
    m["spark.exec_s"] = median([_union_s((j.submit, j.end) for j in js) for js in per_op.values()])
    m["spark.task_run_s"] = total("run_s") / n
    span = max(op.end for op in ops) - min(op.start for op in ops)
    m["spark.slot_busy_ratio"] = total("run_s") / (span * cores)
    m["spark.shuffle_write_mb"] = total("shuffle_write") / 1e6 / n
    m["spark.shuffle_read_mb"] = total("shuffle_read") / 1e6 / n
    m["spark.spill_mb"] = total("spill") / 1e6 / n
    m["spark.gc_s"] = total("gc_s") / n
    m["spark.jobs_per_op"] = len(op_jobs) / n
    m["spark.stages_per_op"] = sum(len(j.stages) for j in op_jobs) / n
    m["spark.tasks_per_op"] = total("tasks") / n
    m["spark.scheduler_delay_s"] = total("scheduler_delay_s") / n
    m["spark.python_mb_sent"] = total("py_sent") / 1e6 / n
    m["spark.python_mb_received"] = total("py_received") / 1e6 / n
    m["spark.failed_tasks"] = total("failed_tasks")
    m["sources.input_mb"] = total("input_read") / 1e6 / n
    m["sources.scan_ratio"] = total("input_read") / max(1, sum(op.input_bytes for op in ops))

    per_stream_op: dict[str, list[dict]] = {}
    for ts, durations in batches:
        op = _covering(ops, ts)
        if op is not None:
            per_stream_op.setdefault(op.op_id, []).append(durations)
    if per_stream_op:
        k = len(per_stream_op)
        all_batches = [d for ds in per_stream_op.values() for d in ds]
        phase = lambda key: sum(d.get(key, 0) for d in all_batches) / 1000.0 / k  # noqa: E731
        m["streaming.batches_per_op"] = len(all_batches) / k
        m["streaming.trigger_s"] = phase("triggerExecution")
        m["streaming.query_planning_s"] = phase("queryPlanning")
        m["streaming.wal_commit_s"] = phase("walCommit")
    return m


def run_child(args) -> int:
    tracer = Tracer(bool(args.trace))
    with tracer.span("setup"):
        with tracer.span("imports"):
            from distributed_mapreduce_in_docker_rpyc_spark import registry
            from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared_frame_count
            from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark
        with tracer.span("registry.load_all"):
            registry.load_all()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        listener = None
        if args.trace:
            listener = stream_listener()
            spark.streams.addListener(listener)
        wl = WORKLOADS[args.workload]
        ctx = Ctx(spark, tracer, args.data, args.run_dir, args.seed, bool(args.trace))
        wl.warmup(ctx)
    first_op = time.time()
    ops, wall = wl.run(ctx, args.seconds)
    summary = summarize(ops, wall)
    summary["setup_s"] = first_op - args.spawned_at
    summary["check_s"] = ctx.check_s
    summary["latencies"] = [op.latency for op in sorted(ops, key=lambda op: op.start)]
    summary["warmup_errors"] = ctx.warmup_errors
    summary["per_query"] = {
        q: {"n": sum(1 for op in ops if op.name == q),
            "p50_s": median([op.latency for op in ops if op.name == q])}
        for q in sorted({op.name for op in ops})
    }
    if args.trace:
        cores = spark.sparkContext.defaultParallelism
        peak = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
        frames = shared_frame_count(spark)
        cached = sum(
            (info.memSize() + info.diskSize()) for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ) / 1e6
        spark.stop()
        jobs = read_event_log(os.path.join(args.run_dir, "eventlog"))
        summary["layers"] = layer_metrics(ctx, ops, tracer, jobs, listener.batches, cores,
                                          peak, frames, cached)
        tracer.dump(os.path.join(args.run_dir, "spans.jsonl"))
    else:
        spark.stop()
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(summary, f)
    return 0


# --------------------------------------------------------------------------
# parent: inputs, pinned environment, process lifetime, report
# --------------------------------------------------------------------------


def pinned_env(run_dir: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    for key in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MAX_PARTITION_BYTES"):
        env.pop(key, None)
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # -XX:-UsePerfData keeps both JVMs (spark-submit's launcher and the
    # driver) from writing /tmp/hsperfdata_*: a run writes only under its
    # checkout.
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"]
    if trace:
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{dirs['eventlog']}",
                  "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_EXTRA_CONFS=";".join(confs),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        TMPDIR=dirs["tmp"],
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the package (pandas UDFs, streaming state).
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    return env


def _descendants() -> list[int]:
    """Direct children of this process (orphans re-parent here: we are a
    child subreaper)."""
    me, out = os.getpid(), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(pid))
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
    return out


def reap(grace_s: float = 20.0) -> None:
    """Wait for every process this run started; kill what outlives the
    grace period."""
    deadline = time.time() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for p in _descendants():
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def measure(args, data_dir: str, trace: bool, deadline: float) -> dict:
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        cmd = [sys.executable, os.path.abspath(__file__), "--child", "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(int(trace)),
               "--data", data_dir, "--run-dir", run_dir]
        spawned = time.time()
        proc = subprocess.Popen(cmd + ["--spawned-at", repr(spawned)], cwd=ROOT,
                                env=pinned_env(run_dir, trace), start_new_session=True)
        try:
            code = proc.wait(max(1.0, deadline - time.time()))
        except BaseException as e:  # timeout, SIGTERM, Ctrl-C: stop the run
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError(f"{args.workload}: run exceeded {RUN_TIMEOUT_S} s") from None
            raise
        finally:
            reap()
        if code != 0:
            raise RuntimeError(f"{args.workload}: measured run exited with code {code}")
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        if trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(WORK, "out", f"{args.workload}-spans.jsonl"))
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(result: dict) -> dict[str, tuple[float, str]]:
    return {k: (result[k], unit) for k, unit in E2E_UNITS.items()}


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def report(name: str, inputs: dict, r: dict) -> None:
    print(f"== {name}: 1 closed-loop client, {r['ops']} ops")
    print(f"   env: SPARK_GRAFT_CPUS={len(os.sched_getaffinity(0))} SPARK_GRAFT_DRIVER_MEM={DRIVER_MEM}")
    print("   inputs: " + json.dumps(inputs, sort_keys=True))
    print(f"   setup_s={_fmt(r['setup_s'])} s (n=1; imports, load_all, get_spark, checked warm-up pass)")
    print(f"   output checks: {_fmt(r['check_s'])} s in total, outside operation latencies")
    print(f"   op_p50_s={_fmt(r['op_p50_s'])} s (n={r['ops']})")
    print(f"   op_tail_s={_fmt(r['op_tail_s'])} s at p{r['op_tail_pct']:.1f} (n={r['ops']})")
    print(f"   ops_per_s={_fmt(r['ops_per_s'])} 1/s (n={r['ops']} in {_fmt(r['wall_s'])} s)")
    print(f"   input_mb_per_s={_fmt(r['input_mb_per_s'])} MB/s (n={r['ops']})")
    print(f"   failed_op_ratio={r['failed_op_ratio']:.4f} ({r['failed']}/{r['ops']})")
    print("   latencies_s: " + " ".join(_fmt(x) for x in r["latencies"]))
    for q, s in r["per_query"].items():
        print(f"   query {q}: n={s['n']} p50={_fmt(s['p50_s'])} s")
    for line in r["warmup_errors"] + r["errors"]:
        print(f"   FAILED {line}")


def run_workload(args) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    deadline = time.time() + RUN_TIMEOUT_S
    data_dir = tempfile.mkdtemp(prefix=f"data-{wl.name}-", dir=WORK)
    try:
        inputs = wl.generate(data_dir, args.seed)
        base = measure(args, data_dir, trace=False, deadline=deadline)
        if not args.trace:
            report(wl.name, inputs, base)
            return base, end_to_end(base)

        # The overhead baseline is the untraced run just made, on the same
        # seed and inputs.
        result = measure(args, data_dir, trace=True, deadline=deadline)
        report(wl.name, inputs, result)
        layers = result["layers"]
        layers["trace.overhead_s"] = result["op_p50_s"] - base["op_p50_s"]
        layers["trace.overhead_ratio"] = layers["trace.overhead_s"] / base["op_p50_s"]
        print(f"   tracing overhead: op_p50_s {_fmt(result['op_p50_s'])} s traced vs "
              f"{_fmt(base['op_p50_s'])} s untraced: "
              f"{_fmt(layers['trace.overhead_s'])} s ({100 * layers['trace.overhead_ratio']:.1f}%)")
        for k, v in layers.items():
            print(f"   {k}={_fmt(v)} {LAYER_UNITS[k]}")
        return result, {k: (layers[k], unit) for k, unit in LAYER_UNITS.items()}
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--data", help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    ap.add_argument("--spawned-at", type=float, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.child:
        return run_child(args)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # Orphaned grandchildren (the Spark JVM, Python workers) re-parent to
    # this process so reap() can wait for them.
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    attempted = failed = 0
    correct = True
    metrics = {}
    for name in names:
        result, ms = run_workload(argparse.Namespace(**{**vars(args), "workload": name}))
        attempted += result["ops"]
        failed += result["failed"]
        correct = correct and result["failed"] == 0 and not result["warmup_errors"]
        prefix = f"{name}." if len(names) > 1 else ""
        metrics.update({prefix + k: {"value": v, "unit": u} for k, (v, u) in ms.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
