"""Per-stage wall-clock breakdown for registered queries (guide §1: measure first).

Runs each named query through the noop sink ``reps`` times in a session with
the Spark event log enabled, then parses the log into per-query, per-stage
timings: stage duration, task count, cumulative task time, and the dominant
metric (executor compute vs shuffle read/write).  This is the UI's stage view
for a headless box.

Usage:
    python scripts/measure_stages.py [reps] [q1,q2,...]

Writes nothing into the repo; prints a table per query.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/sg-eventlog"


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    names = (
        sys.argv[2].split(",")
        if len(sys.argv) > 2
        else ["q1_pricing_summary", "sim_topk_lsh", "dedup_minhash_lsh", "sim_topk_bruteforce"]
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    prev = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(
        filter(
            None,
            [
                prev,
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir={EVDIR}",
            ],
        )
    )

    from distributed_mapreduce_in_docker_rpyc_spark import registry
    from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    registry.load_all()
    spark = get_spark("stage-measure")
    assert spark.conf.get("spark.eventLog.enabled", None) == "true"

    # warm-up: JIT + Python workers + a first parquet scan
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        .groupBy("r_name").count()
        .write.format("noop").mode("overwrite").save()
    )
    (
        spark.range(10_000)
        .repartition(int(cpus))
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    walls: dict[str, list[float]] = {}
    for name in names:
        fn = registry.QUERIES[name]
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"MEASURE::{name}::rep{rep}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.setdefault(name, []).append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log ----
    logf = None
    for cand in glob.glob(f"{EVDIR}/*"):
        if app_id in cand:
            logf = cand
    assert logf, f"no event log for {app_id} in {EVDIR}"
    if os.path.isdir(logf):  # Spark 4 event log v2: a dir of events_* files
        parts = sorted(glob.glob(f"{logf}/events_*"))
    else:
        parts = [logf]

    def lines():
        for p in parts:
            if p.endswith(".zstd"):
                import io

                import zstandard

                with open(p, "rb") as fh:
                    reader = zstandard.ZstdDecompressor().stream_reader(fh)
                    yield from io.TextIOWrapper(reader, encoding="utf-8")
            else:
                with open(p) as fh:
                    yield from fh

    jobs = {}  # job_id -> description
    job_times: dict[int, dict] = {}
    stage_to_job = {}
    stages = {}  # stage_id -> dict
    if True:
        for line in lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = desc
                job_times.setdefault(ev["Job ID"], {})["start"] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", []):
                    stage_to_job[sid] = ev["Job ID"]
            elif e == "SparkListenerJobEnd":
                job_times.setdefault(ev["Job ID"], {})["end"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(sid, {})
                st["name"] = si["Stage Name"].split("\n")[0][:70]
                st["tasks"] = si["Number of Tasks"]
                st["wall_ms"] = si.get("Completion Time", 0) - si.get("Submission Time", 0)
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
                st["deser_ms"] = st.get("deser_ms", 0) + m.get("Executor Deserialize Time", 0)
                st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                st["sh_read_b"] = (
                    st.get("sh_read_b", 0)
                    + srm.get("Local Bytes Read", 0)
                    + srm.get("Remote Bytes Read", 0)
                )
                st["fetch_ms"] = st.get("fetch_ms", 0) + srm.get("Fetch Wait Time", 0)
                swm = m.get("Shuffle Write Metrics") or {}
                st["sh_write_b"] = st.get("sh_write_b", 0) + swm.get("Shuffle Bytes Written", 0)

    # aggregate per (query, rep)
    per_q: dict[str, dict] = {}
    for sid, st in sorted(stages.items()):
        jid = stage_to_job.get(sid)
        desc = jobs.get(jid, "")
        if not desc.startswith("MEASURE::"):
            continue
        _, qname, rep = desc.split("::")
        q = per_q.setdefault(qname, {})
        r = q.setdefault(rep, [])
        r.append((sid, st))

    for qname in names:
        print(f"\n===== {qname}  walls={[round(w,3) for w in walls[qname]]}")
        q = per_q.get(qname, {})
        # print the LAST rep (steady state, persisted frames warm)
        last = sorted(q)[-1] if q else None
        if last is None:
            print("  (no stages recorded — fully cached/driver-side?)")
            continue
        for rep in sorted(q):
            tot = sum(st.get("wall_ms", 0) for _, st in q[rep])
            jids = sorted({stage_to_job[sid] for sid, _ in q[rep] if sid in stage_to_job})
            jspan = sum(
                max(0, job_times.get(j, {}).get("end", 0) - job_times.get(j, {}).get("start", 0))
                for j in jids
            )
            print(
                f"  rep {rep}: {len(q[rep])} stages, stage-wall sum {tot} ms,"
                f" {len(jids)} jobs spanning {jspan} ms (wall minus job span = driver/planning)"
            )
        print(f"  --- stages of rep {last}:")
        for sid, st in q[last]:
            print(
                f"  s{sid:4d} tasks={st.get('tasks', 0):3d} wall={st.get('wall_ms', 0):6d}ms"
                f" taskSum={st.get('task_ms', 0):6d}ms deser={st.get('deser_ms', 0):5d}ms"
                f" gc={st.get('gc_ms', 0):4d}ms shR={st.get('sh_read_b', 0):8d}B"
                f" shW={st.get('sh_write_b', 0):8d}B fetchWait={st.get('fetch_ms', 0):4d}ms"
                f"  {st.get('name', '')}"
            )


if __name__ == "__main__":
    main()
