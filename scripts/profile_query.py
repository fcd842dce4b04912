"""Per-stage wall/metric attribution for named queries.

Runs each query with the bench's run rule (warm-up, then 2 runs of
``bench.cold_run``: pins dropped before each run, construction + count()
timed) in a session with the event log enabled,
then parses the log into a per-query, per-stage table:

  stage wall (completion - submission), task count, executorRunTime sum,
  shuffle read/write bytes, input bytes, and the job description active
  when the stage ran.

Usage: python scripts/profile_query.py q1 [q2 ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from m12_kafkastreams_python_azure_spark.session import get_spark  # noqa: E402
from perfbench.stats import read_event_log  # noqa: E402

EVDIR = "/tmp/spark-events-profile"


def run(names: list[str]) -> None:
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        app_name="profile-query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVDIR}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    # bench-standard warm-up
    queries["hotels_count"](spark, bench.SF_DIR).count()
    spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()

    walls: dict[str, list[float]] = {}
    for name in names:
        for run_i in range(2):
            spark.sparkContext.setJobDescription(f"Q:{name}:run{run_i}")
            walls.setdefault(name, []).append(
                bench.cold_run(spark, queries[name], bench.SF_DIR)
            )
            spark.sparkContext.setJobDescription(None)
    spark.stop()

    # ---- parse the event log ----
    job_desc: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = {}

    events = read_event_log(EVDIR)
    if not events:
        raise SystemExit(f"no event log under {EVDIR}")
    for ev in events:
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_desc[jid] = ev.get("Properties", {}).get(
                "spark.job.description", ""
            )
            job_stages[jid] = [s["Stage ID"] for s in ev["Stage Infos"]]
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            scopes = []
            for rdd in si.get("RDD Info", []):
                sc = rdd.get("Scope")
                if sc:
                    try:
                        nm = json.loads(sc).get("name", "")
                    except ValueError:
                        nm = ""
                    if nm and nm not in scopes:
                        scopes.append(nm)
            stages[sid] = {
                "name": " | ".join(scopes[:8]) or si["Stage Name"].split("\n")[0][:60],
                "wall_ms": (comp - sub) if sub and comp else None,
                "n_tasks": si["Number of Tasks"],
            }
        elif t == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            agg = stage_tasks.setdefault(
                sid,
                {"run_ms": 0, "sh_read": 0, "sh_write": 0, "input": 0,
                 "gc_ms": 0},
            )
            agg["run_ms"] += m.get("Executor Run Time", 0)
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            agg["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            agg["sh_write"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            agg["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)

    # group stage rows under their query (run1 only — run0 pays cold costs)
    by_query: dict[str, list] = {}
    for jid, desc in sorted(job_desc.items()):
        if not desc.startswith("Q:"):
            continue
        _, qname, runtag = desc.split(":", 2)
        for sid in sorted(job_stages.get(jid, [])):
            if sid not in stages:  # skipped stage (reused exchange)
                continue
            s = stages[sid]
            tm = stage_tasks.get(sid, {})
            by_query.setdefault(f"{qname}:{runtag}", []).append(
                {
                    "sid": sid,
                    "job": jid,
                    **s,
                    "run_ms": tm.get("run_ms"),
                    "gc_ms": tm.get("gc_ms"),
                    "sh_read_mb": round(tm.get("sh_read", 0) / 1e6, 2),
                    "sh_write_mb": round(tm.get("sh_write", 0) / 1e6, 2),
                    "input_mb": round(tm.get("input", 0) / 1e6, 2),
                }
            )

    for name in names:
        print(f"\n=== {name}  walls: "
              f"{[round(w, 3) for w in walls.get(name, [])]}")
        for runtag in ("run1",):
            rows = by_query.get(f"{name}:{runtag}", [])
            tot = sum(r["wall_ms"] or 0 for r in rows)
            print(f"-- {runtag}: {len(rows)} stages, sum stage wall "
                  f"{tot / 1000:.3f}s (overlap possible)")
            for r in rows:
                print(
                    f"  s{r['sid']:>4} j{r['job']:>3} wall{(r['wall_ms'] or 0)/1000:7.3f}s "
                    f"run{(r['run_ms'] or 0)/1000:8.2f}s gc{(r['gc_ms'] or 0)/1000:6.2f}s "
                    f"tasks{r['n_tasks']:>4} in{r['input_mb']:>8.1f}M "
                    f"shR{r['sh_read_mb']:>7.2f}M shW{r['sh_write_mb']:>7.2f}M  {r['name']}"
                )


if __name__ == "__main__":
    run(sys.argv[1:] or ["embedding_near_dup_lsh"])
