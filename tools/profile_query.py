"""Listener-level job attribution for any bench query.

Usage: python tools/profile_query.py <query_name> [passes]

Runs the query warm + N timed noop-sink passes in a session with the
Spark event log enabled, then splits each pass's wall into per-job
in-flight time (submit -> end: scheduling + task exec) and inter-job
driver gaps (Python + Py4J + Catalyst + AQE think time). Handles the
Spark 4 rolling zstd event-log layout via the system `zstd` binary.
Measurement tool only — never touches declared-query code paths.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from exon_duckdb_spark.session import get_session  # noqa: E402


def parse_jobs(log_dir: str) -> "list[dict]":
    jobs: dict[int, dict] = {}
    for p in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        if p.endswith(".zstd"):
            out = p[:-5] + ".json"
            subprocess.run(["zstd", "-d", "-f", p, "-o", out], check=True,
                           capture_output=True)
            p = out
        with open(p) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "job_id": ev["Job ID"],
                        "sub": ev["Submission Time"],
                        "desc": props.get("spark.job.description", ""),
                        "n_stages": len(ev.get("Stage Infos", [])),
                        "ntasks": sum(
                            s.get("Number of Tasks", 0)
                            for s in ev.get("Stage Infos", [])
                        ),
                    }
                elif k == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    return [jobs[j] for j in sorted(jobs)]


def main() -> None:
    name = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_BENCH_CACHE", "1")
    log_dir = tempfile.mkdtemp(prefix=f"profile_{name}_")
    spark = get_session(
        app_name=f"profile_{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
        },
    )
    sc = spark.sparkContext
    fn = getattr(entrymod, name, None) or entrymod.queries()[name]
    sc.setJobDescription(f"{name} warm")
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    walls = []
    for i in range(passes):
        sc.setJobDescription(f"{name} timed pass {i}")
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        walls.append(time.time() - t0)
        print(f"{name} pass {i}: {walls[-1]:.3f}s", flush=True)
    sc.setJobDescription(None)
    spark.stop()

    jobs = parse_jobs(log_dir)
    for i in range(passes):
        tag = f"timed pass {i}"
        sel = [j for j in jobs if tag in j.get("desc", "") and "end" in j]
        if not sel:
            continue
        prev = None
        tif = tg = 0.0
        lines = []
        for j in sel:
            dt = (j["end"] - j["sub"]) / 1000
            gap = (j["sub"] - prev) / 1000 if prev else 0.0
            prev = j["end"]
            tif += dt
            tg += max(gap, 0.0)
            lines.append(
                f"  job {j['job_id']:4d} inflight {dt:6.3f}s "
                f"gap-before {gap:6.3f}s stages={j['n_stages']} "
                f"tasks={j['ntasks']}"
            )
        span = (sel[-1]["end"] - sel[0]["sub"]) / 1000
        print(
            f"\n== {name} {tag}: wall {walls[i]:.3f}s, {len(sel)} jobs, "
            f"inflight {tif:.3f}s, gaps {tg:.3f}s, span {span:.3f}s =="
        )
        print("\n".join(lines))
    print(f"\nevent log kept at {log_dir}")


if __name__ == "__main__":
    main()
